"""Spark session lifecycle for the benchmark: start, warm-up, restart."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

from crawler_engine_spark.session import get_spark


def start(cores: int, app: str):
    """(session, seconds): a ``local[cores]`` session through the engine's
    own factory.  The first call in a process also launches the JVM."""
    t0 = time.perf_counter()
    spark = get_spark(app, master=f"local[{cores}]", shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def warm_up(spark, cores: int) -> None:
    """One JVM job and one Arrow/pandas stage over every core, so the first
    measured operation does not pay for forking the Python workers.  The UDF
    is built per call: a UDF object caches the SparkContext it first ran on."""
    identity = pandas_udf(lambda s: s, LongType())
    spark.range(0, 1000).selectExpr("sum(id)").collect()
    (spark.range(0, cores * 64).repartition(cores)
     .select(identity(F.col("id"))).write.format("noop").mode("overwrite").save())


def restart(spark, cores: int, app: str):
    spark.stop()
    return start(cores, app)


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def work_dir(root: str, name: str) -> str:
    path = os.path.join(root, ".perfbench", "work", f"{name}-{os.getpid()}")
    os.makedirs(path, exist_ok=True)
    return path
