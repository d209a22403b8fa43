"""Per-layer probes shared by every traced run.

Each probe runs one layer's public functions on the workload's own pages:

* kernel and DOM parse, in-process and single-threaded;
* WARC framing (``iter_response_pages``) over the workload's archive bytes;
* the extraction operator (``extract_pages``) at ``local[nproc]`` and at
  ``local[1]`` with the same pages per core, which gives the operator's
  per-core cost, its cost beyond the kernel (the pandas/Arrow boundary and
  job overhead) and its scaling efficiency.
"""

from __future__ import annotations

import os
import statistics
import time
from typing import Dict, List, Sequence, Tuple

from crawler_engine_spark.htmlkit import dom
from crawler_engine_spark.kernels.extract import extract_page
from crawler_engine_spark.operators.extraction import extract_pages
from crawler_engine_spark.sources.warc import iter_response_pages

import sparkctl

#: pages per core of the extraction-operator probe
PROBE_PAGES_PER_CORE = 400
KERNEL_SAMPLE = 100


def _median_time(fn, reps: int = 3) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def kernel_probe(pages: Sequence[Tuple[str, bytes]]) -> Dict[str, float]:
    """ms/page of ``extract_page`` and of ``dom.parse`` on a fixed sample,
    decoding the bytes the way the Spark operator does."""
    sample = [(u, b.decode("utf-8", errors="replace"))
              for u, b in pages[:KERNEL_SAMPLE]]
    n = len(sample)
    kernel = _median_time(lambda: [extract_page(u, h) for u, h in sample])
    parse = _median_time(lambda: [dom.parse(h) for _, h in sample])
    return {"kernels.extract.ms_per_page": kernel * 1e3 / n,
            "htmlkit.dom.parse_ms_per_page": parse * 1e3 / n}


def warc_probe(archives: Sequence[bytes]) -> Dict[str, float]:
    """WARC framing cost per response record over ``archives``."""
    records = sum(1 for raw in archives for _ in iter_response_pages(raw))
    wall = _median_time(
        lambda: [p for raw in archives for p in iter_response_pages(raw)])
    return {"sources.warc.parse_ms_per_record": wall * 1e3 / max(records, 1),
            "sources.warc.records": records,
            "sources.warc.bytes_in": sum(len(a) for a in archives)}


def _write_probe_pages(spark, rows: List[Tuple[str, bytes]], path: str,
                       cores: int) -> None:
    df = spark.createDataFrame(rows, "url string, html binary")
    df.repartition(cores).write.mode("overwrite").parquet(path)


def _extract_wall(spark, path: str, reps: int = 3) -> float:
    pages = spark.read.schema("url string, html binary").parquet(path)
    sparkctl.materialize(extract_pages(pages.limit(50)))  # plan/worker warm-up
    return _median_time(lambda: sparkctl.materialize(extract_pages(pages)), reps)


def extraction_probe(spark, cores: int, app: str, work: str,
                     pages: Sequence[Tuple[str, bytes]]):
    """Times ``extract_pages`` at ``local[cores]`` on ``cores`` ×
    PROBE_PAGES_PER_CORE pages, then restarts the session at ``local[1]``
    and times it on PROBE_PAGES_PER_CORE of them.  Returns (metrics,
    session) — the returned session is the ``local[1]`` one."""
    per_core = min(PROBE_PAGES_PER_CORE, len(pages) // cores)
    many = os.path.join(work, "probe_pages_n")
    one = os.path.join(work, "probe_pages_1")
    _write_probe_pages(spark, list(pages[: per_core * cores]), many, cores)
    _write_probe_pages(spark, list(pages[:per_core]), one, 1)
    wall_n = _extract_wall(spark, many)
    spark, _ = sparkctl.restart(spark, 1, app)
    sparkctl.warm_up(spark, 1)
    wall_1 = _extract_wall(spark, one)
    pps_n = per_core * cores / wall_n
    pps_1 = per_core / wall_1
    return {
        "operators.extraction.core_ms_per_page": wall_n * 1e3 / per_core,
        "operators.extraction.scaling_efficiency": pps_n / (cores * pps_1),
        "operators.extraction.pages": per_core * cores,
    }, spark


def boundary(metrics: Dict[str, float]) -> None:
    """Operator cost per page beyond the kernel's own cost."""
    metrics["operators.extraction.boundary_ms_per_page"] = (
        metrics["operators.extraction.core_ms_per_page"]
        - metrics["kernels.extract.ms_per_page"])
