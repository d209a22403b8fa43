"""Benchmark harness: headline queries + crawl throughput + scaling evidence.

Prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...,
   "crawl": {...}, "scaling": {...}}

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS   (default 32).

The scaling section runs the same fixed extraction workload at local[N] and
local[4N] in fresh subprocesses (the sandbox stand-in for N vs 4N executors
per BASELINE.md) and reports throughput at both plus the efficiency
(thr_4N / thr_N) / 4.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# Sized so per-level compute (~2.7 ms/page kernel time) dominates the fixed
# Spark job overhead — smaller workloads under-report scaling efficiency.
SCALING_PAGES = int(os.environ.get("BENCH_SCALING_PAGES", "100000"))
# N of the N-vs-4N pair.  2→8 keeps the 4N level inside the machine's flat
# frequency band on this 32-core host; the frequency_control section
# quantifies the ceiling at any pair.
SCALING_N = int(os.environ.get("BENCH_SCALING_N", "2"))
CRAWL_PAGES = int(os.environ.get("BENCH_CRAWL_PAGES", "20000"))

BENCH_QUERIES = [
    "url_canonicalize",
    "politeness_select",
    "word_counts",
    "lang_id",
    "quality_score",
    "exact_dedup",
    "minhash_near_dup",
    "near_dup_clusters",
    "simhash",
    "bm25_topk",
    "unigram_nll",
    "json_extract",
    "sessionize",
    "asof_join",
    "range_join",
    "events_rollup",
    "price_quantiles",
    "embedding_topk",
    "embedding_topk_ivf",
    "media_features",
    "pricing_summary",
    "revenue_by_segment",
    "extract_structured",
    "extract_adaptive",
    "extract_semantic",
    "extract_rule_based",
    "extract_hybrid",
    "extract_custom",
    "pii_redact",
    "gopher_quality",
    "url_features",
    "decontaminate",
    "stratified_sample",
    "pack_sequences",
    "chunk_dedup",
    "incremental_dedup",
    "host_reputation",
    "capped_sample",
    "text_normalize",
    "vocab_stats",
    "semantic_dedup",
    "trap_detect",
    "sitemap_seeds",
    "boilerplate_chunks",
    "dup_ngrams",
    "dup_span_fraction",
    "link_pagerank",
    "focused_pagerank",
    "anchor_texts",
    "doc_keywords",
    "warc_ingest",
    "hits_scores",
]


def _sf_of(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _materialize(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return 0


def _timed(fn) -> float:
    t0 = time.time()
    fn()
    return time.time() - t0


def run_scaling_worker(_unused: int = 0) -> None:
    """Subprocess entry: the full two-level scaling measurement.

    Protocol (designed against this sandbox's measurement hazards):
    * one shared pages table (32 evenly-sized files; the parquet source
      splits row-groups to each level's parallelism, so task count == cores
      at both levels)
    * N and 4N runs INTERLEAVED, 3 reps each, median per level — single-shot
      timings drift ±20% with CPU frequency state, medians of interleaved
      reps decorrelate that drift
    * a pure-multiprocessing control runs the same kernel with zero Spark at
      both worker counts: its efficiency is the MACHINE's frequency-scaling
      ceiling at 4x parallelism; the engine can't beat physics, so the
      honest engine figure is raw efficiency vs. that ceiling.
    """
    import shutil
    import statistics
    import tempfile

    from crawler_engine_spark.data.gen import gen_pages_df
    from crawler_engine_spark.operators.extraction import extract_pages
    from crawler_engine_spark.session import get_spark

    n = SCALING_N
    tmp = tempfile.mkdtemp(prefix="bench_scale_")
    try:
        path = os.path.join(tmp, "pages")
        s0 = get_spark("bench-scale-gen", master=f"local[{CPUS}]",
                       shuffle_partitions=CPUS)
        gen_pages_df(s0, SCALING_PAGES, partitions=32).write.parquet(path)
        s0.stop()

        def one_run(cpus: int) -> float:
            spark = get_spark(f"bench-scale-{cpus}", master=f"local[{cpus}]",
                              shuffle_partitions=cpus)
            try:
                pages = spark.read.parquet(path)
                _materialize(extract_pages(pages.limit(500), mode="structured"))
                dt = _timed(
                    lambda: _materialize(extract_pages(pages, mode="structured"))
                )
                return SCALING_PAGES / dt
            finally:
                spark.stop()

        res = {n: [], n * 4: []}
        for _rep in range(3):
            for cpus in (n, n * 4):
                res[cpus].append(one_run(cpus))
        lo = statistics.median(res[n])
        hi = statistics.median(res[n * 4])

        out = {
            f"local[{n}]": {"cpus": n, "pages_per_sec": round(lo, 1),
                            "reps": [round(x, 1) for x in res[n]]},
            f"local[{n * 4}]": {"cpus": n * 4, "pages_per_sec": round(hi, 1),
                                "reps": [round(x, 1) for x in res[n * 4]]},
            "efficiency": round((hi / lo) / 4.0, 3),
            "parallelism_ratio": 4.0,
            "frequency_control": _frequency_control(n),
        }
        print(json.dumps(out))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _frequency_control(n: int) -> dict:
    """Machine frequency-scaling ceiling: the same extraction kernel under
    plain multiprocessing (no Spark, no Arrow, no JVM) at N and 4N workers.
    Anything below 1.0 here is CPU turbo/thermal physics, not engine
    overhead."""
    import multiprocessing as mp
    import statistics

    from crawler_engine_spark.kernels import extract as _ex  # noqa: F401

    per_worker = 1200
    res = {n: [], n * 4: []}
    for _rep in range(3):
        for w in (n, n * 4):
            with mp.Pool(w) as pool:
                t0 = time.time()
                pool.map(_control_work, [per_worker] * w)
                res[w].append(w * per_worker / (time.time() - t0))
    lo = statistics.median(res[n])
    hi = statistics.median(res[n * 4])
    return {
        f"mp[{n}]": round(lo, 1),
        f"mp[{n * 4}]": round(hi, 1),
        "ceiling_efficiency": round((hi / lo) / 4.0, 3),
    }


_CONTROL_HTML = (
    '<html lang="en"><head><title>T</title></head><body><article><p>'
    + "word salad spark join merge " * 30
    + '</p></article><ul><li>alpha</li><li>src</li></ul>'
    + '<a href="/d/1">next</a>' * 3
    + "</body></html>"
)


def _control_work(n_pages: int) -> int:
    from crawler_engine_spark.kernels.extract import DEFAULT_OPTIONS, extract_page

    for i in range(n_pages):
        extract_page(f"https://h.example/{i}", _CONTROL_HTML, None, "structured",
                     DEFAULT_OPTIONS)
    return n_pages


def run_scaling() -> dict:
    """N vs 4N cores in a fresh subprocess (clean JVM)."""
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--scaling-worker", "0"],
        capture_output=True, text=True, timeout=2400,
    )
    line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def run_scaleup(spark) -> dict:
    """Data-volume scaling at fixed parallelism (local[CPUS]): the same
    extraction pipeline over a 1x and a 4x corpus.  SCALE.md's round-wall
    model says wall time is data-dominated once fixed job overhead is
    amortized — linearity = (sec_4x / sec_1x) / 4 ≈ 1 evidences that (< 1
    means the 1x run still carries amortizable overhead)."""
    import shutil
    import tempfile

    from crawler_engine_spark.data.gen import gen_pages_df
    from crawler_engine_spark.operators.extraction import extract_pages

    base = int(os.environ.get("BENCH_SCALEUP_PAGES", "25000"))
    tmp = tempfile.mkdtemp(prefix="bench_scaleup_")
    out = {}
    try:
        secs = {}
        for mult in (1, 4):
            path = os.path.join(tmp, f"pages{mult}")
            gen_pages_df(spark, base * mult, partitions=CPUS).write.parquet(path)
            pages = spark.read.parquet(path)
            _materialize(extract_pages(pages.limit(200), mode="structured"))  # warm
            secs[mult] = _timed(
                lambda: _materialize(extract_pages(pages, mode="structured"))
            )
            out[f"{mult}x"] = {
                "pages": base * mult,
                "seconds": round(secs[mult], 2),
                "pages_per_sec": round(base * mult / secs[mult], 1),
            }
        out["linearity"] = round((secs[4] / secs[1]) / 4.0, 3)
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _skewed_frontier(spark, n_rows: int, hot_share: float, budget: int):
    from pyspark.sql import functions as F

    hot = int(n_rows * hot_share)
    host = (
        F.when(F.col("id") < hot, F.lit("hot.example"))
        .otherwise(
            F.concat(F.lit("h"), (F.col("id") % 2000).cast("string"), F.lit(".example"))
        )
    )
    return spark.range(n_rows).select(
        host.alias("host"),
        F.concat(F.lit("https://x/"), F.col("id").cast("string")).alias("canonical_url"),
        F.xxhash64(F.col("id").cast("string")).alias("url_hash"),
        F.lit(0).alias("depth"),
        F.col("id").cast("long").alias("parent_seq"),
        F.lit(0).alias("link_position"),
        F.lit(budget).alias("host_budget"),
        F.lit(True).alias("allowed"),
    )


def run_skew(spark) -> dict:
    """The SURVEY §4.2 hot-host scenario measured: one host owns 30% of the
    frontier.  Times the salted two-phase politeness selection against the
    naive single window over host (identical output, proven by the
    politeness_select oracle query) and reports the per-reducer row bound
    that determines the straggler task."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from crawler_engine_spark.frontier import politeness

    # 12M rows: the smallest size on this host where the hot host's single
    # sorted reducer visibly straggles (below ~4M the two-phase overhead
    # and the straggler cost cancel; the reducer-rows bound is the at-scale
    # signal either way).
    n_rows = int(os.environ.get("BENCH_SKEW_ROWS", "12000000"))
    budget = 50
    df = _skewed_frontier(spark, n_rows, 0.3, budget).cache()
    df.count()

    def plain():
        w = Window.partitionBy("host").orderBy(*politeness.ORDER_KEY)
        _materialize(
            df.withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") <= F.col("host_budget"))
            .drop("_r")
        )

    def salted():
        selected, _ = politeness.select_batch(df, num_salts=politeness.DEFAULT_NUM_SALTS)
        _materialize(selected)

    plain()  # warm both shapes once
    salted()
    t_plain = _timed(plain)
    t_salted = _timed(salted)
    groups = (
        df.withColumn(
            "_salt",
            F.pmod(F.col("url_hash"), F.lit(politeness.DEFAULT_NUM_SALTS)).cast("int"),
        )
        .groupBy("host", "_salt")
        .count()
    )
    max_salted_group = groups.agg(F.max("count")).first()[0]
    hot_rows = int(n_rows * 0.3)
    df.unpersist()
    return {
        "frontier_rows": n_rows,
        "hot_host_share": 0.3,
        "plain_window_sec": round(t_plain, 2),
        "salted_sec": round(t_salted, 2),
        "speedup": round(t_plain / t_salted, 2),
        "max_reducer_rows_plain": hot_rows,
        "max_reducer_rows_salted": int(max_salted_group),
        "reducer_bound_ratio": round(hot_rows / max_salted_group, 2),
    }


def run_crawl(spark) -> dict:
    import shutil
    import tempfile

    import pandas as pd

    from crawler_engine_spark.data import gen
    from crawler_engine_spark.frontier.rounds import CrawlConfig, CrawlEngine

    tmp = tempfile.mkdtemp(prefix="bench_crawl_")
    try:
        pages_path = os.path.join(tmp, "pages")
        gen.gen_pages_df(spark, CRAWL_PAGES, partitions=CPUS).write.parquet(pages_path)
        robots = spark.createDataFrame(
            pd.DataFrame(gen.gen_robots()),
            "host string, disallow_prefixes array<string>, crawl_delay_s double",
        )
        eng = CrawlEngine(
            spark, os.path.join(tmp, "state"), pages_path, robots,
            CrawlConfig(round_seconds=120.0),
        )
        seeds = spark.createDataFrame(
            pd.DataFrame(gen.gen_seeds(CRAWL_PAGES, 20)),
            "url string, seed_rank int, query string",
        )
        eng.init_from_seeds(seeds)
        t0 = time.time()
        records = eng.run(max_rounds=3)
        dt = time.time() - t0
        fetched = sum(r["fetched"] for r in records)
        return {
            "rounds": len(records),
            "urls_fetched": fetched,
            "seconds": round(dt, 2),
            "urls_per_sec": round(fetched / dt, 2),
            "round_wall_sec": round(dt / max(len(records), 1), 2),
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> None:
    import __spark_entry__ as entry_mod
    from crawler_engine_spark.session import get_spark

    spark = get_spark("bench", master=f"local[{CPUS}]", shuffle_partitions=CPUS)
    queries = entry_mod.queries()

    # Warm the JVM + the Python/Arrow worker pool once so the first timed
    # query isn't charged ~5 s of one-time session startup (word_counts is
    # pure JVM; the pandas_udf stage forks all CPUS workers and imports
    # pandas/numpy in each — production pipelines reuse that pool).
    spark.range(0, 1000).selectExpr("sum(id)").collect()
    _materialize(queries["word_counts"](spark, SF_DIR))
    from pyspark.sql.functions import col, pandas_udf

    @pandas_udf("long")
    def _warm(s):
        return s

    _materialize(spark.range(0, CPUS * 10).repartition(CPUS).select(_warm(col("id"))))

    from crawler_engine_spark import release_caches

    timings = {}
    t_suite = time.time()
    for name in BENCH_QUERIES:
        t0 = time.time()
        _materialize(queries[name](spark, SF_DIR))
        timings[name] = round(time.time() - t0, 3)
        # free the internal persists some operators hand across the call
        # boundary (LSH candidate pairs, anchor pre-aggregates) so one
        # query's caches never occupy executor storage during the next
        release_caches()
    suite_seconds = round(time.time() - t_suite, 3)

    crawl = run_crawl(spark)
    scaleup = run_scaleup(spark)
    skew = run_skew(spark)
    spark.stop()

    scaling = run_scaling()

    full = {
        "metric": "bench_suite_seconds",
        "value": suite_seconds,
        "unit": "sec",
        "queries": timings,
        "sf": _sf_of(SF_DIR),
        "crawl": crawl,
        "scaleup": scaleup,
        "skew": skew,
        "scaling": scaling,
    }
    # best-effort: a read-only checkout must not cost us the final line
    # (the driver parses stdout; the detail file is a bonus)
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "bench_full.json"), "w") as f:
            json.dump(full, f, indent=1)
    except OSError as exc:
        print(f"bench_full.json not written: {exc}", file=sys.stderr)

    print(compact_line(full))


def compact_line(full: dict, budget: int = 1900) -> str:
    """The driver parses the LAST ≤2000 chars of stdout — the final line
    must be compact and final (BENCH_r03's `parsed: null` was this line
    outgrowing the capture).  Full detail (reps, controls, per-level raw
    numbers) lives in bench_full.json; this line carries the headline
    figures plus the per-query map at reduced precision, degrading to the
    slowest queries only if the budget is ever exceeded.  Unit-tested
    against a 100-query catalog in tests/test_surfaces.py."""
    timings = full["queries"]
    scaling = full["scaling"]
    crawl = full["crawl"]
    sc4 = scaling.get(f"local[{SCALING_N * 4}]", {})
    scn = scaling.get(f"local[{SCALING_N}]", {})
    compact = {
        "metric": full["metric"],
        "value": full["value"],
        "unit": full["unit"],
        "queries": {k: round(v, 2) for k, v in timings.items()},
        "sf": full["sf"],
        "crawl": {
            "urls_per_sec": crawl["urls_per_sec"],
            "round_wall_sec": crawl["round_wall_sec"],
            "urls_fetched": crawl["urls_fetched"],
        },
        "scaleup_linearity": full["scaleup"]["linearity"],
        "skew": {
            "speedup": full["skew"]["speedup"],
            "reducer_bound_ratio": full["skew"]["reducer_bound_ratio"],
        },
        "scaling": {
            "efficiency": scaling.get("efficiency"),
            "ceiling": scaling.get("frequency_control", {}).get(
                "ceiling_efficiency"
            ),
            f"pages_per_sec[{SCALING_N}]": scn.get("pages_per_sec"),
            f"pages_per_sec[{SCALING_N * 4}]": sc4.get("pages_per_sec"),
        },
        "detail": "bench_full.json",
    }
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > budget:  # keep the slowest queries, drop the rest
        slowest = dict(
            sorted(timings.items(), key=lambda kv: -kv[1])[:10]
        )
        compact["queries"] = {k: round(v, 2) for k, v in slowest.items()}
        compact["queries_truncated_to_slowest"] = 10
        line = json.dumps(compact, separators=(",", ":"))
    return line


if __name__ == "__main__":
    if len(sys.argv) >= 3 and sys.argv[1] == "--scaling-worker":
        run_scaling_worker(int(sys.argv[2]))
    else:
        main()
