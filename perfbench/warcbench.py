"""The extract_warc workload: ``read_warc_pages`` → ``extract_pages`` over
member-gzipped archives, checked page by page against the in-process
kernel on each page's true HTML."""

from __future__ import annotations

import multiprocessing as mp
import os
import shutil
import statistics
import time
from typing import Dict

from crawler_engine_spark.data import gen
from crawler_engine_spark.operators.extraction import _OUT_COLUMNS, extract_pages
from crawler_engine_spark.sources.warc import iter_response_pages, read_warc_pages

import hostinfo
import layers
import oracles
import sparkctl
import world
from crawlbench import SETUPS, _du, frontier_metrics
from tracing import Tracer

#: archive pages per core; two archive files per core
PAGES_PER_CORE = 600
MIN_BATCHES = 3


def _batch(spark, archives: str, out: str) -> None:
    pages = read_warc_pages(spark, archives)
    extract_pages(pages).write.mode("overwrite").parquet(out)


def run(name: str, seed: int, seconds: float, trace: bool, root: str) -> dict:
    cores = hostinfo.cpus()
    app = f"perfbench-{name}"
    work = sparkctl.work_dir(root, name)
    archives = os.path.join(work, "archives")
    out = os.path.join(work, "out")
    metrics: Dict[str, float] = {}
    ctx = mp.get_context("spawn")
    try:
        with ctx.Pool(cores) as pool:
            # -- inputs, built in the pool while nothing is measured
            t0 = time.perf_counter()
            docs, charset = world.pick_archive_docs(seed, PAGES_PER_CORE * cores)
            n_files = 2 * cores
            parts = [[(d, d in charset) for d in docs[i::n_files]] for i in range(n_files)]
            blobs = pool.map(world.build_archive, parts)
            os.makedirs(archives)
            for i, blob in enumerate(blobs):
                with open(os.path.join(archives, f"part-{i:05d}.warc.gz"), "wb") as f:
                    f.write(blob)
            input_gen_s = time.perf_counter() - t0

            # -- set-up, repeated: session start and warm-up
            setups, spark = [], None
            for _ in range(SETUPS):
                t0 = time.perf_counter()
                if spark is None:
                    spark, start_s = sparkctl.start(cores, app)
                else:
                    spark, _ = sparkctl.restart(spark, cores, app)
                sparkctl.warm_up(spark, cores)
                setups.append(time.perf_counter() - t0)

            # -- measured loop: whole batches back to back
            tracer = Tracer(spark, f"{name}-{seed}") if trace else None
            walls, groups, t_loop = [], [], time.perf_counter()
            while len(walls) < MIN_BATCHES or time.perf_counter() - t_loop < seconds:
                t0 = time.perf_counter()
                if tracer:
                    group = f"pb-batch{len(walls)}"
                    spark.sparkContext.setJobGroup(group, "extract_warc batch")
                    with tracer.span(f"batch.{len(walls)}", kind="batch", group=group):
                        _batch(spark, archives, out)
                    groups.append(group)
                else:
                    _batch(spark, archives, out)
                walls.append(time.perf_counter() - t0)
            loop_s = time.perf_counter() - t_loop
            if tracer:
                spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            rss = hostinfo.peak_rss_mb(spark)
            metrics.update({"python_peak_rss_mb": rss["driver"] + rss["workers"],
                            "mem.peak_rss_mb": rss["total"], "mem.jvm_peak_rss_mb": rss["jvm"]})

            # -- outputs for the check (Spark side), then the traced extras
            rows = {r["url"]: tuple(oracles.norm(r[c]) for c in _OUT_COLUMNS)
                    for r in spark.read.parquet(out).collect()}
            out_bytes = _du(out)
            if trace:
                tracer.drain_listener()
                counts = [tracer.group_counts(g) for g in groups]
                blob_pages = [(u, b) for raw in blobs
                              for u, _, _, b in iter_response_pages(raw)]
                probe, spark = layers.extraction_probe(spark, cores, app, work, blob_pages)
                metrics.update(probe)
            java = spark.sparkContext._jvm.System.getProperty("java.version")
            spark.stop()

            # -- checks and the host control, with Spark stopped
            items = [(gen.url_of(d), d, d in charset) for d in docs]
            ref = {}
            for part in pool.map(oracles.reference_rows,
                                 [items[i::cores] for i in range(cores)]):
                ref.update(part)
            ceiling = hostinfo.ceiling_efficiency(pool, cores)

        causes: Dict[str, int] = {}
        failed = 0
        for url, doc, is_charset in items:
            if rows.get(url) != ref[url]:
                failed += 1
                cause = "charset" if is_charset else (
                    "missing_row" if url not in rows else "other")
                causes[cause] = causes.get(cause, 0) + 1
        extra = len(set(rows) - set(ref))
        if extra:
            causes["extra_row"] = extra
            failed += extra

        n = len(docs)
        metrics.update({
            "setup_s": statistics.median(setups),
            "urls_per_s": n * len(walls) / loop_s,
            "pages_per_s": n / statistics.median(walls),
            "round_wall_s_p50": statistics.median(walls),
            "round_wall_s_max": max(walls),
            "state_bytes_per_url": out_bytes / n,
        })
        if trace:
            metrics.update(layers.kernel_probe(blob_pages))
            layers.boundary(metrics)
            metrics.update(layers.warc_probe(blobs))
            metrics.update(frontier_metrics([], {}))  # no frontier
            metrics.update({
                "session.start_s": start_s,
                "spark.jobs": sum(c["jobs"] for c in counts),
                "spark.failed_tasks": sum(c["failed_tasks"] for c in counts),
                "host.cpus": cores,
                "host.ceiling_efficiency": ceiling,
                "trace.overhead_ratio": tracer.bookkeeping_s / loop_s,
                "trace.unattributed_jobs": 0,
                "bench.input_gen_s": input_gen_s,
            })
            tracer.write(os.path.join(root, ".perfbench", "traces", f"{name}-{seed}.jsonl"))
        detail = {"workload": name, "seed": seed, "pages": n,
                  "charset_pages": len(charset), "setups_s": setups, "peak_rss_mb": rss,
                  "batch_walls": walls, "input_gen_s": input_gen_s}
        # only windows-1252 pages may differ (a known, named defect)
        correct = all(c == "charset" for c in causes)
        return {"metrics": metrics, "attempted": n, "failed": failed,
                "causes": causes, "correct": correct, "ceiling": ceiling,
                "java": java, "detail": detail}
    finally:
        shutil.rmtree(work, ignore_errors=True)
