"""The crawl workloads: ``CrawlEngine`` rounds over the generated world,
checked round by round against ``simulate_crawl``."""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import random
import shutil
import statistics
import time
from typing import Dict, List

import pandas as pd
from pyspark.sql import functions as F

from crawler_engine_spark import release_caches
from crawler_engine_spark.data import gen
from crawler_engine_spark.frontier import politeness
from crawler_engine_spark.frontier.bloom import BloomSeenSet
from crawler_engine_spark.frontier.rounds import FRONTIER_SCHEMA, CrawlConfig, CrawlEngine
from crawler_engine_spark.frontier.simulator import SimRobots, simulate_crawl
from crawler_engine_spark.operators import urlops
from crawler_engine_spark.sources.warc import build_warc

import hostinfo
import layers
import oracles
import sparkctl
import world
from tracing import STEPS, Tracer

#: n_seeds, politeness round length and rounds per crawl of each workload
CRAWLS = {
    # fixed per-round Spark overhead dominates: ~20, ~140, ~450 URLs
    "crawl_small": {"n_seeds": 20, "round_seconds": 120.0, "rounds": 3},
    # data-bound: ~1k then ~6k URLs, extraction and novelty joins dominate
    "crawl_bulk": {"n_seeds": 1000, "round_seconds": 3000.0, "rounds": 2},
}
SETUPS = 3
#: per-round metrics are reported for this many rounds (0 beyond a crawl's end)
REPORTED_ROUNDS = 3
ROUND_FIELDS = ("jobs", "stages", "tasks", "bytes_written", "driver_s", "wall_s")
REPLAY_KEYS = ("politeness.select_s", "politeness.selected_rows", "bloom.probe_s",
               "bloom.update_s", "bloom.maybe_seen_rows", "bloom.false_positive_ratio")


def _du(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total


class _Inputs:
    """The engine's inputs, rebuilt for each session."""

    def __init__(self, spark, seeds: List[dict]) -> None:
        self.robots = spark.createDataFrame(pd.DataFrame(gen.gen_robots()),
                                            world.ROBOTS_SCHEMA)
        self.seeds = spark.createDataFrame(pd.DataFrame(seeds), world.SEEDS_SCHEMA)


def _engine(spark, inputs: _Inputs, store: str, state: str, cfg: CrawlConfig):
    shutil.rmtree(state, ignore_errors=True)
    eng = CrawlEngine(spark, state, store, inputs.robots, cfg)
    eng.init_from_seeds(inputs.seeds)
    return eng


def _crawl(eng: CrawlEngine, rounds: int, tracer: Tracer | None, tag: str):
    """``eng.run`` with each round timed (and traced); returns (records,
    round walls, per-round trace info, error or None)."""
    walls, infos = [], []
    real = eng.run_round

    def timed_round(k):
        t0 = time.perf_counter()
        if tracer is None:
            rec = real(k)
        else:
            with tracer.round(f"pb-{tag}-r{k}", k, eng.state_dir) as info:
                rec = real(k)
            infos.append(info)
        if rec is not None:  # None: the frontier was already empty
            walls.append(time.perf_counter() - t0)
        return rec

    eng.run_round = timed_round
    try:
        return eng.run(max_rounds=rounds), walls, infos, None
    except Exception as exc:  # a raised round counts as a failed operation
        return [], walls, infos, f"{type(exc).__name__}: {exc}"
    finally:
        del eng.run_round


def _engine_log(eng: CrawlEngine):
    log = {}
    for r in eng.fetched_log().collect():
        log.setdefault(r["round"], []).append(
            (r["fetch_seq"], r["canonical_url"], r["fetch_status"], r["depth"]))
    seen = {r[0] for r in eng.seen().select("canonical_url").distinct().collect()}
    return {k: sorted(v) for k, v in log.items()}, seen


def _oracle(pool, seeds, cfg: CrawlConfig, rounds: int, fetched_urls, cores: int):
    rows = gen.gen_robots()
    robots = SimRobots({r["host"]: r["disallow_prefixes"] for r in rows},
                       {r["host"]: r["crawl_delay_s"] for r in rows})
    urls = sorted(u for u in fetched_urls if world.doc_of(u) >= 0)
    links: Dict[str, List[str]] = {}
    for part in pool.map(oracles.out_links, [urls[i::cores] for i in range(cores)]):
        links.update(part)
    with oracles.prefilled_out_links(links):
        log, seen = simulate_crawl(seeds, oracles.WorldPages(), robots,
                                   round_seconds=cfg.round_seconds,
                                   max_rounds=rounds, burst_rounds=cfg.burst_rounds)
    by_round = {}
    for f in log:
        by_round.setdefault(f.round, []).append((f.fetch_seq, f.url, f.status, f.depth))
    return {k: sorted(v) for k, v in by_round.items()}, seen


# --------------------------------------------------------------------------
# replays of the frontier layers on the committed per-round inputs
# --------------------------------------------------------------------------


def _round_dir(state: str, k: int) -> str:
    return os.path.join(state, "rounds", f"round={k}")


def _replay_politeness(spark, state, robots, cfg, k):
    prev_dir = _round_dir(state, k - 1)
    with open(os.path.join(prev_dir, "_COMMIT")) as f:
        prev = json.load(f)
    t0 = time.perf_counter()
    frontier = spark.read.schema(FRONTIER_SCHEMA).parquet(os.path.join(prev_dir, "frontier"))
    tok = os.path.join(prev_dir, "host_tokens")
    gated = politeness.apply_robots(
        frontier, robots, cfg.round_seconds,
        host_tokens=spark.read.parquet(tok) if os.path.isdir(tok) else None,
        burst_rounds=cfg.burst_rounds)
    selected, _ = politeness.select_batch(gated.where(F.col("allowed")), cfg.num_salts)
    selected = politeness.global_fetch_sequence(
        selected, offset=int(prev["total_fetched"]),
        est_batch_rows=int(prev.get("fetched", 0)) or int(prev.get("frontier_size", 0)))
    rows = selected.count()
    wall = time.perf_counter() - t0
    release_caches()
    return wall, rows


def _replay_bloom(spark, state, cfg, k, work):
    prev_bloom = os.path.join(_round_dir(state, k - 1), "bloom")
    bloom = BloomSeenSet(cfg.bloom_partitions, cfg.bloom_bits_per_segment)
    cand = (
        spark.read.parquet(os.path.join(_round_dir(state, k), "results"))
        .select(F.explode("out_links").alias("raw_url"))
        .select(urlops.canonical_url_col(F.col("raw_url")).alias("canonical_url"))
        .where(urlops.is_valid_url_col(F.col("canonical_url")))
        .where(F.col("canonical_url").rlike("^https?://"))
        .distinct()
        .withColumn("url_hash", urlops.url_hash_col(F.col("canonical_url")))
    )
    t0 = time.perf_counter()
    maybe = bloom.flag_maybe_seen(cand, prev_bloom).where("maybe_seen").cache()
    maybe_rows = maybe.count()
    probe_s = time.perf_counter() - t0
    seen_dirs = [os.path.join(_round_dir(state, j), "seen_delta") for j in range(1, k)]
    unseen = maybe_rows
    if seen_dirs and maybe_rows:
        seen = spark.read.parquet(*seen_dirs).select("canonical_url")
        unseen = maybe.join(seen, "canonical_url", "left_anti").count()
    maybe.unpersist()
    delta = spark.read.parquet(os.path.join(_round_dir(state, k), "seen_delta"))
    t0 = time.perf_counter()
    bloom.update(delta.select("canonical_url", "url_hash"), prev_dir=prev_bloom,
                 out_dir=os.path.join(work, f"bloom_replay_{k}"))
    return probe_s, time.perf_counter() - t0, maybe_rows, unseen


# --------------------------------------------------------------------------
# the workload
# --------------------------------------------------------------------------


def run(name: str, seed: int, seconds: float, trace: bool, root: str) -> dict:
    spec = CRAWLS[name]
    cores = hostinfo.cpus()
    cfg = CrawlConfig(round_seconds=spec["round_seconds"])
    app = f"perfbench-{name}"
    work = sparkctl.work_dir(root, name)
    cache = os.path.join(root, ".perfbench", "cache")
    metrics: Dict[str, float] = {}
    detail: dict = {"workload": name, "seed": seed, "spec": spec}
    try:
        # -- set-up, repeated; input generation is kept out of its timing
        setups, input_gen_s, spark = [], 0.0, None
        for i in range(SETUPS):
            t0 = time.perf_counter()
            if spark is None:
                spark, start_s = sparkctl.start(cores, app)
            else:
                spark, _ = sparkctl.restart(spark, cores, app)
            sparkctl.warm_up(spark, cores)
            elapsed = time.perf_counter() - t0
            t0 = time.perf_counter()
            if i == 0:
                store = world.page_store(spark, cache)
                seeds = world.pick_seeds(seed, spec["n_seeds"], spec["rounds"],
                                         spec["round_seconds"])
            inputs = _Inputs(spark, seeds)
            input_gen_s += time.perf_counter() - t0
            t0 = time.perf_counter()
            eng = _engine(spark, inputs, store, os.path.join(work, "state0"), cfg)
            setups.append(elapsed + time.perf_counter() - t0)

        # -- measured loop: whole crawls back to back, at least one
        tracer = Tracer(spark, f"{name}-{seed}") if trace else None
        if tracer:
            tracer.install()
        crawls, t_loop = [], time.perf_counter()
        try:
            while True:
                tag = f"c{len(crawls)}"
                if crawls:
                    eng = _engine(spark, inputs, store, os.path.join(work, f"state{len(crawls)}"), cfg)
                t0 = time.perf_counter()
                if tracer:
                    with tracer.span(f"crawl.{tag}", kind="crawl"):
                        records, walls, infos, err = _crawl(eng, spec["rounds"], tracer, tag)
                else:
                    records, walls, infos, err = _crawl(eng, spec["rounds"], None, tag)
                crawls.append({"eng": eng, "records": records, "walls": walls,
                               "infos": infos, "error": err,
                               "run_s": time.perf_counter() - t0})
                if err or time.perf_counter() - t_loop >= seconds:
                    break
        finally:
            if tracer:
                tracer.uninstall()
        rss = hostinfo.peak_rss_mb(spark)
        metrics.update({"python_peak_rss_mb": rss["driver"] + rss["workers"],
                        "mem.peak_rss_mb": rss["total"], "mem.jvm_peak_rss_mb": rss["jvm"]})

        # -- outputs for the checks (Spark side), then the traced extras
        for c in crawls:
            c["log"], c["seen"] = _engine_log(c["eng"])
        first = crawls[0]
        state0 = first["eng"].state_dir
        if trace:
            for c in crawls:
                for info in c["infos"]:
                    info["counts"] = tracer.round_counts(info)
            pol, blo = [], []
            for rec in first["records"]:
                k = rec["round"]
                pol.append(_replay_politeness(spark, state0, inputs.robots, cfg, k))
                blo.append(_replay_bloom(spark, state0, cfg, k, work))
                detail.setdefault("replay_rounds", []).append(
                    {"round": k, "select_s": pol[-1][0], "selected_rows": pol[-1][1],
                     "committed_fetched": rec["fetched"], "bloom": blo[-1]})
            maybe = sum(b[2] for b in blo)
            metrics.update(frontier_metrics([_round_row(i) for i in first["infos"]], {
                "politeness.select_s": sum(p[0] for p in pol),
                "politeness.selected_rows": sum(p[1] for p in pol),
                "bloom.probe_s": sum(b[0] for b in blo),
                "bloom.update_s": sum(b[1] for b in blo),
                "bloom.maybe_seen_rows": maybe,
                "bloom.false_positive_ratio": sum(b[3] for b in blo) / maybe if maybe else 0.0,
            }))
            probe_pages = _probe_pages(seed, cores)
            probe, spark = layers.extraction_probe(spark, cores, app, work, probe_pages)
            metrics.update(probe)
        java = spark.sparkContext._jvm.System.getProperty("java.version")
        spark.stop()

        # -- checks and the host control, with Spark stopped
        ctx = mp.get_context("spawn")
        with ctx.Pool(cores) as pool:
            fetched = {u for c in crawls for rows in c["log"].values()
                       for _, u, st, _ in rows if st == "ok"}
            sim_log, sim_seen = _oracle(pool, seeds, cfg, spec["rounds"], fetched, cores)
            ceiling = hostinfo.ceiling_efficiency(pool, cores)
        attempted, causes = 0, {}
        for c in crawls:
            bad = _check(c, sim_log, sim_seen, causes)
            attempted += len(c["walls"]) + bool(c["error"])
            c["failed"] = bad
        failed = sum(c["failed"] for c in crawls)

        # -- end-to-end metrics
        run_s = sum(c["run_s"] for c in crawls)
        walls = [w for c in crawls for w in c["walls"]]
        urls = sum(r["fetched"] for c in crawls for r in c["records"])
        ok_pages = sum(1 for c in crawls for rows in c["log"].values()
                       for row in rows if row[2] == "ok")
        first_urls = sum(r["fetched"] for r in first["records"])
        metrics.update({
            "setup_s": statistics.median(setups),
            "urls_per_s": urls / run_s,
            "pages_per_s": ok_pages / run_s,
            "round_wall_s_p50": statistics.median(walls),
            "round_wall_s_max": max(walls),
            "state_bytes_per_url": _du(state0) / max(first_urls, 1),
        })
        if trace:
            metrics.update(layers.kernel_probe(probe_pages))
            layers.boundary(metrics)
            metrics.update(layers.warc_probe([_probe_archive(probe_pages)]))
            jobs = sum(i["counts"]["jobs"] for c in crawls for i in c["infos"])
            metrics.update({
                "session.start_s": start_s,
                "spark.jobs": jobs,
                "spark.failed_tasks": sum(i["counts"]["failed_tasks"]
                                          for c in crawls for i in c["infos"]),
                "host.cpus": cores,
                "host.ceiling_efficiency": ceiling,
                "trace.overhead_ratio": tracer.bookkeeping_s / run_s,
                "trace.unattributed_jobs": sum(i["counts"]["unattributed_jobs"]
                                               for c in crawls for i in c["infos"]),
                "bench.input_gen_s": input_gen_s,
            })
            tracer.write(os.path.join(root, ".perfbench", "traces", f"{name}-{seed}.jsonl"))
        detail.update({
            "setups_s": setups, "peak_rss_mb": rss, "input_gen_s": input_gen_s,
            "crawls": [{"run_s": c["run_s"], "walls": c["walls"], "error": c["error"],
                        "records": c["records"], "failed": c["failed"],
                        "rounds": [{"k": i["k"], **i["counts"]} for i in c["infos"]]}
                       for c in crawls],
        })
        return {"metrics": metrics, "attempted": attempted, "failed": failed,
                "causes": causes, "correct": failed == 0, "ceiling": ceiling,
                "java": java, "detail": detail}
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _check(crawl: dict, sim_log: dict, sim_seen: set, causes: dict) -> int:
    """Wrong rounds of one crawl; every mismatch is counted under a cause."""
    def bump(cause):
        causes[cause] = causes.get(cause, 0) + 1

    bad = 0
    if crawl["error"]:
        bump("round_raised")
        bad += 1
    for rec in crawl["records"]:
        k = rec["round"]
        if crawl["log"].get(k, []) != sim_log.get(k, []):
            bump("fetch_log")
            bad += 1
    if not crawl["error"] and crawl["seen"] != sim_seen and bad == 0:
        bump("seen_set")
        bad += 1
    return bad


def _round_row(info: dict) -> Dict[str, float]:
    counts = info["counts"]
    row = {
        "jobs": counts["jobs"], "stages": counts["stages"], "tasks": counts["tasks"],
        "bytes_written": _du(info["round_dir"]),
        "driver_s": info["wall_s"] - sum(s["wall_s"] for s in counts["steps"].values()),
        "wall_s": info["wall_s"],
    }
    for step in STEPS:
        row[f"step.{step}.wall_s"] = counts["steps"][step]["wall_s"]
        row[f"step.{step}.jobs"] = counts["steps"][step]["jobs"]
    return row


def frontier_metrics(rows: List[Dict[str, float]], replay: Dict[str, float]) -> Dict[str, float]:
    """frontier.rounds.r1..r<REPORTED_ROUNDS>.* and their p50, plus the
    politeness/bloom replay figures; 0 where a workload has no such round."""
    keys = list(ROUND_FIELDS) + [f"step.{s}.{f}" for s in STEPS for f in ("wall_s", "jobs")]
    out = {f"frontier.{k}": replay.get(k, 0) for k in REPLAY_KEYS}
    for i in range(REPORTED_ROUNDS):
        for key in keys:
            out[f"frontier.rounds.r{i + 1}.{key}"] = rows[i][key] if i < len(rows) else 0
    for key in keys:
        out[f"frontier.rounds.p50.{key}"] = statistics.median(r[key] for r in rows) if rows else 0
    return out


def _probe_pages(seed: int, cores: int):
    """The probe's pages: a seeded sample of the crawl's page store."""
    n = layers.PROBE_PAGES_PER_CORE * cores
    docs = random.Random(seed).sample(range(world.WORLD_DOCS), n)
    return [(gen.url_of(d), world.page_bytes(d, False)) for d in docs]


def _probe_archive(pages) -> bytes:
    return build_warc([(u, "2024-01-01T00:00:00Z", b) for u, b in pages],
                      gzip_members=True)
