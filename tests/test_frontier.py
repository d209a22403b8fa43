"""Frontier semantics tests: the distributed engine must reproduce the
pure-Python oracle simulator's crawl ordering and final URL-seen set exactly
(BASELINE.json: "matching the reference's crawl ordering and URL-seen set
under the same seed list + politeness budget"), and resume from a killed
round without divergence."""

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest
from pyspark.sql import functions as F

from crawler_engine_spark.data import gen
from crawler_engine_spark.frontier.rounds import (
    CrawlConfig,
    CrawlEngine,
    host_edge_inputs,
)
from crawler_engine_spark.frontier.simulator import SimRobots, simulate_crawl

N_DOCS = 150
ROUND_SECONDS = 3.0  # small budgets → multi-round crawls


@pytest.fixture(scope="module")
def world(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("crawl_world")
    pages_path = str(root / "pages")
    gen.gen_pages_df(spark, N_DOCS, partitions=4).write.mode("overwrite").parquet(pages_path)
    seeds = gen.gen_seeds(N_DOCS, n_seeds=6)
    robots_rows = gen.gen_robots()
    robots_df = spark.createDataFrame(
        pd.DataFrame(robots_rows),
        "host string, disallow_prefixes array<string>, crawl_delay_s double",
    )
    sim_robots = SimRobots(
        disallow_prefixes={r["host"]: r["disallow_prefixes"] for r in robots_rows},
        crawl_delay_s={r["host"]: r["crawl_delay_s"] for r in robots_rows},
    )
    pages_dict = {
        gen.url_of(i): gen.html_of(i, N_DOCS).encode() for i in range(N_DOCS)
    }
    return {
        "root": str(root),
        "pages_path": pages_path,
        "seeds": seeds,
        "robots_df": robots_df,
        "sim_robots": sim_robots,
        "pages_dict": pages_dict,
    }


def _seeds_df(spark, seeds):
    return spark.createDataFrame(
        pd.DataFrame(seeds, columns=["url", "seed_rank", "query"]),
        "url string, seed_rank int, query string",
    )


def _make_engine(spark, world, state_name, config=None):
    state = os.path.join(world["root"], state_name)
    if os.path.isdir(state):
        shutil.rmtree(state)
    eng = CrawlEngine(
        spark,
        state_dir=state,
        pages_path=world["pages_path"],
        robots=world["robots_df"],
        config=config or CrawlConfig(round_seconds=ROUND_SECONDS, bloom_partitions=8,
                                     bloom_bits_per_segment=1 << 16),
    )
    eng.init_from_seeds(_seeds_df(spark, world["seeds"]))
    return eng


@pytest.fixture(scope="module")
def oracle(world):
    return simulate_crawl(
        world["seeds"], world["pages_dict"], world["sim_robots"],
        round_seconds=ROUND_SECONDS, max_rounds=4,
    )


def _persisted_rdd_ids(spark):
    return set(dict(spark.sparkContext._jsc.getPersistentRDDs()))


@pytest.fixture(scope="module")
def engine_run_rdds(spark, world):
    """``engine_run`` plus the ids of the RDDs the block manager holds
    persisted just before and just after its ``run()``."""
    eng = _make_engine(spark, world, "state_main")
    before = _persisted_rdd_ids(spark)
    records = eng.run(max_rounds=4)
    return eng, records, before, _persisted_rdd_ids(spark)


@pytest.fixture(scope="module")
def engine_run(engine_run_rdds):
    return engine_run_rdds[:2]


def test_round_commit_drains_cache_registry(engine_run_rdds):
    """r05 review follow-up: rounds register their intra-round persists
    (ranked / batch / flagged) in the session registry; the
    round-commit cleanup must drain it, or a long crawl strands several
    batch-sized caches per round.  Persists made outside the registry
    (an operator's own RDD cache) must not outlive the run either, so
    the block manager holds no RDD the run added."""
    from crawler_engine_spark import caches

    eng, records, before, after = engine_run_rdds
    assert len(records) >= 2  # multiple committed rounds ran
    assert not caches.REGISTRY
    assert after <= before, sorted(after - before)


def test_seed_commit_records_frontier_size(engine_run):
    """The seed commit carries frontier_size: round 1 reads it to stop
    at once when the seed list gave no valid URL (the stall stop in
    ``run_round``), and the round-0 record has fetched == 0."""
    eng, records = engine_run
    rec0 = eng._read_commit(0)
    assert rec0["fetched"] == 0
    assert rec0["frontier_size"] == eng._read_frontier(0).count() > 0


def _recount(spark, eng, k):
    """The commit-record counts and lineage totals of round ``k``,
    recounted from the files the round wrote."""
    rd = eng._round_dir(k)
    lineage = spark.read.parquet(os.path.join(rd, "results")).agg(
        F.count(F.lit(1)).alias("pages_extracted"),
        F.coalesce(F.sum(F.length("content")), F.lit(0)).alias("content_chars"),
        F.coalesce(F.sum(F.size("out_links")), F.lit(0)).alias("links_found"),
    ).first().asDict()
    status = {
        r["fetch_status"]: r["count"]
        for r in spark.read.parquet(os.path.join(rd, "seen_delta"))
        .groupBy("fetch_status").count().collect()
    }
    origin = {
        r["origin"]: r["count"]
        for r in spark.read.parquet(os.path.join(rd, "frontier"))
        .groupBy("origin").count().collect()
    }
    blocked = status.pop("robots_blocked", 0)
    return {
        "fetched": sum(status.values()),
        "blocked": blocked,
        "new_urls": origin.get("discovered", 0),
        "frontier_size": sum(origin.values()),
        **lineage,
    }


def test_commit_counts_match_written_files(spark, world):
    """Value lock on the observed commit counts: with robots blocks, the
    trap guard pruning the frontier before its write, and an expire()
    requeue round, every commit's counts equal a recount of the round's
    written seen_delta/, frontier/ and results/ files, and each round dir
    holds only the round's outputs and its commit marker."""
    eng = _make_engine(
        spark, world, "state_counts",
        CrawlConfig(round_seconds=ROUND_SECONDS, bloom_partitions=8,
                    bloom_bits_per_segment=1 << 16,
                    trap_threshold=3, trap_keep_per_pattern=2),
    )
    eng.run(max_rounds=2)
    fetched = sorted({r["canonical_url"] for r in eng.fetched_log().collect()})
    assert eng.expire(
        spark.createDataFrame([(fetched[0],)], "canonical_url string")
    ) == 1
    eng.run(max_rounds=2)

    assert eng._read_commit(0)["frontier_size"] == eng._read_frontier(0).count()
    records = [eng._read_commit(k) for k in eng.committed_rounds()[1:]]
    assert len(records) == 4
    total = 0
    for rec in records:
        want = _recount(spark, eng, rec["round"])
        total += want["fetched"]
        assert {key: rec[key] for key in want} == want, rec["round"]
        assert rec["total_fetched"] == total
        assert sorted(os.listdir(eng._round_dir(rec["round"]))) == [
            "_COMMIT", "bloom", "frontier", "host_tokens", "results",
            "seen_delta",
        ]
    # the paths the test exists for were all taken
    assert any(rec["blocked"] for rec in records)
    assert any(rec["trap_patterns"] for rec in records)
    assert any(rec["consumed_requeue"] for rec in records)
    assert any(rec["links_found"] for rec in records)


_GUARD_CONFIGS = {
    "bloom": CrawlConfig(),
    # round 2 ranks the host graph round 1 wrote; round 3 reuses the table
    "link_rank_reuse": CrawlConfig(link_rank_budget=True, link_rank_every=2),
}


@pytest.mark.parametrize("case", list(_GUARD_CONFIGS))
def test_run_round_spends_no_count_or_collect(spark, world, monkeypatch, case):
    """A round's bookkeeping rides on work it already does: under the
    default CrawlConfig, and in a round that reuses the link-rank table,
    run_round never calls DataFrame.count, and calls DataFrame.collect only
    as the seen set's build action (BloomSeenSet.update).  No read of the
    engine's own files infers its schema: the page store's read in round 1
    is the only parquet read on a reader with no schema set."""
    from pyspark.sql.readwriter import DataFrameReader

    state = os.path.join(world["root"], f"state_no_rescans_{case}")
    shutil.rmtree(state, ignore_errors=True)
    eng = CrawlEngine(spark, state, world["pages_path"], world["robots_df"],
                      _GUARD_CONFIGS[case])
    eng.init_from_seeds(_seeds_df(spark, world["seeds"]))
    frame = type(spark.range(0))
    real_count, real_collect = frame.count, frame.collect
    real_schema, real_parquet = DataFrameReader.schema, DataFrameReader.parquet
    calls, untyped = [], []

    def caller():
        f = sys._getframe(2)
        return os.path.basename(f.f_code.co_filename), f.f_code.co_name

    def count(self):
        calls.append(("count",) + caller())
        return real_count(self)

    def collect(self):
        calls.append(("collect",) + caller())
        return real_collect(self)

    def schema(self, s):
        self._typed = True
        return real_schema(self, s)

    def parquet(self, *paths, **options):
        if not getattr(self, "_typed", False):
            untyped.append(paths)
        return real_parquet(self, *paths, **options)

    monkeypatch.setattr(frame, "count", count)
    monkeypatch.setattr(frame, "collect", collect)
    monkeypatch.setattr(DataFrameReader, "schema", schema)
    monkeypatch.setattr(DataFrameReader, "parquet", parquet)
    rounds = (1, 2, 3) if case == "link_rank_reuse" else (1, 2)
    records, round_calls, round_reads = {}, {}, {}
    for k in rounds:
        records[k] = eng.run_round(k)
        round_calls[k], round_reads[k] = set(calls), list(untyped)
        calls.clear()
        untyped.clear()
    monkeypatch.undo()
    assert all(records.values())
    if case == "link_rank_reuse":
        # round 2's PageRank recompute is allowed its own actions
        assert records[2]["link_rank_recomputed"]
        assert records[3]["link_rank_applied"]
        assert not records[3]["link_rank_recomputed"]
        del round_calls[2]
    for k, called in round_calls.items():
        assert called == {("collect", "bloom.py", "update")}, (k, called)
    assert round_reads == {
        k: [(world["pages_path"],)] if k == 1 else [] for k in rounds
    }, round_reads


@pytest.mark.parametrize(
    "urls", [[], ["", None, "http://", "/relative/path"]],
    ids=["empty", "all_invalid"],
)
def test_empty_seed_set_commits_round0_and_stops(spark, world, urls):
    """Seeds without a valid URL are dropped; with none left, round 0
    commits frontier_size 0 and run() returns [] without committing
    round 1."""
    state = os.path.join(world["root"], "state_no_seeds")
    shutil.rmtree(state, ignore_errors=True)
    eng = CrawlEngine(spark, state, world["pages_path"], world["robots_df"])
    eng.init_from_seeds(
        _seeds_df(spark, [(u, i, None) for i, u in enumerate(urls)])
    )
    assert eng._read_commit(0)["frontier_size"] == 0
    assert eng.run() == []
    assert eng.committed_rounds() == [0]
    assert not os.path.isdir(eng._round_dir(1))


def test_crawl_ordering_matches_oracle(spark, world, oracle, engine_run):
    sim_log, _ = oracle
    eng, records = engine_run
    got = (
        eng.fetched_log()
        .orderBy("round", "fetch_seq")
        .select("round", "fetch_seq", "canonical_url", "fetch_status")
        .collect()
    )
    expected = [(f.round, f.fetch_seq, f.url, f.status) for f in sim_log]
    actual = [(r["round"], r["fetch_seq"], r["canonical_url"], r["fetch_status"]) for r in got]
    assert actual == expected


def test_final_seen_set_matches_oracle(spark, world, oracle, engine_run):
    _, sim_seen = oracle
    eng, _ = engine_run
    got = {r["canonical_url"] for r in eng.seen().select("canonical_url").collect()}
    assert got == sim_seen


def test_politeness_budget_invariant(spark, world, engine_run):
    """Per-host fetches per round never exceed the host budget."""
    eng, _ = engine_run
    robots = {r["host"]: r["crawl_delay_s"] for r in gen.gen_robots()}
    counts = (
        eng.fetched_log()
        .groupBy("round", "host")
        .count()
        .collect()
    )
    for row in counts:
        delay = robots.get(row["host"], 0.5)
        budget = max(1, int(ROUND_SECONDS // delay))
        assert row["count"] <= budget, (row["host"], row["round"])


def test_no_url_fetched_twice(spark, world, engine_run):
    eng, _ = engine_run
    dup = (
        eng.fetched_log()
        .groupBy("canonical_url")
        .count()
        .where(F.col("count") > 1)
        .count()
    )
    assert dup == 0


def test_robots_blocked_never_fetched(spark, world, engine_run):
    eng, _ = engine_run
    fetched = eng.fetched_log().select("canonical_url", "host").collect()
    rules = {r["host"]: r["disallow_prefixes"] for r in gen.gen_robots()}
    from urllib.parse import urlparse

    for row in fetched:
        path = urlparse(row["canonical_url"]).path
        for prefix in rules.get(row["host"], []):
            assert not path.startswith(prefix), row["canonical_url"]


def test_resume_exact_state(spark, world, oracle):
    """Kill after round 2, resume with a fresh engine → identical final log
    and seen set (exact-resume north-rule requirement)."""
    sim_log, sim_seen = oracle
    eng = _make_engine(spark, world, "state_resume")
    eng.run(max_rounds=2)
    # simulate a crash: partially-written round 3 directory, no _COMMIT
    partial = eng._round_dir(3)
    os.makedirs(os.path.join(partial, "results"), exist_ok=True)
    with open(os.path.join(partial, "results", "junk.parquet"), "w") as f:
        f.write("corrupt")

    eng2 = CrawlEngine(
        spark,
        state_dir=eng.state_dir,
        pages_path=world["pages_path"],
        robots=world["robots_df"],
        config=CrawlConfig(round_seconds=ROUND_SECONDS, bloom_partitions=8,
                           bloom_bits_per_segment=1 << 16),
    )
    assert eng2.last_committed() == 2
    eng2.run(max_rounds=2)  # rounds 3 and 4

    got = (
        eng2.fetched_log()
        .orderBy("round", "fetch_seq")
        .select("round", "fetch_seq", "canonical_url")
        .collect()
    )
    expected = [(f.round, f.fetch_seq, f.url) for f in sim_log]
    assert [(r["round"], r["fetch_seq"], r["canonical_url"]) for r in got] == expected
    got_seen = {r["canonical_url"] for r in eng2.seen().collect()}
    assert got_seen == sim_seen


def test_crash_mid_commit_leaves_round_uncommitted(spark, world, oracle, monkeypatch):
    """A crash while round 2's commit record is being written leaves a
    truncated ``_COMMIT.tmp``, never a truncated ``_COMMIT``: round 2 counts
    as uncommitted, and a resumed engine re-runs it to the uninterrupted
    fetch log and seen set."""
    from types import SimpleNamespace

    from crawler_engine_spark.frontier import rounds

    sim_log, sim_seen = oracle
    eng = _make_engine(spark, world, "state_commit_crash")
    eng.run(max_rounds=1)

    def dump_then_crash(record, f):
        f.write(json.dumps(record)[:20])
        raise OSError("disk full")

    with monkeypatch.context() as m:
        m.setattr(rounds, "json", SimpleNamespace(load=json.load, dump=dump_then_crash))
        with pytest.raises(OSError, match="disk full"):
            eng.run(max_rounds=1)
    with open(eng._commit_path(2) + ".tmp") as f:
        with pytest.raises(json.JSONDecodeError):
            json.load(f)
    assert eng.committed_rounds() == [0, 1]

    eng2 = CrawlEngine(
        spark,
        state_dir=eng.state_dir,
        pages_path=world["pages_path"],
        robots=world["robots_df"],
        config=CrawlConfig(round_seconds=ROUND_SECONDS, bloom_partitions=8,
                           bloom_bits_per_segment=1 << 16),
    )
    eng2.run(max_rounds=3)  # rounds 2, 3 and 4
    assert not os.path.exists(eng2._commit_path(2) + ".tmp")
    got = (
        eng2.fetched_log()
        .orderBy("round", "fetch_seq")
        .select("round", "fetch_seq", "canonical_url")
        .collect()
    )
    expected = [(f.round, f.fetch_seq, f.url) for f in sim_log]
    assert [(r["round"], r["fetch_seq"], r["canonical_url"]) for r in got] == expected
    assert {r["canonical_url"] for r in eng2.seen().collect()} == sim_seen


def test_seen_compaction_preserves_semantics(spark, world, oracle):
    """Compaction is pure read-fan-in optimization: a crawl that compacts
    after every round yields the identical fetched log and seen set as the
    oracle, resumes exactly, and _read_seen actually uses the compacted
    base (only the tail deltas remain in the union)."""
    import json as _json

    sim_log, sim_seen = oracle
    state = os.path.join(world["root"], "state_compact")
    if os.path.isdir(state):
        shutil.rmtree(state)
    cfg = CrawlConfig(round_seconds=ROUND_SECONDS, bloom_partitions=8,
                      bloom_bits_per_segment=1 << 16, compact_every=1)
    eng = CrawlEngine(spark, state, world["pages_path"], world["robots_df"], cfg)
    seeds_df = pd.DataFrame(world["seeds"])
    eng.init_from_seeds(
        spark.createDataFrame(seeds_df, "url string, seed_rank int, query string")
    )
    eng.run(max_rounds=2)
    assert eng.compacted_upto() == 2
    with open(os.path.join(eng.state_dir, "seen_compact", "_COMPACT")) as f:
        assert _json.load(f)["upto_round"] == 2

    # resume across the compaction boundary with a fresh engine
    eng2 = CrawlEngine(spark, state, world["pages_path"], world["robots_df"], cfg)
    eng2.run(max_rounds=2)

    got = (
        eng2.fetched_log().orderBy("round", "fetch_seq")
        .select("round", "fetch_seq", "canonical_url").collect()
    )
    assert [(r["round"], r["fetch_seq"], r["canonical_url"]) for r in got] == [
        (f.round, f.fetch_seq, f.url) for f in sim_log
    ]
    assert {r["canonical_url"] for r in eng2.seen().collect()} == sim_seen

    # a crash mid-swap (compact dir gone, marker gone) falls back to deltas
    shutil.rmtree(os.path.join(eng2.state_dir, "seen_compact"))
    assert eng2.compacted_upto() == -1
    assert {r["canonical_url"] for r in eng2.seen().collect()} == sim_seen


def test_expire_recrawls_only_expired_urls(spark, world):
    """Recrawl/TTL: expiring fetched URLs tombstones their seen records and
    requeues them; subsequent rounds fetch exactly those URLs a second time
    while everything else stays fetched-once.  Consumption is recorded in
    the commit, so a fresh engine (resume) does not double-consume."""
    from collections import Counter

    eng = _make_engine(spark, world, "state_expire")
    eng.run(max_rounds=2)
    fetched = [r["canonical_url"] for r in eng.fetched_log().collect()]
    assert len(fetched) == len(set(fetched))
    victims = sorted(set(fetched))[:4]
    vdf = spark.createDataFrame([(u,) for u in victims], "canonical_url string")

    n = eng.expire(vdf, requeue=True)
    assert n == 4
    # seen view no longer contains the victims; the raw log still does
    seen_urls = {r["canonical_url"] for r in eng.seen().collect()}
    assert not (set(victims) & seen_urls)

    eng.run(max_rounds=3)
    counts = Counter(r["canonical_url"] for r in eng.fetched_log().collect())
    for u in victims:
        assert counts[u] == 2, (u, counts[u])
    assert all(c == 1 for u, c in counts.items() if u not in victims)
    # victims are back in the seen view after the refetch
    seen_after = {r["canonical_url"] for r in eng.seen().collect()}
    assert set(victims) <= seen_after

    # resume with a fresh engine: requeue batches already consumed → no
    # third fetch
    eng2 = CrawlEngine(
        spark, eng.state_dir, world["pages_path"], world["robots_df"],
        CrawlConfig(round_seconds=ROUND_SECONDS, bloom_partitions=8,
                    bloom_bits_per_segment=1 << 16),
    )
    eng2.run(max_rounds=2)
    counts2 = Counter(r["canonical_url"] for r in eng2.fetched_log().collect())
    for u in victims:
        assert counts2[u] == 2


def test_expire_after_prune_never_reuses_batch_names(spark, world):
    """The expire-batch counter is persistent: pruning tombstones must not
    make a later expire() reuse a name (which would collide with the
    surviving requeue dir or with a committed consumed_requeue entry)."""
    eng = _make_engine(spark, world, "state_expire_seq")
    eng.run(max_rounds=2)
    fetched = sorted({r["canonical_url"] for r in eng.fetched_log().collect()})
    one = spark.createDataFrame([(fetched[0],)], "canonical_url string")
    two = spark.createDataFrame([(fetched[1],)], "canonical_url string")

    eng.expire(one, requeue=True)
    first_names = set(os.listdir(eng._requeue_dir()))
    eng.compact_seen()  # prunes the tombstone batch
    assert os.listdir(eng._tombstones_dir()) == []
    eng.expire(two, requeue=True)  # must not collide/reuse
    second_names = set(os.listdir(eng._requeue_dir())) - first_names
    assert len(second_names) == 1
    assert not (second_names & first_names)
    # both requeue batches are consumable: the next rounds refetch both
    from collections import Counter

    eng.run(max_rounds=3)
    counts = Counter(r["canonical_url"] for r in eng.fetched_log().collect())
    assert counts[fetched[0]] == 2 and counts[fetched[1]] == 2


def test_compaction_prunes_superseded_tombstones(spark, world):
    """After compaction the base is already tombstone-filtered and all tail
    deltas postdate the expiry, so batches with expired_at <= compact_upto
    must be deleted — and the seen view must not change."""
    eng = _make_engine(spark, world, "state_tomb_prune")
    eng.run(max_rounds=2)
    victims = sorted({r["canonical_url"] for r in eng.fetched_log().collect()})[:3]
    eng.expire(
        spark.createDataFrame([(u,) for u in victims], "canonical_url string"),
        requeue=False,
    )
    before = {r["canonical_url"] for r in eng.seen().collect()}
    assert not (set(victims) & before)
    assert len(os.listdir(eng._tombstones_dir())) == 1

    eng.compact_seen()
    assert os.listdir(eng._tombstones_dir()) == []  # pruned
    after = {r["canonical_url"] for r in eng.seen().collect()}
    assert after == before


def test_salted_politeness_bounds_skewed_reducer(spark):
    """SURVEY §4.2 hot-host scenario, structurally: with one host owning 30%
    of the frontier, the salted two-phase selection (a) still returns
    exactly the plain per-host top-k, and (b) bounds the largest window
    reducer group to ~hot/num_salts rows — the straggler-task data bound
    (no single task can exceed k× the median group when the data it sorts
    is capped)."""
    from pyspark.sql import Window

    from crawler_engine_spark.frontier import politeness
    from bench import _skewed_frontier

    n, budget, salts = 40_000, 20, 8
    df = _skewed_frontier(spark, n, 0.3, budget).cache()
    hot = int(n * 0.3)

    selected, remainder = politeness.select_batch(df, num_salts=salts)
    order = [F.col(c).asc() for c in politeness.PRIORITY_COLS] + [
        F.col("url_hash").asc()
    ]
    w = Window.partitionBy("host").orderBy(*order)
    plain = (
        df.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") <= F.col("host_budget"))
    )
    assert {r["canonical_url"] for r in selected.collect()} == {
        r["canonical_url"] for r in plain.collect()
    }
    assert selected.count() + remainder.count() == n

    # reducer bound: the hot host's 12k rows land in one plain window group,
    # but no salted phase-1 group exceeds ~hot/salts (±hash-balance noise)
    groups = (
        df.withColumn("_salt", F.pmod(F.col("url_hash"), F.lit(salts)).cast("int"))
        .groupBy("host", "_salt")
        .count()
    )
    counts = [r["count"] for r in groups.collect()]
    mx = max(counts)
    assert mx <= (hot / salts) * 1.25, mx
    assert mx * salts < hot * 1.3  # ~8x smaller than the unsalted group
    df.unpersist()


def test_ranked_frame_splits_batch_remainder_blocked(spark):
    """rank_batch labels every row: its ``_sel`` rows are exactly a plain
    per-host top-k over the allowed rows, even when robots-blocked rows
    hold a host's best priorities and one host owns most of the frame;
    the batch, the carried remainder and the blocked rows are disjoint
    filters whose union is the input, at any shuffle width."""
    from crawler_engine_spark.frontier import politeness

    # priority (0, i // 4, 0) and url_hash i % 2: rows i and i + 2 tie on
    # both, so only canonical_url orders them; i < 3 and every 9th row
    # are robots-blocked, which puts blocked rows first in every host
    hosts = (("hot", 400, 7), ("a", 30, 3), ("b", 12, 5), ("c", 2, 4))
    rows = [
        (f"https://{h}.example/p{i}", h, i % 2, 0, i // 4, 0, budget,
         not (i < 3 or i % 9 == 0))
        for h, n, budget in hosts
        for i in range(n)
    ]
    frame = spark.createDataFrame(
        rows,
        "canonical_url string, host string, url_hash long, depth int, "
        "parent_seq long, link_position int, host_budget int, allowed boolean",
    )
    want = set()
    for h, _, budget in hosts:
        allowed = sorted(
            (r for r in rows if r[1] == h and r[7]),
            key=lambda r: (r[3], r[4], r[5], r[2], r[0]),
        )
        want |= {r[0] for r in allowed[:budget]}
    blocked_urls = {r[0] for r in rows if not r[7]}

    conf = spark.conf
    saved = conf.get("spark.sql.shuffle.partitions")
    try:
        for parts in (1, 3, 16):
            conf.set("spark.sql.shuffle.partitions", str(parts))
            ranked = politeness.rank_batch(frame, num_salts=4)

            def urls(cond):
                return [r[0] for r in ranked.where(cond).select("canonical_url").collect()]

            batch = urls(F.col("_sel"))
            remainder = urls(F.col("allowed") & ~F.col("_sel"))
            blocked = urls(~F.col("allowed"))
            assert set(batch) == want, parts
            assert set(blocked) == blocked_urls, parts
            # pairwise disjoint, and together exactly the input
            assert sorted(batch + remainder + blocked) == sorted(r[0] for r in rows)
    finally:
        conf.set("spark.sql.shuffle.partitions", saved)


def test_resume_rejects_foreign_state_format(spark, world):
    """A state_dir written by an older checkpoint layout (no/other
    format_version in the round-0 commit) fails fast on resume instead of
    silently mis-reading it."""
    import json

    eng = _make_engine(spark, world, "state_fmt")
    eng.run(max_rounds=1)
    commit0 = eng._commit_path(0)
    with open(commit0) as f:
        rec = json.load(f)
    rec.pop("format_version")
    with open(commit0, "w") as f:
        json.dump(rec, f)
    with pytest.raises(RuntimeError, match="checkpoint format"):
        CrawlEngine(
            spark,
            state_dir=eng.state_dir,
            pages_path=world["pages_path"],
            robots=world["robots_df"],
            config=CrawlConfig(round_seconds=ROUND_SECONDS, bloom_partitions=8,
                               bloom_bits_per_segment=1 << 16),
        )


def test_resume_rejects_v2_state_format(spark, world):
    """A state_dir stamped format 2 (raw, uncompressed bloom segments) is
    refused on resume rather than its segments misread."""
    eng = _make_engine(spark, world, "state_fmt_v2")
    commit0 = eng._commit_path(0)
    with open(commit0) as f:
        rec = json.load(f)
    rec["format_version"] = 2
    with open(commit0, "w") as f:
        json.dump(rec, f)
    with pytest.raises(RuntimeError, match="checkpoint format"):
        CrawlEngine(
            spark,
            state_dir=eng.state_dir,
            pages_path=world["pages_path"],
            robots=world["robots_df"],
            config=CrawlConfig(round_seconds=ROUND_SECONDS, bloom_partitions=8,
                               bloom_bits_per_segment=1 << 16),
        )


def test_resume_keeps_round0_seen_set_geometry(spark, world):
    """A state dir's bloom geometry is fixed at round 0: resuming it under
    a config with other bloom knobs reads the segments with the round-0
    record's geometry, so no segment is misread into false negatives that
    would skip the exact anti-join and fetch a URL twice."""
    eng = _make_engine(spark, world, "state_geometry")
    eng.run(max_rounds=1)
    eng2 = CrawlEngine(
        spark,
        state_dir=eng.state_dir,
        pages_path=world["pages_path"],
        robots=world["robots_df"],
        config=CrawlConfig(round_seconds=ROUND_SECONDS, bloom_partitions=4,
                           bloom_bits_per_segment=1 << 12),
    )
    assert (eng2.bloom.num_partitions, eng2.bloom.bits) == (8, 1 << 16)
    assert len(eng2.run(max_rounds=2)) == 2
    dup = (
        eng2.fetched_log()
        .groupBy("canonical_url")
        .count()
        .where(F.col("count") > 1)
        .count()
    )
    assert dup == 0


def test_bloom_no_false_negatives(spark, world, engine_run):
    """Everything in the exact seen set must be flagged maybe_seen by the
    bloom segments (no false negatives — the exactness precondition)."""
    eng, _ = engine_run
    last = eng.last_committed()
    seen = eng.seen().select("canonical_url", "url_hash")
    flagged = eng.bloom.flag_maybe_seen(
        seen, os.path.join(eng._round_dir(last), "bloom")
    )
    assert flagged.where(~F.col("maybe_seen")).count() == 0


def test_seen_set_segment_contract(spark, tmp_path):
    """The seen set keeps the segment contract: an update writes all P
    segment files, carrying the partitions it did not touch forward
    byte-identical from prev_dir; prev_dir=None starts from empty segments;
    the probe has no false negatives; a segment decodes to the bits it was
    stored from; and a sparse segment is stored compressed."""
    import numpy as np

    from crawler_engine_spark.frontier.bloom import BloomSeenSet

    P = 4
    seen_set = BloomSeenSet(P, 1 << 12)
    urls = spark.createDataFrame(
        [(f"https://h{i % 7}.example/p{i}",) for i in range(80)],
        "canonical_url string",
    ).withColumn("url_hash", F.xxhash64("canonical_url"))
    urls = urls.withColumn("pid", F.pmod("url_hash", F.lit(P)))
    assert {r["pid"] for r in urls.select("pid").distinct().collect()} == set(range(P))
    first = urls.where("pid IN (0, 1)").drop("pid")
    second = urls.where("pid IN (2, 3)").drop("pid")
    d0, d1 = tmp_path / "b0", tmp_path / "b1"

    assert seen_set.update(first, prev_dir=None, out_dir=str(d0)) == 2
    assert seen_set.update(second, prev_dir=str(d0), out_dir=str(d1)) == 2

    def segments(d):
        files = sorted(d.iterdir())
        assert len(files) == P and not any(f.suffix == ".tmp" for f in files)
        return [f.read_bytes() for f in files]

    b0, b1 = segments(d0), segments(d1)
    assert sorted(os.listdir(d0)) == sorted(os.listdir(d1))
    # partitions 0, 1 are untouched by the second update: carried forward
    assert [x == y for x, y in zip(b0, b1)] == [True, True, False, False]
    # every untouched segment is its prev_dir file, byte for byte
    for pid in (0, 1):
        assert (d1 / f"segment_{pid:05d}.bin").read_bytes() == (
            d0 / f"segment_{pid:05d}.bin"
        ).read_bytes()
    # prev_dir=None: partitions 2, 3 start as the empty segment
    assert b0[2] == b0[3]
    assert seen_set.flag_maybe_seen(second, str(d0)).where("maybe_seen").count() == 0
    flagged = seen_set.flag_maybe_seen(first.unionByName(second), str(d1))
    assert flagged.where(~F.col("maybe_seen")).count() == 0

    # a stored segment reads back as the same bits
    bits = np.random.default_rng(0).random(seen_set.bits) < 0.1
    seen_set._store(bits, str(tmp_path / "rt"), 0)
    assert np.array_equal(seen_set._read(str(tmp_path / "rt"), 0), bits)

    # a sparse segment (20 keys in 2^16 bits) is stored in under 1/8 of its
    # raw 8 KiB
    sparse = BloomSeenSet(1, 1 << 16)
    d2 = tmp_path / "sparse"
    assert sparse.update(urls.limit(20).drop("pid"), prev_dir=None, out_dir=str(d2)) == 1
    assert (d2 / "segment_00000.bin").stat().st_size < (1 << 16) // 8 // 8


def test_host_reputation_scales_budgets(spark):
    """Reputation feedback: high-quality hosts earn larger politeness
    budgets, low-quality hosts are throttled but never starved, unknown
    hosts use the default factor — and the scaled budget drives
    select_batch directly."""
    from crawler_engine_spark.frontier import politeness
    from crawler_engine_spark.operators import urlops

    urls = [
        (f"https://{h}.example/p{i}",)
        for h in ("good", "bad", "unknown")
        for i in range(20)
    ]
    f = (
        spark.createDataFrame(urls, "canonical_url string")
        .withColumn("url_hash", urlops.url_hash_col(F.col("canonical_url")))
        .withColumn("host", urlops.host_col(F.col("canonical_url")))
        .withColumn("depth", F.lit(0))
        .withColumn("parent_seq", F.lit(-1).cast("long"))
        .withColumn("link_position", F.lit(0))
        .withColumn("host_budget", F.lit(4))
        .withColumn("allowed", F.lit(True))
    )
    rep = spark.createDataFrame(
        [("good.example", 1.0), ("bad.example", 0.0)], "host string, avg_quality double"
    )
    scaled = politeness.apply_host_reputation(f, rep)  # 0.5x..2x
    budgets = {
        r["host"]: r["b"]
        for r in scaled.groupBy("host").agg(F.max("host_budget").alias("b")).collect()
    }
    assert budgets == {
        "good.example": 8,   # 4 * 2.0
        "bad.example": 2,    # 4 * 0.5
        "unknown.example": 5,  # 4 * 1.25 (default quality 0.5)
    }
    selected, _ = politeness.select_batch(scaled)
    picked = {
        r["host"]: r["n"]
        for r in selected.groupBy("host").agg(F.count("*").alias("n")).collect()
    }
    assert picked == budgets  # budget binds (20 candidates per host)


def test_host_reputation_floor_is_float_safe(spark):
    """quality 0.6 → factor 1.4; budget 10 must scale to 14, not 13
    (IEEE 10×1.4 = 13.999999999999998)."""
    from crawler_engine_spark.frontier import politeness

    f = spark.createDataFrame(
        [("h.example", 10)], "host string, host_budget int"
    )
    rep = spark.createDataFrame([("h.example", 0.6)], "host string, avg_quality double")
    out = politeness.apply_host_reputation(f, rep).collect()[0]
    assert out["host_budget"] == 14


# ---------------------------------------------------------------------------
# Crawl-trap detection (frontier/traps.py)
# ---------------------------------------------------------------------------


def _trap_frontier(spark):
    """60 URLs of one exploding template on hostA + 3 calendar pages on
    hostA + 5 distinct templates on hostB."""
    rows = (
        [(f"https://hosta.example/doc/{i}",) for i in range(60)]
        + [(f"https://hosta.example/cal/2024/{m}",) for m in (1, 2, 3)]
        + [(f"https://hostb.example/{p}/1",) for p in "vwxyz"]
    )
    return spark.createDataFrame(rows, "canonical_url string")


def test_url_pattern_collapses_digits_and_hex(spark):
    from crawler_engine_spark.frontier.traps import url_pattern_col

    df = spark.createDataFrame(
        [
            ("https://h.example/doc/123?p=9",),
            ("https://h.example/s/deadbeefcafe42/x",),
            ("https://h.example/plain",),
        ],
        "u string",
    )
    got = [r["p"] for r in df.select(url_pattern_col(F.col("u")).alias("p")).collect()]
    assert got == [
        "https://h.example/doc/N?p=N",
        "https://h.example/s/H/x",  # mixed digit/letter hex collapses wholesale
        "https://h.example/plain",
    ]


def test_url_pattern_hardened_id_families(spark):
    """Uppercase session ids, %-encoded runs, dashed UUIDs, and base64-ish
    mixed tokens must each collapse to ONE template — these are the id
    families that previously escaped (each id a distinct pattern, defeating
    the trap profile)."""
    from crawler_engine_spark.frontier.traps import url_pattern_col

    groups = {
        # uppercase hex session ids (;JSESSIONID=...)
        "jsession": [
            f"https://h.example/cart;JSESSIONID={h}" for h in
            ("ABCDEF0123456789", "CAFEBABE00DEFACE", "0123ABCD4567EF89")
        ],
        # percent-encoded calendar params
        "pct": [
            f"https://h.example/cal?d=%2F{m}%2F2024%2F" for m in
            ("01%2F02", "03%2F04", "11%2F30")
        ],
        # dashed UUIDs
        "uuid": [
            f"https://h.example/item/{u}" for u in (
                "123e4567-e89b-12d3-a456-426614174000",
                "DEADBEEF-CAFE-BABE-FACE-0123456789AB",
                "00000000-1111-2222-3333-444455556666",
            )
        ],
        # base64ish mixed-alphanumeric tokens (not pure hex) — the B rule
        # requires >=2 actual digit runs (letter N's no longer count, see
        # test_url_pattern_letter_n_words_not_collapsed)
        "b64": [
            f"https://h.example/t/{t}" for t in
            ("dGhpcyBpc3Q1MnRva2Vu42xyz", "QWxhZGRpbjJvcGVuNHNlc2FtZTk3",
             "U2Vzc2lvbjc4OXRva2VuMTIz")
        ],
    }
    for name, urls in groups.items():
        df = spark.createDataFrame([(u,) for u in urls], "u string")
        pats = {
            r["p"]
            for r in df.select(url_pattern_col(F.col("u")).alias("p")).collect()
        }
        assert len(pats) == 1, f"{name}: {pats}"
    # pure words and single-digit-run tokens keep their identity
    df = spark.createDataFrame(
        [("https://h.example/about-us",), ("https://h.example/v2/api",)],
        "u string",
    )
    got = [r["p"] for r in df.select(url_pattern_col(F.col("u")).alias("p")).collect()]
    assert got == ["https://h.example/about-us", "https://h.example/vN/api"]


def test_url_pattern_letter_n_words_not_collapsed(spark):
    """Digit-free words containing literal N's must keep their identity
    (ADVICE r03: the B rule's placeholder N was indistinguishable from a
    literal letter N, so /CNN/ and /ANNUAL/ collapsed to /B/ and merged
    unrelated URL families into one trap group)."""
    from crawler_engine_spark.frontier.traps import url_pattern_col

    df = spark.createDataFrame(
        [
            ("https://h.example/CNN/news",),
            ("https://h.example/ANNUAL/report",),
            ("https://h.example/UNION/NATION",),
            # a token with digits AND letter N's still collapses to B
            ("https://h.example/t/N1bN2cN3d",),
            # single digit run next to letter N keeps its identity
            ("https://h.example/CNN2024/live",),
        ],
        "u string",
    )
    got = [r["p"] for r in df.select(url_pattern_col(F.col("u")).alias("p")).collect()]
    assert got == [
        "https://h.example/CNN/news",
        "https://h.example/ANNUAL/report",
        "https://h.example/UNION/NATION",
        "https://h.example/t/B",
        "https://h.example/CNNN/live",
    ]


def test_trap_profile_flags_only_exploding_patterns(spark):
    from crawler_engine_spark.frontier.traps import url_pattern_profile

    prof = url_pattern_profile(_trap_frontier(spark), threshold=50)
    flagged = {
        (r["host"], r["url_pattern"]): r["n_urls"]
        for r in prof.where("trap_suspect").collect()
    }
    assert flagged == {("hosta.example", "https://hosta.example/doc/N"): 60}
    assert prof.where("NOT trap_suspect").count() == 6  # 1 cal + 5 hostb


def test_prune_traps_samples_flagged_keeps_clean(spark):
    from crawler_engine_spark.frontier.traps import prune_traps, url_pattern_col

    frontier = _trap_frontier(spark)
    pruned = prune_traps(frontier, threshold=50, keep_per_pattern=10)
    out = [r["canonical_url"] for r in pruned.collect()]
    assert len(out) == len(set(out))
    doc = [u for u in out if "/doc/" in u]
    assert len(doc) == 10  # sampled down from 60
    assert set(u for u in out if "/doc/" not in u) == {
        r["canonical_url"]
        for r in frontier.where(~F.col("canonical_url").contains("/doc/")).collect()
    }
    # deterministic survivor set (lowest xxhash64 per pattern)
    again = [r["canonical_url"] for r in prune_traps(
        frontier, threshold=50, keep_per_pattern=10).collect()]
    assert sorted(out) == sorted(again)
    # schema passthrough
    assert pruned.columns == frontier.columns


# ---------------------------------------------------------------------------
# Sitemap ingestion (frontier/sitemaps.py)
# ---------------------------------------------------------------------------

_URLSET = (
    "<urlset><url><loc> https://A.Example/p?x=1&amp;y=2 </loc></url>"
    "<url><loc>https://a.example/q</loc></url>"
    "<url><loc>https://a.example/p?x=9#frag</loc></url></urlset>"
)
_INDEX = (
    "<sitemapindex><sitemap><loc>https://a.example/sitemap1.xml</loc>"
    "</sitemap></sitemapindex>"
)


def test_sitemap_locs_trim_and_entity_decode(spark):
    from crawler_engine_spark.frontier.sitemaps import sitemap_locs_col

    df = spark.createDataFrame(
        [(_URLSET,), ("<urlset><url><loc>https://x/&amp;lt;</loc></url></urlset>",)],
        "xml string",
    )
    got = [r["l"] for r in df.select(sitemap_locs_col(F.col("xml")).alias("l")).collect()]
    assert got[0] == [
        "https://A.Example/p?x=1&y=2",
        "https://a.example/q",
        "https://a.example/p?x=9#frag",
    ]
    # &amp;lt; is the literal text '&lt;', not '<'
    assert got[1] == ["https://x/&lt;"]


def test_sitemap_seeds_skip_index_canonicalize_dedup(spark):
    from crawler_engine_spark.frontier.sitemaps import (
        is_sitemap_index_col,
        seeds_from_sitemaps,
    )

    df = spark.createDataFrame([(_URLSET,), (_INDEX,)], "xml string")
    kinds = df.select(is_sitemap_index_col(F.col("xml")).alias("k")).collect()
    assert sorted(r["k"] for r in kinds) == [False, True]
    seeds = seeds_from_sitemaps(df)
    rows = {r["url"]: r["seed_rank"] for r in seeds.collect()}
    # index locs excluded; query/fragment dropped; host lowercased; deduped
    assert set(rows) == {"https://a.example/p", "https://a.example/q"}
    # init_from_seeds contract columns + deterministic rank
    assert seeds.columns == ["url", "seed_rank", "query"]
    again = {r["url"]: r["seed_rank"] for r in seeds_from_sitemaps(df).collect()}
    assert rows == again


def test_sitemap_seeds_drive_crawl_engine(spark, tmp_path):
    """Seeds produced from sitemaps feed CrawlEngine.init_from_seeds."""
    from crawler_engine_spark.data import gen as datagen
    from crawler_engine_spark.frontier.sitemaps import seeds_from_sitemaps

    pages = datagen.gen_pages_df(spark, 30, partitions=2)
    pages.write.mode("overwrite").parquet(str(tmp_path / "pages"))
    urls = [r["url"] for r in pages.select("url").limit(5).collect()]
    xml = "<urlset>" + "".join(f"<url><loc>{u}</loc></url>" for u in urls) + "</urlset>"
    seeds = seeds_from_sitemaps(spark.createDataFrame([(xml,)], "xml string"))
    robots = spark.createDataFrame(
        [], "host string, disallow_prefixes array<string>, crawl_delay_s double"
    )
    eng = CrawlEngine(
        spark,
        state_dir=str(tmp_path / "state"),
        pages_path=str(tmp_path / "pages"),
        robots=robots,
        config=CrawlConfig(round_seconds=1000.0, bloom_partitions=8,
                           bloom_bits_per_segment=1 << 16),
    )
    eng.init_from_seeds(seeds)
    rec = eng.run_round(1)
    assert rec is not None and rec["fetched"] == 5


def _page(links):
    body = "<p>Enough prose content for the extractor to call this a page "
    body += "with words words words words words words words words.</p>"
    body += "".join(f'<a href="{u}">link</a>' for u in links)
    return f"<html><body>{body}</body></html>".encode()


def test_engine_trap_guard_bounds_exploding_host(spark, tmp_path):
    """Engine-loop trap wiring: a host whose pages mint unbounded /doc/<id>
    links explodes the frontier in round 1; with trap_threshold set the
    committed frontiers stay bounded at keep_per_pattern and the commit
    records surface the flagged template count.  The guard-off engine on
    the same store keeps all 60."""
    pages_path = str(tmp_path / "pages")
    rows = [
        (
            "https://trap.example/start",
            _page([f"https://trap.example/doc/{i}" for i in range(60)]),
        )
    ] + [
        # each doc page mints 3 more (non-existent) doc links — an
        # unbounded template family, like a calendar or session-id trap
        (
            f"https://trap.example/doc/{i}",
            _page([f"https://trap.example/doc/{1000 + i * 10 + j}" for j in range(3)]),
        )
        for i in range(60)
    ]
    spark.createDataFrame(rows, "url string, html binary").repartition(4).write.mode(
        "overwrite"
    ).parquet(pages_path)
    robots = spark.createDataFrame(
        [], "host string, disallow_prefixes array<string>, crawl_delay_s double"
    )
    seeds = spark.createDataFrame(
        [("https://trap.example/start", 0, None)],
        "url string, seed_rank int, query string",
    )

    def run(state, threshold):
        eng = CrawlEngine(
            spark,
            state_dir=str(tmp_path / state),
            pages_path=pages_path,
            robots=robots,
            config=CrawlConfig(
                round_seconds=1000.0, bloom_partitions=8,
                bloom_bits_per_segment=1 << 16,
                trap_threshold=threshold, trap_keep_per_pattern=5,
            ),
        )
        eng.init_from_seeds(seeds)
        return eng.run(max_rounds=4)

    guarded = run("state_guarded", 12)
    # round 1: 60 discovered doc URLs hit the template profile → 1 flagged
    # template, frontier sampled down to keep_per_pattern
    assert guarded[0]["trap_patterns"] == 1
    assert guarded[0]["frontier_size"] == 5
    # round 2: the 5 kept pages mint 15 fresh doc URLs ≥ threshold → flagged
    # again; the round-3 frontier stays bounded instead of snowballing
    assert guarded[1]["trap_patterns"] == 1
    assert guarded[1]["frontier_size"] == 5
    assert guarded[-1]["total_fetched"] <= 1 + 5 + 5 + 5

    unguarded = run("state_unguarded", 0)
    assert unguarded[0]["trap_patterns"] == 0
    assert unguarded[0]["frontier_size"] == 60  # no guard → full explosion


def _authority_corpus(spark, tmp_path):
    """Page store + seeds where six seed hosts all cite hub.example but
    only one cites leaf.example — hub PageRank ≫ leaf PageRank."""
    pages_path = str(tmp_path / "pages")
    hub = [f"https://hub.example/p{j}" for j in range(10)]
    leaf = [f"https://leaf.example/p{j}" for j in range(10)]
    rows = [(f"https://s{i}.example/", _page(hub)) for i in range(1, 6)]
    rows.append(("https://s0.example/", _page(hub + leaf)))
    rows += [(u, _page([])) for u in hub + leaf]
    spark.createDataFrame(rows, "url string, html binary").repartition(4).write.mode(
        "overwrite"
    ).parquet(pages_path)
    robots = spark.createDataFrame(
        [], "host string, disallow_prefixes array<string>, crawl_delay_s double"
    )
    seeds = spark.createDataFrame(
        [(f"https://s{i}.example/", i, None) for i in range(6)],
        "url string, seed_rank int, query string",
    )
    return pages_path, robots, seeds


def _link_rank_crawl(spark, tmp_path, state, rounds, upto_round, **cfg_kwargs):
    pages_path, robots, seeds = _authority_corpus(spark, tmp_path)
    eng = CrawlEngine(
        spark,
        state_dir=str(tmp_path / state),
        pages_path=pages_path,
        robots=robots,
        # round_seconds=1.0 at the default 0.5 s crawl delay → base
        # budget 2 per host per round
        config=CrawlConfig(
            round_seconds=1.0, bloom_partitions=8,
            bloom_bits_per_segment=1 << 16, **cfg_kwargs,
        ),
    )
    eng.init_from_seeds(seeds)
    records = eng.run(max_rounds=rounds)
    per_host = {
        r["host"]: r["cnt"]
        for r in eng.fetched_log().where(f"round = {upto_round}")
        .groupBy("host").agg(F.count("*").alias("cnt")).collect()
    }
    return eng, records, per_host


def test_engine_link_rank_budget_prefers_authoritative_host(spark, tmp_path):
    """Engine-loop PageRank feedback: with link_rank_budget on, round 2
    ranks the round-1 host graph and rescales budgets — the hub
    (table-max rank) earns 2× the base budget while the leaf's
    interpolated factor floors to the liveness budget; the control engine
    fetches both equally."""

    def run(state, feedback):
        _, records, per_host = _link_rank_crawl(
            spark, tmp_path, state, rounds=2, upto_round=2,
            link_rank_budget=feedback,
        )
        return records, per_host

    records, per_host = run("state_rank", True)
    # round 1 has no accumulated edges yet; round 2 ranks and rescales
    assert [r["link_rank_applied"] for r in records] == [False, True]
    # hub rank is the table max → factor 2.0 → budget 4; leaf's factor
    # 0.5 + 1.5·(r_leaf/r_hub) ≈ 0.88 floors to the liveness budget 1
    assert per_host["hub.example"] == 4
    assert per_host["leaf.example"] == 1

    control, control_hosts = run("state_flat", False)
    assert all(not r["link_rank_applied"] for r in control)
    assert control_hosts["hub.example"] == control_hosts["leaf.example"] == 2


def test_engine_link_rank_focus_personalizes_to_seed_hosts(spark, tmp_path):
    """link_rank_focus: the engine's written rank table must equal
    personalized PageRank over the crawl's own host graph with the round-0
    seed hosts as teleport — and differ from the uniform table (the knob
    binds)."""
    from crawler_engine_spark.operators.linkrank import pagerank

    def ranks_table(state, focus):
        eng, _, _ = _link_rank_crawl(
            spark, tmp_path, state, rounds=2, upto_round=2,
            link_rank_budget=True, link_rank_focus=focus,
        )
        path = eng._round_dir(2) + "/host_ranks"
        return {
            r["host"]: r["rank_micro"]
            for r in spark.read.parquet(path).collect()
        }

    focused = ranks_table("state_focus", True)
    uniform = ranks_table("state_uniform", False)
    # the round-1 host graph is exactly {s_i→hub ×6, s0→leaf}
    edges = spark.createDataFrame(
        [(f"s{i}.example", "hub.example") for i in range(6)]
        + [("s0.example", "leaf.example")],
        "src string, dst string",
    )
    seeds = spark.createDataFrame(
        [(f"s{i}.example",) for i in range(6)], "node string"
    )
    expect = {
        r["node"]: r["rank_micro"]
        for r in pagerank(edges, iterations=5, teleport=seeds).collect()
    }
    assert focused == expect
    assert focused != uniform
    # non-seed hosts carry no restart mass under focus: pure in-link rank
    assert focused["hub.example"] > focused["leaf.example"] > 0


def test_host_edge_compaction_bounds_rank_read_fanin(spark, tmp_path):
    """compact_host_edges folds the per-round edge deltas into one
    distinct base; a rerank afterwards reads compact + tail only — proven
    by deleting the superseded deltas (retention) and still getting a
    rank table identical to the uncompacted engine's."""
    pages_path, robots, seeds = _authority_corpus(spark, tmp_path)

    def eng(state):
        e = CrawlEngine(
            spark, state_dir=str(tmp_path / state), pages_path=pages_path,
            robots=robots,
            config=CrawlConfig(round_seconds=1.0, bloom_partitions=8,
                               bloom_bits_per_segment=1 << 16,
                               link_rank_budget=True),
        )
        e.init_from_seeds(seeds)
        return e

    plain = eng("state_nocompact")
    plain.run(max_rounds=3)

    compacted = eng("state_compact")
    compacted.run(max_rounds=2)
    upto = compacted.compact_host_edges()
    assert upto == 2 and compacted.edges_compacted_upto() == 2
    # compact contents = distinct union of the deltas it covers
    base = spark.read.parquet(
        compacted.state_dir + "/edges_compact/data"
    ).collect()
    assert len(base) == len(set((r["src_host"], r["dst_host"]) for r in base))
    # retention: superseded per-round deltas can go away
    for j in (1, 2):
        d = compacted._round_dir(j) + "/host_edges"
        if os.path.isdir(d):
            shutil.rmtree(d)
    compacted.run(max_rounds=1)  # round 3 reranks from compact + tail
    want = {
        r["host"]: r["rank_micro"]
        for r in spark.read.parquet(
            plain._round_dir(3) + "/host_ranks"
        ).collect()
    }
    got = {
        r["host"]: r["rank_micro"]
        for r in spark.read.parquet(
            compacted._round_dir(3) + "/host_ranks"
        ).collect()
    }
    assert got == want
    # incremental: extends over the new tail, then no-ops
    assert compacted.compact_host_edges() == 3
    assert compacted.compact_host_edges() == 3

    # crash window of the rename-aside swap (ADVICE r03): a crash between
    # the two renames leaves only edges_compact.old — readers must fall
    # back to it, and the next compaction must recover from it.
    final = os.path.join(compacted.state_dir, "edges_compact")
    os.rename(final, final + ".old")
    assert compacted.edges_compacted_upto() == 3
    assert any(
        p.endswith("edges_compact.old/data")
        for p in host_edge_inputs(compacted.state_dir, compacted.committed_rounds())
    )
    compacted.run(max_rounds=1)  # round 4 adds a delta
    assert compacted.compact_host_edges() == 4
    assert os.path.isdir(final) and not os.path.isdir(final + ".old")
    assert compacted.edges_compacted_upto() == 4


def test_cli_rank_reads_edge_compaction_plus_tail(spark, tmp_path):
    """``crawl.py rank`` reads host edges through the same compaction
    reader as the engine: with the superseded deltas retired and the
    compaction caught in the rename-aside crash window (only
    ``edges_compact.old``), it ranks compaction + tail and writes the same
    rank_micro per host as pagerank over the uncompacted edge dirs."""
    from crawler_engine_spark.operators import linkrank

    pages_path, robots, seeds = _authority_corpus(spark, tmp_path)
    state = str(tmp_path / "state_cli_rank")
    eng = CrawlEngine(
        spark, state_dir=state, pages_path=pages_path, robots=robots,
        config=CrawlConfig(round_seconds=1.0, bloom_partitions=8,
                           bloom_bits_per_segment=1 << 16,
                           link_rank_budget=True),
    )
    eng.init_from_seeds(seeds)
    assert len(eng.run(max_rounds=3)) == 3
    edge_dirs = [
        d for j in eng.committed_rounds()
        for d in [eng._round_dir(j) + "/host_edges"] if os.path.isdir(d)
    ]
    assert len(edge_dirs) == 3
    want = {
        r["node"]: r["rank_micro"]
        for r in linkrank.pagerank(
            spark.read.parquet(*edge_dirs), src_col="src_host",
            dst_col="dst_host", iterations=4, eager=True,
        ).collect()
    }

    assert eng.compact_host_edges(upto_round=2) == 2
    for d in edge_dirs[:2]:
        shutil.rmtree(d)
    final = os.path.join(state, "edges_compact")
    os.rename(final, final + ".old")

    out = str(tmp_path / "ranks")
    proc = subprocess.run(
        [sys.executable, os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "crawl.py"), "rank",
         "--state", state, "--out", out, "--iterations", "4"],
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    rec = json.loads([l for l in proc.stdout.splitlines() if l.startswith("{")][-1])
    assert rec["edge_inputs"] == 2  # edges_compact.old/data + round 3's delta
    got = {r["node"]: r["rank_micro"] for r in spark.read.parquet(out).collect()}
    assert got == want
    assert rec["hosts"] == len(got)


def test_cli_rank_without_rounds_exits_with_message(tmp_path):
    """``crawl.py rank`` on a state dir with no ``rounds/`` exits with the
    "no host_edges" message, not a FileNotFoundError traceback (the round
    listing runs before any Spark session starts)."""
    proc = subprocess.run(
        [sys.executable, os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "crawl.py"), "rank",
         "--state", str(tmp_path), "--out", str(tmp_path / "ranks")],
        capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 1
    assert "rank: no host_edges under state" in proc.stderr
    assert "Traceback" not in proc.stderr, proc.stderr[-2000:]
    assert not os.path.exists(tmp_path / "ranks")


def test_engine_link_rank_cadence_reuses_rank_table(spark, tmp_path):
    """link_rank_every=2: round 2 computes and writes the rank table,
    round 3 reuses it (applied without recomputation) — the cadence that
    divides the feedback cost by N at scale.  Reuse still biases the
    round-3 batch toward the authoritative host."""
    eng, records, per_host = _link_rank_crawl(
        spark, tmp_path, "state_cadence", rounds=3, upto_round=3,
        link_rank_budget=True, link_rank_every=2,
    )
    assert [r["link_rank_applied"] for r in records] == [False, True, True]
    assert [r["link_rank_recomputed"] for r in records] == [False, True, False]
    # the table was written by round 2 only; round 3 read it back
    assert os.path.isdir(eng._round_dir(2) + "/host_ranks")
    assert not os.path.isdir(eng._round_dir(3) + "/host_ranks")
    # round 3: hub repays round-2 bucket debt down to base budget 1 → ×2
    # factor = 2 fetches; leaf stays at its liveness floor
    assert per_host["hub.example"] > per_host["leaf.example"] == 1


def test_crawl_bootstraps_from_sitemap_xml(spark, tmp_path):
    """A crawl started purely from sitemap XML: robots.txt Sitemap:
    directive → sitemap-index → leaf urlset → seeds → round 1 fetches
    exactly the sitemap's pages (discover_seeds_from_page_store, the
    crawl.py --sitemap-seeds path)."""
    from crawler_engine_spark.frontier.sitemaps import (
        discover_seeds_from_page_store,
    )

    content_urls = [f"https://s.example/page/{w}" for w in ("alpha", "beta", "gamma")]
    leaf = "<urlset>" + "".join(
        f"<url><loc>{u}</loc></url>" for u in content_urls
    ) + "</urlset>"
    index = (
        "<sitemapindex><sitemap><loc>https://s.example/leaf.xml</loc>"
        "</sitemap></sitemapindex>"
    )
    rows = [
        ("https://s.example/robots.txt",
         b"User-agent: *\nSitemap: https://s.example/sitemap_index.xml\n"),
        ("https://s.example/sitemap_index.xml", index.encode()),
        ("https://s.example/leaf.xml", leaf.encode()),
    ] + [(u, _page([])) for u in content_urls]
    pages_path = str(tmp_path / "pages")
    pages = spark.createDataFrame(rows, "url string, html binary")
    pages.write.mode("overwrite").parquet(pages_path)

    seeds = discover_seeds_from_page_store(spark.read.parquet(pages_path))
    assert {r["url"] for r in seeds.collect()} == set(content_urls)

    robots = spark.createDataFrame(
        [], "host string, disallow_prefixes array<string>, crawl_delay_s double"
    )
    eng = CrawlEngine(
        spark,
        state_dir=str(tmp_path / "state"),
        pages_path=pages_path,
        robots=robots,
        config=CrawlConfig(round_seconds=1000.0, bloom_partitions=8,
                           bloom_bits_per_segment=1 << 16),
    )
    eng.init_from_seeds(seeds)
    rec = eng.run_round(1)
    assert rec is not None and rec["fetched"] == 3
    fetched = {r["canonical_url"] for r in eng.fetched_log().collect()}
    assert fetched == set(content_urls)


def test_sitemap_discovery_from_robots(spark):
    """Sitemap: directives (any case, CRLF, outside agent groups) →
    (host, sitemap_url); non-robots pages ignored."""
    from crawler_engine_spark.frontier.sitemaps import sitemap_urls_from_robots

    robots_a = (
        b"User-agent: *\r\nDisallow: /private\r\n"
        b"SITEMAP: https://a.example/sitemap.xml\r\n"
        b"sitemap:   https://a.example/news.xml\r\n"
    )
    robots_b = b"User-agent: x\nAllow: /\n"  # no sitemap line
    rows = [
        ("https://a.example/robots.txt", robots_a),
        ("https://b.example/robots.txt", robots_b),
        ("https://a.example/page", b"Sitemap: https://evil.example/x.xml"),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")
    got = {
        (r["host"], r["sitemap_url"])
        for r in sitemap_urls_from_robots(pages).collect()
    }
    assert got == {
        ("a.example", "https://a.example/sitemap.xml"),
        ("a.example", "https://a.example/news.xml"),
    }
