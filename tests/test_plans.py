"""Plan-quality tests: the 'cite-by-design' Catalyst properties (SURVEY §4)
verified in explain() output — pushdown, pruning, broadcast, codegen."""

import os
import re

import pytest
from pyspark.sql import functions as F

from crawler_engine_spark.data import gen
from crawler_engine_spark.operators import urlops
from crawler_engine_spark.operators.extraction import extract_pages


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plans") / "pages")
    gen.gen_pages_df(spark, 100, partitions=4).write.parquet(p)
    return p


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_to_parquet(spark, pages_path):
    df = spark.read.parquet(pages_path).where(F.col("lang") == "en").select("url")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan


def test_column_pruning_reaches_scan(spark, pages_path):
    """Extraction reads only (url, html): text/lang/warc_ts must be pruned."""
    df = extract_pages(spark.read.parquet(pages_path), mode="adaptive")
    plan = _plan(df)
    assert "ReadSchema: struct<url:string,html:binary>" in plan


def test_broadcast_join_for_small_dim(spark, pages_path):
    pages = spark.read.parquet(pages_path)
    dim = spark.createDataFrame([("en", "English"), ("de", "German")], ["lang", "name"])
    plan = _plan(pages.join(F.broadcast(dim), "lang"))
    assert "BroadcastHashJoin" in plan


def test_whole_stage_codegen_for_url_ops(spark, pages_path):
    pages = spark.read.parquet(pages_path)
    df = pages.select(
        urlops.canonical_url_col(F.col("url")).alias("c"),
        urlops.host_col(F.col("url")).alias("h"),
        F.xxhash64("url").alias("x"),
    )
    plan = _plan(df)
    # "*(n)" node prefixes mark whole-stage-codegen stages in the plan string
    assert "*(1)" in plan
    # no Python evaluation node anywhere in the URL hot path
    assert "Python" not in plan


def test_partial_aggregation_before_shuffle(spark, pages_path):
    """Map-side combine: HashAggregate appears below AND above the Exchange."""
    pages = spark.read.parquet(pages_path)
    plan = _plan(pages.groupBy("lang").agg(F.count("*"), F.sum(F.length("html"))))
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_topk_uses_take_ordered(spark, pages_path):
    pages = spark.read.parquet(pages_path)
    plan = _plan(pages.orderBy(F.col("warc_ts").desc()).limit(5))
    assert "TakeOrderedAndProject" in plan  # no full sort for top-k


# ----------------------------------------------------------- round pipeline


@pytest.fixture(scope="module")
def frontier_df(spark):
    import pandas as pd

    from crawler_engine_spark.operators import urlops

    urls = [f"https://host{i % 5}.example/sec/p{i}" for i in range(200)]
    pdf = pd.DataFrame({"canonical_url": urls})
    df = spark.createDataFrame(pdf)
    return (
        df.withColumn("url_hash", urlops.url_hash_col(F.col("canonical_url")))
        .withColumn("host", urlops.host_col(F.col("canonical_url")))
        .withColumn("path", urlops.path_col(F.col("canonical_url")))
        .withColumn("depth", F.lit(0))
        .withColumn("parent_seq", F.lit(-1).cast("long"))
        .withColumn("link_position", F.lit(0))
        .withColumn("query", F.lit(None).cast("string"))
    )


def test_robots_join_broadcasts(spark, frontier_df):
    """J3: the robots rules table must reach the frontier as a broadcast —
    a shuffle join here would move the whole frontier for a tiny dim."""
    import pandas as pd

    from crawler_engine_spark.data import gen
    from crawler_engine_spark.frontier import politeness

    robots = spark.createDataFrame(
        pd.DataFrame(gen.gen_robots()),
        "host string, disallow_prefixes array<string>, crawl_delay_s double",
    )
    gated = politeness.apply_robots(frontier_df, robots, 10.0)
    plan = _plan(gated)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_politeness_selection_has_no_single_partition_exchange(spark, frontier_df):
    """W5: the salted two-phase window must never collapse to one reducer —
    `Exchange SinglePartition` in this plan would serialize the frontier."""
    from crawler_engine_spark.frontier import politeness

    with_budget = frontier_df.withColumns(
        {"host_budget": F.lit(3), "allowed": F.lit(True)}
    )
    selected, remainder = politeness.select_batch(with_budget, num_salts=4)
    for df in (selected, remainder):
        plan = _plan(df)
        assert "Exchange SinglePartition" not in plan, plan


def test_batch_selection_shuffles_no_host_only_exchange(spark, frontier_df):
    """Phase 2 of the selection sees the whole ranked frontier, so no
    Exchange may be keyed by ``host`` alone: a hot host would land on one
    reducer.  And the remainder is a filter of the ranked frame, not an
    anti-join of the frontier against the batch."""
    from crawler_engine_spark.frontier import politeness

    frame = frontier_df.withColumns({
        "host_budget": F.lit(3),
        "allowed": F.pmod(F.col("url_hash"), F.lit(5)) != 0,
    })
    plan = _plan(politeness.rank_batch(frame, num_salts=4))
    assert plan.count("Exchange hashpartitioning(") == 2, plan
    assert not re.search(r"Exchange hashpartitioning\(host#\d+, \d+\)", plan), plan
    for df in politeness.select_batch(frame, num_salts=4):
        assert "LeftAnti" not in _plan(df)


def test_fetch_simulate_broadcasts_page_store(spark, pages_path, frontier_df):
    """J2: the fetch-simulate join is a left outer join that broadcasts the
    page store (the build side) to the batch while the store is under
    ``autoBroadcastJoinThreshold``; above it the plan falls back to a
    sort-merge join, which shuffles the store."""
    from crawler_engine_spark.frontier.rounds import fetch_simulate

    pages = spark.read.parquet(pages_path).select("url", "html")
    plan = _plan(fetch_simulate(frontier_df, pages))
    assert re.search(r"BroadcastHashJoin .*, LeftOuter, BuildRight", plan), plan
    assert "SortMergeJoin" not in plan, plan
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(fetch_simulate(frontier_df, pages))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    assert re.search(r"SortMergeJoin .*, LeftOuter", plan), plan
    assert "BroadcastHashJoin" not in plan, plan


def test_fetch_sequence_has_no_single_partition_window(spark, frontier_df):
    """fetch_seq must be a distributed ranked sequence, not `Window [...]
    over ()` on one partition: one range-partitioned sort on the full
    order key feeding `AttachDistributedSequence`, and no
    `Exchange SinglePartition` anywhere.  The last node is internal API
    (``InternalFunction.distributed_sequence_id``), so this also pins it."""
    from crawler_engine_spark.frontier import politeness

    # non-constant priority fields, so the optimizer keeps them in the sort
    with_budget = frontier_df.withColumns({
        "host_budget": F.lit(3),
        "allowed": F.lit(True),
        "depth": F.pmod(F.col("url_hash"), F.lit(3)).cast("int"),
        "parent_seq": F.pmod(F.col("url_hash"), F.lit(5)),
        "link_position": F.pmod(F.col("url_hash"), F.lit(7)).cast("int"),
    })
    selected, _ = politeness.select_batch(with_budget, num_salts=4)
    plan = _plan(politeness.global_fetch_sequence(selected))
    assert "Exchange SinglePartition" not in plan, plan
    assert "AttachDistributedSequence" in plan, plan
    key = ", ".join(
        rf"{c}#\d+L? ASC NULLS FIRST"
        for c in politeness.PRIORITY_COLS + ["url_hash", "canonical_url"]
    )
    assert plan.count("rangepartitioning(") == 1, plan
    assert re.search(rf"rangepartitioning\({key}, \d+\)", plan), plan


def test_fetch_sequence_deterministic_under_drain(spark, frontier_df):
    """fetch_seq must come out the same under EVERY evaluation — including
    a plan derived from the result after a registry drain, which re-plans
    and re-evaluates from scratch.  Value lock: fetch_seq is a dense
    offset-based permutation aligned with the total priority order,
    identical per key before the drain, after the drain, and through a
    freshly-derived plan."""
    from crawler_engine_spark import caches
    from crawler_engine_spark.frontier import politeness

    with_budget = frontier_df.withColumns(
        {"host_budget": F.lit(3), "allowed": F.lit(True)}
    )
    selected, _ = politeness.select_batch(with_budget, num_salts=4)
    seq = politeness.global_fetch_sequence(selected, offset=7)

    def seq_by_key(rows, n_total):
        ordered = sorted(rows, key=lambda r: r["fetch_seq"])
        assert [r["fetch_seq"] for r in ordered] == list(
            range(7, 7 + n_total)
        )
        keys = [
            tuple(r[c] for c in politeness.PRIORITY_COLS + ["url_hash"])
            for r in ordered
        ]
        assert keys == sorted(keys)
        return dict(zip(keys, (r["fetch_seq"] for r in ordered)))

    rows = seq.collect()
    first = seq_by_key(rows, len(rows))
    # drain the registry mid-lifetime (the "release at any point is
    # correctness-safe" contract), then re-evaluate BOTH the original
    # DataFrame and a freshly-derived plan
    caches.release_all()
    derived = seq.where(F.col("fetch_seq") >= 0)
    assert seq_by_key(derived.collect(), len(rows)) == first
    assert seq_by_key(seq.collect(), len(rows)) == first


def test_fetch_sequence_matches_global_row_number(spark):
    """Value lock: with NULLs in every priority field and ties on
    (PRIORITY_COLS, url_hash), fetch_seq is offset + a single-partition
    global row_number over (PRIORITY_COLS, url_hash, canonical_url) at
    any shuffle width, with AQE on and off, and two filtered branches of
    one result joined back together agree on every row.  No evaluation
    leaves an RDD persisted in the block manager (without AQE's cleanup,
    AttachDistributedSequenceExec would strand its input cache)."""
    from pyspark.sql import Window

    from crawler_engine_spark.frontier import politeness

    def mod_or_null(i, m, k):  # i % k, but NULL on every m-th row
        return None if i % m == 0 else i % k

    df = spark.createDataFrame(
        [(f"https://h{i % 5}.example/p{i}", i % 6, mod_or_null(i, 11, 3),
          mod_or_null(i, 13, 4), mod_or_null(i, 17, 2)) for i in range(150)],
        "canonical_url string, url_hash long, depth int, parent_seq long, "
        "link_position int",
    )
    order = politeness.PRIORITY_COLS + ["url_hash", "canonical_url"]
    want = {
        r["canonical_url"]: r["want"]
        for r in df.select(
            "canonical_url",
            (F.lit(7) + F.row_number().over(Window.orderBy(*order)) - 1)
            .alias("want"),
        ).collect()
    }

    def persisted():
        return set(dict(spark.sparkContext._jsc.getPersistentRDDs()))

    before = persisted()
    conf = spark.conf
    saved = (conf.get("spark.sql.shuffle.partitions"),
             conf.get("spark.sql.adaptive.enabled"))
    try:
        for aqe in ("true", "false"):
            for parts in (1, 3, 16):
                conf.set("spark.sql.adaptive.enabled", aqe)
                conf.set("spark.sql.shuffle.partitions", str(parts))
                seq = politeness.global_fetch_sequence(df, offset=7)
                got = {r["canonical_url"]: r["fetch_seq"] for r in seq.collect()}
                assert got == want, (aqe, parts)
                a = seq.where(F.col("depth").isNull() | (F.col("depth") != 1))
                b = seq.where(F.coalesce(F.col("link_position"), F.lit(1)) == 1)
                pairs = a.select("canonical_url", "fetch_seq").join(
                    b.select("canonical_url", F.col("fetch_seq").alias("b_seq")),
                    "canonical_url",
                ).collect()
                assert pairs, (aqe, parts)
                assert all(
                    r["fetch_seq"] == r["b_seq"] == want[r["canonical_url"]]
                    for r in pairs
                ), (aqe, parts)
    finally:
        conf.set("spark.sql.shuffle.partitions", saved[0])
        conf.set("spark.sql.adaptive.enabled", saved[1])
    assert persisted() <= before


# ------------------------------------------------------- round-2 operators


def test_rule_stats_partial_aggregation(spark, pages_path):
    """A5 rule aggregation: map-side combine under the explode, one
    shuffle on the rule key."""
    res = extract_pages(spark.read.parquet(pages_path), mode="rule_based")
    agg = (
        res.select(F.explode("applied_rules").alias("rule"))
        .groupBy("rule")
        .agg(F.count("*").alias("n"))
    )
    plan = _plan(agg)
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange") == 1


def test_bucket_cap_adds_no_join_shuffle(spark):
    """The degenerate-bucket guard runs its window on the same
    (band, bucket) partitioning the self-join needs — capped and uncapped
    candidate plans must shuffle the same number of times."""
    from crawler_engine_spark.operators import dedup

    d = spark.createDataFrame(
        [(i, f"some words {i} repeated here {i % 7}") for i in range(50)],
        "doc_id long, text string",
    )
    # compare the LAZY join plans through the internal helper:
    # minhash_lsh_candidates itself now persists + eagerly fills the banded
    # projection (r05 cut-policy: recomputable cache instead of
    # unrecoverable checkpoint blocks), and cached plans print their
    # subtree per scan, which makes string-level Exchange counts on the
    # public function meaningless
    banded = dedup.minhash_banded(d, "text", "doc_id", 64, 32)
    plain = dedup._lsh_pair_join(dedup._cap_buckets(banded, None))
    capped = dedup._lsh_pair_join(dedup._cap_buckets(banded, 10))
    assert _plan(capped).count("Exchange") == _plan(plain).count("Exchange")


def test_ivf_udf_path_is_arrow_batched(spark):
    """Large-cell IVF assignment must be one ArrowEvalPython (vectorized),
    never row-at-a-time BatchEvalPython."""
    import numpy as np

    from crawler_engine_spark.operators import similarity

    rng = np.random.RandomState(3)
    df = spark.createDataFrame(
        [(i, rng.randn(8).tolist()) for i in range(64)],
        "vec_id long, embedding array<double>",
    )
    cents = rng.randn(40, 8).tolist()  # > IVF_EXPR_MAX_CELLS
    assigned = df.withColumn("cell", similarity.ivf_assign(F.col("embedding"), cents))
    plan = _plan(assigned)
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_compacted_seen_scan_reads_single_base(spark, tmp_path):
    """After compaction the seen union is {compact base} + tail deltas, not
    one scan per round: reading seen at the compaction frontier scans
    exactly one location."""
    import pandas as pd

    from crawler_engine_spark.data import gen
    from crawler_engine_spark.frontier.rounds import CrawlConfig, CrawlEngine

    pages = str(tmp_path / "pages")
    gen.gen_pages_df(spark, 60, partitions=2).write.parquet(pages)
    robots = spark.createDataFrame(
        pd.DataFrame(gen.gen_robots()),
        "host string, disallow_prefixes array<string>, crawl_delay_s double",
    )
    eng = CrawlEngine(
        spark, str(tmp_path / "state"), pages, robots,
        CrawlConfig(round_seconds=3.0, bloom_partitions=4,
                    bloom_bits_per_segment=1 << 14, compact_every=1),
    )
    eng.init_from_seeds(spark.createDataFrame(
        pd.DataFrame(gen.gen_seeds(60, 4)), "url string, seed_rank int, query string"
    ))
    eng.run(max_rounds=3)
    plan = _plan(eng.seen())
    assert plan.count("FileScan") == 1  # the compact base only

    # crash window of the rename-aside swap: only seen_compact.old is
    # complete, and readers fall back to it
    final = str(tmp_path / "state" / "seen_compact")
    os.rename(final, final + ".old")
    assert eng.compacted_upto() == 3
    assert _plan(eng.seen()).count("FileScan") == 1
    # the next compaction recovers: a new final dir, the .old one gone
    assert len(eng.run(max_rounds=1)) == 1
    assert eng.compact_seen() == 4
    assert os.path.isdir(final) and not os.path.isdir(final + ".old")


def test_windowed_operator_plans(spark):
    """asof_join: ONE key shuffle, no Python, never single-partition;
    sessionize: both windows share one exchange; range_join: a real
    equi-join (no nested-loop cartesian)."""
    import datetime as dt

    from crawler_engine_spark.operators.windowed import (
        asof_join,
        range_join,
        sessionize,
    )

    t = lambda s: dt.datetime(2026, 1, 1, 0, 0, s)
    left = spark.createDataFrame(
        [(1, 100, t(5))], "user_id long, event_id long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(1, t(4), 1.5)], "user_id long, ts timestamp, rate double"
    )
    p = _plan(asof_join(left, right, "user_id", "ts", ["rate"]))
    assert p.count("Exchange") == 1
    assert "SinglePartition" not in p
    assert "Python" not in p

    p = _plan(sessionize(left, "user_id", "ts", 60))
    assert p.count("Exchange") == 1 and p.count("Window") == 2

    pts = spark.createDataFrame([(1, 5.0)], "pid long, x double")
    rng = spark.createDataFrame([(10, 0.0, 10.0)], "rid long, lo double, hi double")
    p = _plan(range_join(pts, rng, "x", "lo", "hi", 5.0))
    assert "NestedLoop" not in p


def test_corpusops_plans(spark):
    """pii_redact/url_features: pure projections (zero exchanges);
    decontaminate: bench side broadcasts (no shuffle of the corpus grams
    for the join); pack_sequences: exactly the one stream-key shuffle into
    the Arrow-batched fold; chunk_dedup: hash exchanges only, never a
    single-partition collapse."""
    from crawler_engine_spark.operators import corpusops

    docs = spark.createDataFrame(
        [(1, "a b c", "s")], "doc_id long, text string, source string"
    )

    p = _plan(docs.select(corpusops.redact_pii_col(F.col("text")).alias("r")))
    assert "Exchange" not in p and "Python" not in p

    f = corpusops.url_feature_cols(F.col("text"))
    p = _plan(docs.select(*[c.alias(k) for k, c in f.items()]))
    assert "Exchange" not in p and "Python" not in p

    bench = spark.createDataFrame([("a b",)], "gram string")
    p = _plan(corpusops.decontaminate(docs, "text", "doc_id", bench, n=2))
    assert "BroadcastHashJoin" in p

    p = _plan(
        corpusops.pack_sequences(
            docs.select("source", "doc_id", F.lit(1).alias("wc")),
            "doc_id", "wc", "source", 256,
        )
    )
    assert "FlatMapGroupsInPandas" in p
    assert p.count("Exchange") == 1 and "SinglePartition" not in p

    p = _plan(corpusops.chunk_dedup(docs, "text", "doc_id"))
    assert "SinglePartition" not in p and "NestedLoop" not in p


def test_jvm_agg_catalog_queries_keep_partial_agg_first(spark):
    """pricing_summary / revenue_by_segment (the _t(parallel=False)
    queries): the partial HashAggregate must sit directly on the scan side
    — no RoundRobinPartitioning exchange of raw rows before it — and the
    join pipeline must broadcast the small dimensions, not shuffle
    lineitem."""
    import __spark_entry__ as entry_mod

    sf = "/root/testdata/sf0.001"
    q = entry_mod.queries()

    plan = _plan(q["pricing_summary"](spark, sf))
    assert "RoundRobinPartitioning" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final

    plan = _plan(q["revenue_by_segment"](spark, sf))
    assert "RoundRobinPartitioning" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_linkrank_plans(spark):
    """pagerank: all-JVM iteration (no Python), the reused node/edge
    tables come from the cache (InMemoryTableScan), and nothing collapses
    to a single partition; apply_link_rank: the host-cardinality rank
    table (with its in-plan max) broadcasts instead of shuffling the
    frontier; anchor_summary: partitioned windows only (no global window),
    no Python, no cartesian."""
    from crawler_engine_spark.operators import linkrank

    edges = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    p = _plan(linkrank.pagerank(edges, iterations=2))
    assert "Python" not in p
    assert "SinglePartition" not in p
    assert "InMemoryTableScan" in p  # persisted nodes/esrc, not re-scans
    assert "NestedLoop" not in p

    ranks = spark.createDataFrame([("h", 10)], "host string, rank_micro long")
    frontier = spark.createDataFrame(
        [("h", 4)], "host string, host_budget int"
    )
    p = _plan(linkrank.apply_link_rank(frontier, ranks))
    assert "BroadcastHashJoin" in p
    # the rank table's single-row max may collapse to one partition under
    # the broadcast; the frontier side (the join's first child, up to its
    # "+- " build child) must stay exchange-free
    lines = p.splitlines()
    j = next(i for i, line in enumerate(lines) if "BroadcastHashJoin" in line)
    depth = lines[j].index("BroadcastHashJoin")
    build = next(i for i in range(j + 1, len(lines))
                 if lines[i][depth:].startswith("+- "))
    assert "Exchange" not in "\n".join(lines[j + 1:build]), p

    pages = spark.createDataFrame(
        [("https://a.example/p", [("https://t.example/x", "t")])],
        "url string, links array<struct<href:string,text:string>>",
    )
    out = linkrank.anchor_summary(pages)
    p = _plan(out)
    # r05: the (target,text,src_host) pre-agg is eagerly persisted (its two
    # consumers share one recomputable materialization) and the validity
    # filter applies ABOVE the cache — inside the lineage Catalyst pushed
    # it below the union into the slow branch, where the predicate
    # referenced the resolve UDF's output and earned a SECOND stacked
    # ArrowEvalPython (the UDF then ran twice per document-relative
    # anchor; r04's checkpoint hid exactly that).  The cached pre-agg plan
    # must therefore hold ONE Arrow node, never a row-at-a-time
    # BatchEvalPython; the downstream rollup/window subtrees stay salted
    # and free of single-partition collapses.
    import re

    (g1_all,) = out._linkrank_caches
    cached = _plan(g1_all)
    # double-eval shows up as two distinct Arrow nodes with distinct
    # pythonUDF bindings (one for the projection, one for the extracted
    # predicate); cached-plan printing repeats identical subtrees, so count
    # DISTINCT instances, not string occurrences — require exactly one
    assert len(set(re.findall(r"pythonUDF\d+#\d+", cached))) == 1, cached
    assert len(set(re.findall(r"resolve_href_udf\([^)]*\)#(\d+)", p))) == 1, p
    assert len(set(re.findall(r"pythonUDF\d+#\d+", p))) == 1, p
    assert "BatchEvalPython" not in p
    assert "SinglePartition" not in p
    assert "NestedLoop" not in p
    linkrank.release_caches(out)
