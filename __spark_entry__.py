"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps SURVEY.md §2 operators (plus the training-data/windowed
additions) onto the driver-provided tables; ``oracle_sql()`` gives a
DuckDB-checkable oracle for EVERY query — including the hashing kernels
(md5-low64 recomputed via HUGEINT arithmetic) — so nothing in the catalog
is rows-only/self-certified.

Column names are aliased identically on both sides; floats are rounded to 4
decimals on both sides so value-hashes compare deterministically.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crawler_engine_spark.frontier import politeness
from crawler_engine_spark.operators import dedup, similarity, textstats, urlops
from crawler_engine_spark.operators.extraction import extract_pages


def _t(
    spark: SparkSession, sf_dir: str, name: str, parallel: bool = True
) -> DataFrame:
    """Read a driver table.  The sandbox tables are single small parquet
    files — one scan partition (one row group, so source splitting cannot
    help) — which would serialize every Python-kernel and explode-heavy
    stage onto one core; a real 100 TB table has thousands of splits.
    Repartition under-parallel scans up to the session's parallelism (a
    few-MB shuffle) so the sandbox plan has the cluster plan's
    parallelism; filters still push through the exchange.

    ``parallel=False`` skips the repartition: for map-side-combinable
    JVM aggregations the exchange lands BEFORE the partial aggregate and
    shuffles every raw row — the wrong plan at every scale (a cluster
    scan gets its parallelism from splits, then combines map-side; the
    sandbox stand-in for that is the single-task partial agg, not a
    full-row round-robin shuffle)."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if not parallel:
        return df
    p = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < p:
        df = df.repartition(p)
    return df


# --------------------------------------------------------------------------
# URL synthesis shared by the frontier queries (same expression in SQL below)
# --------------------------------------------------------------------------


def _order_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic raw URLs from orders: mixed-case hosts + query strings +
    fragments exercise canonicalization (P1/P2)."""
    o = _t(spark, sf_dir, "orders")
    suffix = (
        F.when(F.col("o_orderkey") % 4 == 0, F.lit("?utm=x&ref=1"))
        .when(F.col("o_orderkey") % 4 == 1, F.lit("#frag"))
        .when(F.col("o_orderkey") % 4 == 2, F.lit("?a=1#b"))
        .otherwise(F.lit(""))
    )
    raw = F.concat(
        F.lit("https://Host"),
        (F.col("o_custkey") % 20).cast("string"),
        F.lit(".Example/sec/doc"),
        F.col("o_orderkey").cast("string"),
        suffix,
    )
    return o.select(F.col("o_orderkey").alias("okey"), raw.alias("raw_url"))


_ORDER_URLS_SQL = """
    SELECT o_orderkey AS okey,
           'https://Host' || CAST(o_custkey % 20 AS VARCHAR) || '.Example/sec/doc'
             || CAST(o_orderkey AS VARCHAR)
             || CASE CAST(o_orderkey % 4 AS INTEGER)
                  WHEN 0 THEN '?utm=x&ref=1' WHEN 1 THEN '#frag'
                  WHEN 2 THEN '?a=1#b' ELSE '' END AS raw_url
    FROM orders
"""

_CANON_SQL = (
    "'https://' || lower(regexp_extract(raw_url, '^https://([^/?#]*)', 1)) "
    "|| regexp_extract(raw_url, '^https://[^/?#]*([^?#]*)', 1)"
)


# --------------------------------------------------------------------------
# Queries
# --------------------------------------------------------------------------


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1+P2: sanitize+normalize as JVM column expressions."""
    urls = _order_urls(spark, sf_dir)
    canon = urlops.canonical_url_col(F.col("raw_url"))
    return urls.select(
        "okey",
        canon.alias("canonical_url"),
        urlops.host_col(canon).alias("host"),
    )


def q_url_valid_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3+P4: validity + http(s) predicate counts over a mixed URL corpus."""
    o = _t(spark, sf_dir, "orders")
    raw = (
        F.when(o.o_orderkey % 3 == 0,
               F.concat(F.lit("https://h.example/d/"), o.o_orderkey.cast("string")))
        .when(o.o_orderkey % 3 == 1,
              F.concat(F.lit("relative/path/"), o.o_orderkey.cast("string")))
        .otherwise(F.concat(F.lit("ftp://files.example/"), o.o_orderkey.cast("string")))
    )
    df = o.select(raw.alias("url"))
    return (
        df.select(
            urlops.is_valid_url_col(F.col("url")).alias("is_valid"),
            F.col("url").rlike("^https?://").alias("is_http"),
        )
        .groupBy("is_valid", "is_http")
        .agg(F.count("*").alias("n"))
    )


def q_frontier_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: frontier novelty anti-join (new = candidates − seen), per host."""
    urls = q_url_canonicalize(spark, sf_dir)
    seen = urls.where(F.col("okey") % 7 == 0).select("canonical_url")
    new = urls.join(seen, on="canonical_url", how="left_anti")
    return new.groupBy("host").agg(F.count("*").alias("n_new"))


def q_politeness_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5: the engine's salted two-phase per-host top-k
    (``politeness.select_batch``) — must equal the oracle's plain window
    top-k (proves the skew-safe selection is exact)."""
    urls = q_url_canonicalize(spark, sf_dir)
    f = urls.withColumns({
        "url_hash": F.xxhash64("canonical_url"), "parent_seq": F.col("okey"),
        "depth": F.lit(0), "link_position": F.lit(0),
        "host_budget": F.lit(5), "allowed": F.lit(True),
    })
    selected, _ = politeness.select_batch(f)
    w = Window.partitionBy("host").orderBy("parent_seq")
    return selected.select("host", "canonical_url", F.row_number().over(w).alias("rank"))


def q_batch_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: batch success summary over events.

    The average is computed as an exact decimal sum divided by the count so
    the pre-round double is independent of partition/accumulation order
    (plain ``avg(double)`` can differ from a sequential engine in the last
    ulp and flip a 4-decimal rounding boundary at larger SFs)."""
    e = _t(spark, sf_dir, "events")
    avg_stable = (
        F.sum(F.col("value").cast("decimal(38,12)")).cast("double") / F.count("*")
    )
    return e.agg(
        F.count("*").alias("total"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("clicks"),
        F.round(avg_stable, 4).alias("avg_value"),
    )


def q_strategy_running_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: per-strategy averages (hash-agg replaces incremental means)."""
    e = _t(spark, sf_dir, "events")
    avg_stable = (
        F.sum(F.col("value").cast("decimal(38,12)")).cast("double") / F.count("*")
    )
    return e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(avg_stable, 4).alias("avg_value"),
    )


def q_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: word/char counts + reading time per document."""
    d = _t(spark, sf_dir, "documents")
    wc = textstats.token_count_col(F.col("text"))
    return d.select(
        "doc_id",
        wc.alias("word_count"),
        F.length("text").alias("char_count"),
        F.round(wc / 200.0, 4).alias("reading_minutes"),
    )


def q_partition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: per-source lineage metrics (order-insensitive average: exact long
    sum divided by count; n_chars sums stay far below 2^53)."""
    d = _t(spark, sf_dir, "documents")
    avg_stable = F.sum("n_chars").cast("double") / F.count("*")
    return d.groupBy("source").agg(
        F.count("*").alias("docs"),
        F.sum("n_chars").alias("total_chars"),
        F.round(avg_stable, 4).alias("avg_chars"),
    )


def q_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per order priority (distribution
    profiling — Spark `percentile` ≡ DuckDB `quantile_cont`)."""
    o = _t(spark, sf_dir, "orders")
    qs = F.expr("percentile(o_totalprice, array(0.25D, 0.5D, 0.75D, 0.95D))")
    return (
        o.groupBy("o_orderpriority")
        .agg(qs.alias("q"))
        .select(
            "o_orderpriority",
            F.round(F.element_at("q", 1), 4).alias("p25"),
            F.round(F.element_at("q", 2), 4).alias("p50"),
            F.round(F.element_at("q", 3), 4).alias("p75"),
            F.round(F.element_at("q", 4), 4).alias("p95"),
        )
    )


def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: global top-k (TakeOrderedAndProject, no full sort)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .select("o_orderkey", F.round("o_totalprice", 4).alias("total_price"))
        .limit(10)
    )


def q_first_events_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/W6: ranked window — first 3 events per user by time."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("user_id", "event_id", "rn")
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization over the events stream (30-min gap): the custom
    windowed operator the brief names — pure window composition."""
    from crawler_engine_spark.operators.windowed import sessionize

    e = _t(spark, sf_dir, "events")
    out = sessionize(e, "user_id", "ts", gap_seconds=1800, order_cols=["event_id"])
    return out.select("user_id", "event_id", "session_id")


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every event picks the latest profile 'rate' update at or
    before its timestamp (updates synthesized deterministically from the
    events stream itself; DuckDB's native ASOF LEFT JOIN is the oracle)."""
    from crawler_engine_spark.operators.windowed import asof_join

    e = _t(spark, sf_dir, "events")
    updates = (
        e.where(F.col("event_id") % 17 == 0)
        .groupBy("user_id", "ts")
        .agg(F.round(F.max("value"), 4).alias("rate"))
    )
    left = e.select("user_id", "event_id", "ts")
    out = asof_join(left, updates, on="user_id", ts_col="ts", value_cols=["rate"])
    # no-match sentinel instead of null: engines disagree on whether a null
    # double surfaces as None or NaN through pandas, which would skew the
    # value hash even though the semantics agree
    return out.select(
        "event_id", "user_id", F.coalesce("rate", F.lit(-1.0)).alias("rate")
    )


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval-containment) join, bin-bucketized: which overlapping
    price bands contain each order — the brief-named custom operator
    realized as explode-to-bins + equi-join + exact filter."""
    from crawler_engine_spark.operators.windowed import range_join

    o = _t(spark, sf_dir, "orders")
    bands = spark.range(10).select(
        F.col("id").alias("band_id"),
        (F.col("id") * 20000.0).alias("lo"),
        (F.col("id") * 20000.0 + 24999.0).alias("hi"),
    )
    pts = o.select("o_orderkey", F.col("o_totalprice").alias("price"))
    out = range_join(pts, bands, "price", "lo", "hi", bin_width=20000.0)
    return out.select("o_orderkey", "band_id")


def q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: multi-granularity rollup
    (type × day → type → grand total) with decimal-stable sums."""
    e = _t(spark, sf_dir, "events")
    rolled = e.rollup(F.col("event_type"), F.to_date("ts").alias("day")).agg(
        F.count("*").alias("n"),
        F.round(
            F.sum(F.col("value").cast("decimal(38,12)")).cast("double"), 2
        ).alias("sum_value"),
    )
    # subtotal marker rows render as 'ALL' (sortable/hashable everywhere,
    # unlike mixed null/date columns)
    return rolled.select(
        F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
        F.coalesce(F.col("day").cast("string"), F.lit("ALL")).alias("day"),
        "n",
        "sum_value",
    )


def q_region_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2-analog: broadcast dimension joins customer ⋈ nation ⋈ region."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.count("*").alias("customers"),
            F.round(
                F.sum(F.col("c_acctbal").cast("decimal(38,12)")).cast("double")
                / F.count("*"),
                4,
            ).alias("avg_acctbal"),
        )
    )


def q_revenue_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3-style join pipeline: lineitem ⋈ orders ⋈ customer rollup.
    JVM-only: the scans feed broadcast joins + a partial agg directly
    (parallel=False — a pre-agg repartition would shuffle every raw row,
    see _t).  The money columns are exact 2-decimal fixed point, so the
    deterministic-sum convention uses unscaled ×10^4 LONG sums (the
    product has 4 decimals) instead of decimal(38,12) — exact integer
    arithmetic, ~3× faster (long-backed vs 128-bit decimal accumulation),
    same order-independence; the oracle mirrors the expression verbatim.
    Long bound: 1.05e9 unscaled/row ⇒ overflows past ~8×10^9 rows — at
    the full 10^10-row design point promote to decimal(27,4) sums."""
    l = _t(spark, sf_dir, "lineitem", parallel=False)
    o = _t(spark, sf_dir, "orders", parallel=False)
    c = _t(spark, sf_dir, "customer", parallel=False)
    unscaled = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(
            F.round(F.sum(unscaled).cast("double") / 10000.0, 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_items"),
        )
    )


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 analog: map-side-combinable wide aggregation.  JVM-only —
    the scan feeds the partial agg directly (parallel=False, see _t).
    The measures are exact 2-decimal fixed point, so the deterministic-sum
    convention uses unscaled ×100 LONG sums instead of decimal(38,12):
    exact integer arithmetic with the same order-independence, ~3× faster
    (long-backed vs 128-bit decimal accumulation — the r02 bench
    regression 0.47→1.33 s was this query's decimal sums); the oracle
    mirrors the expression verbatim.  Long bound: ≤1.05e7 unscaled/row ⇒
    safe past 10^11 rows."""
    l = _t(spark, sf_dir, "lineitem", parallel=False)

    def u(c: str):
        return F.round(F.col(c) * 100).cast("long")

    return (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(u("l_quantity")).cast("double") / 100.0, 2).alias(
                "sum_qty"
            ),
            F.round(
                F.sum(u("l_extendedprice")).cast("double") / 100.0, 2
            ).alias("sum_base_price"),
            F.round(
                F.sum(u("l_discount")).cast("double") / 100.0 / F.count("*"),
                4,
            ).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q_tag_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/§2.7: sorted-distinct union per key (deterministic set merge)."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.concat_ws(",", F.sort_array(F.collect_set("event_type"))).alias("event_types")
    )


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content digest."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.withColumn("digest", F.md5("text"))
        .groupBy("digest")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("dup_count"))
    )


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting (md5-prefix, engine-portable)."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", F.substring(F.md5("text"), 1, 16).alias("fp_hex"))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (stopword-marker ratios, argmax)."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", textstats.lang_id_col(F.col("text")).alias("lang_pred"))


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring (oracle mirrors the exact term order)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.round(textstats.quality_score_col(F.col("text")), 4).alias("quality")
    )


def q_unigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity proxy: per-document negative mean log-prob
    under the corpus unigram LM (add-k smoothed), as two map-side-combined
    aggregations + a term join — no UDFs."""
    d = _t(spark, sf_dir, "documents")
    scored = textstats.unigram_logprob_scores(d, "text", "doc_id", k=0.5)
    return scored.select("doc_id", F.round("nll", 4).alias("nll"))


_BM25_QUERY = "spark join window merge stream"


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical retrieval: Okapi BM25 top-20 over documents as pure
    DataFrame aggregations (explode → map-side-combined tf, tiny broadcast
    df table, decimal-stable score sum)."""
    d = _t(spark, sf_dir, "documents")
    scored = textstats.bm25_scores(d, "text", "doc_id", _BM25_QUERY)
    return (
        scored.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .select("doc_id", F.round("bm25", 4).alias("bm25"))
        .limit(20)
    )


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity search: exact cosine top-10 vs the vec_id=0 query vector."""
    e = _t(spark, sf_dir, "embeddings")
    query = e.where(F.col("vec_id") == 0).first()["embedding"]
    res = similarity.cosine_topk_brute(e, "embedding", "vec_id", query, k=10)
    return res.select("vec_id", F.round("cosine", 4).alias("cosine"))


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (exact pairwise over label-blocked subsets)."""
    e = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 200)
    a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("emb_a"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("emb_b"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    cos = dedup.cosine_col(F.col("emb_a"), F.col("emb_b"))
    return (
        pairs.select("id_a", "id_b", F.round(cos, 4).alias("cosine"))
        .where(F.col("cosine") >= 0.3)
    )


def q_embedding_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path, oracle-checked exact: IVF coarse quantization
    (deterministic seeded centroids, distributed cell assignment) probing
    ALL cells — must reproduce the exact brute-force top-k; cell-pruned
    recall is locked separately by tests/test_pipeline_ops.py."""
    e = _t(spark, sf_dir, "embeddings")
    query = e.where(F.col("vec_id") == 0).first()["embedding"]
    cents = similarity.build_ivf_centroids(e, "embedding", n_cells=8, sample=512)
    res = similarity.cosine_topk_ivf(
        e, "embedding", "vec_id", query, cents, k=10, n_probe=len(cents)
    )
    return res.select("vec_id", F.round("cosine", 4).alias("cosine"))


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing, oracle-checked on the Spark-side surface:
    binary payload column → Arrow-batched feature extraction (decode is the
    deterministic fake; byte counts and statuses are engine-portable)."""
    from crawler_engine_spark.operators.multimodal import extract_media_features

    d = _t(spark, sf_dir, "documents")
    kind = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("image"))
        .when(F.col("doc_id") % 3 == 1, F.lit("audio"))
        .otherwise(F.lit("video"))
    )
    media = d.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    res = extract_media_features(media, fake_decode=True)
    return res.select(
        "media_id", "kind", "payload_bytes", "decode_status",
        F.size("feature").alias("feature_dim"),
    )


def q_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup, oracle-checked against exact all-pairs Jaccard:
    at 64 perms / 32 bands (r=2) the banded buckets recover every pair with
    J ≥ 0.5 on this corpus (miss prob ≤ (1-J²)³² ≈ 1e-4 at the threshold;
    verified 0 missing at sf0.001 and sf0.01), so the LSH-then-verify output
    equals the exact-Jaccard join the oracle computes."""
    d = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_candidates(d, "text", "doc_id", num_perm=64, bands=32)
    return dedup.verify_jaccard(pairs, d, "text", "doc_id", threshold=0.5).select(
        "id_a", "id_b", F.round("jaccard", 4).alias("jaccard")
    )


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash kernel itself, oracle-checked value-for-value: signatures
    are md5-low64 shingle hashes pushed through 64 universal-hash
    permutations (wrapping uint64, then mod 2^61-1) — the oracle recomputes
    the identical integers with HUGEINT arithmetic in DuckDB."""
    d = _t(spark, sf_dir, "documents")
    sig = dedup.make_minhash_udf(num_perm=64, shingle_n=3)(F.col("text"))
    return d.select(
        "doc_id",
        F.concat_ws(",", F.transform(sig, lambda x: x.cast("string"))).alias("sig_csv"),
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures, oracle-checked: per-token md5-low64 bit votes;
    emitted as a 16-hex-digit string so signedness never skews the compare."""
    d = _t(spark, sf_dir, "documents")
    sig = dedup.simhash_udf(F.col("text"))
    return d.select(
        "doc_id", F.lpad(F.lower(F.hex(sig)), 16, "0").alias("simhash_hex")
    )


def q_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical training-data preprocessing funnel as ONE pipeline:
    language-ID gate + quality-score gate + near-dup removal (drop every
    non-minimum member of each MinHash cluster).  Composes lang_id,
    quality_score, minhash_near_dup, and near_dup_clusters — all
    independently oracle-checked — into the end-to-end corpus filter a
    100 TB pretraining pipeline actually runs."""
    d = _t(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        textstats.lang_id_col(F.col("text")).alias("lang_pred"),
        F.round(textstats.quality_score_col(F.col("text")), 4).alias("quality"),
    )
    pairs = dedup.minhash_lsh_candidates(d, "text", "doc_id", num_perm=64, bands=32)
    verified = dedup.verify_jaccard(pairs, d, "text", "doc_id", threshold=0.5)
    cc = dedup.connected_components(verified)
    drop = cc.where(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    return (
        scored.where((F.col("lang_pred") == "en") & (F.col("quality") >= 0.5))
        .join(drop, "doc_id", "left_anti")
        .select("doc_id", "quality")
    )


def q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: verified MinHash pairs → connected components
    (component = min reachable doc_id; the keep-one-per-cluster step of a
    web-scale dedup pipeline).  Oracle: recursive-CTE transitive closure
    over the same exact-Jaccard pair set."""
    d = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_candidates(d, "text", "doc_id", num_perm=64, bands=32)
    verified = dedup.verify_jaccard(pairs, d, "text", "doc_id", threshold=0.5)
    return dedup.connected_components(verified).select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard pairs within source blocks (n=2, tiny threshold
    keeps output deterministic but non-empty on word-salad docs)."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    return dedup.ngram_jaccard_pairs(d, "text", "doc_id", "source", n=2, threshold=0.05).select(
        "id_a", "id_b", F.round("jaccard", 4).alias("jaccard")
    )


_PAGE_HTML = (
    "'<html lang=\"en\"><head><title>Doc ' || CAST(doc_id AS VARCHAR) || "
    "'</title></head><body><article><p>' || text || '</p></article>"
    "<ul><li>alpha</li><li>' || source || '</li></ul>"
    "<a href=\"/d/' || CAST(doc_id AS VARCHAR) || '\">next</a></body></html>'"
)


def _doc_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize HTML pages from documents (both engines build the same
    string; the oracle reproduces the extraction output in SQL)."""
    d = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<html lang="en"><head><title>Doc '),
        F.col("doc_id").cast("string"),
        F.lit("</title></head><body><article><p>"),
        F.col("text"),
        F.lit("</p></article><ul><li>alpha</li><li>"),
        F.col("source"),
        F.lit('</li></ul><a href="/d/'),
        F.col("doc_id").cast("string"),
        F.lit('">next</a></body></html>'),
    )
    url = F.concat(F.lit("https://docs.example/d/"), F.col("doc_id").cast("string"))
    return d.select(url.alias("url"), html.alias("html"), F.col("doc_id"))


def q_extract_structured(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The extraction kernel itself, oracle-checked byte-for-byte: on this
    fixed template the structured-strategy output is expressible in SQL."""
    pages = _doc_pages(spark, sf_dir)
    res = extract_pages(pages, mode="structured")
    return res.select(
        "url", "content", "title", "word_count",
        F.round("confidence_score", 4).alias("confidence"),
    )


def q_extract_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive composite extraction (rows-only: PAGE METADATA/HEADINGS/
    FULL TEXT/LINKS block)."""
    pages = _doc_pages(spark, sf_dir)
    res = extract_pages(pages, mode="adaptive")
    return res.select("url", "content", "word_count", F.size("out_links").alias("n_links"))


_SEM_QUERY = "spark join merge window table"


def q_extract_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic strategy, oracle-checked: single-chunk docs (all < 2000
    chars), keyword relevance = |query∩chunk words| / |query words| with the
    0.6 threshold (semantic_strategy.py:349-371), confidence = mean chunk
    relevance."""
    pages = _doc_pages(spark, sf_dir)
    res = extract_pages(pages, mode="semantic", query=_SEM_QUERY)
    return res.select(
        "url", "content",
        F.round("confidence_score", 4).alias("confidence"),
        "word_count",
    )


def q_extract_rule_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based strategy, oracle-checked: prioritized selector rules with
    the >50-char element filter and the >min_content_length early stop
    (rule_based_strategy.py:351-410) — on this template the article rule
    fires, then (for 51..100-char docs) the paragraph rule re-adds the same
    text before the early stop triggers."""
    pages = _doc_pages(spark, sf_dir)
    res = extract_pages(pages, mode="rule_based")
    return res.select(
        "url", "content",
        F.round("confidence_score", 4).alias("confidence"),
        F.round("completeness_score", 4).alias("completeness"),
    )


def q_extract_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid strategy, oracle-checked: text_heavy analysis path picks the
    longer of semantic/structured content (semantic is empty without a
    query), confidence = 0.6·semantic + 0.4·structured
    (hybrid_strategy.py:317-384)."""
    pages = _doc_pages(spark, sf_dir)
    res = extract_pages(pages, mode="hybrid")
    return res.select(
        "url", "content",
        F.round("confidence_score", 4).alias("confidence"),
        "word_count",
    )


def q_extract_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CustomExtractor facade (user-defined selector rules,
    core/custom_extractor.py:75-105), oracle-checked: a priority-0 'body'
    rule fires first; for 51..100-char body texts the built-in article rule
    re-adds the paragraph before the early stop."""
    from crawler_engine_spark.operators.custom import CustomExtractor

    ex = CustomExtractor().add_rule("grab_body", "body", priority=0)
    res = ex.extract(_doc_pages(spark, sf_dir))
    return res.select(
        "url", "content",
        F.round("confidence_score", 4).alias("confidence"),
    )


def q_rule_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 rule-performance stats as a distributed aggregation: per-rule
    usage counts over the rule-based extraction lineage (the groupBy
    replacement for the reference's per-process counters,
    rule_based_strategy.py:550-574).  On this template article_content
    fires for >50-char texts; paragraph_content re-fires for 51..100."""
    res = extract_pages(_doc_pages(spark, sf_dir), mode="rule_based")
    return (
        res.select(F.explode("applied_rules").alias("rule"))
        .groupBy("rule")
        .agg(F.count("*").alias("usage_count"))
    )


def q_rule_most_used(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 argmax: the most-used rule (max_by analog via top-1 ordering)."""
    stats = q_rule_stats(spark, sf_dir)
    return (
        stats.orderBy(F.col("usage_count").desc(), F.col("rule").asc()).limit(1)
    )


def q_extract_outlinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: link extraction + resolution through the kernel, oracle-checked."""
    pages = _doc_pages(spark, sf_dir)
    res = extract_pages(pages, mode="structured")
    return res.select(
        "url", F.explode("out_links").alias("out_link")
    )


def _meta_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pages with meta tags + ld+json for the S7 scrape query (fixed
    template, reproducible in SQL)."""
    d = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<html><head><title>Doc '),
        F.col("doc_id").cast("string"),
        F.lit('</title><meta name="description" content="About '),
        F.col("source"),
        F.lit('"><meta property="og:type" content="article">'),
        F.lit('<script type="application/ld+json">{"@id":'),
        F.col("doc_id").cast("string"),
        F.lit("}</script></head><body><p>"),
        F.col("text"),
        F.lit('</p><a href="/n">n</a><img src="/i.png"></body></html>'),
    )
    url = F.concat(F.lit("https://docs.example/m/"), F.col("doc_id").cast("string"))
    return d.select(url.alias("url"), html.alias("html"))


def q_scrape_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: meta-tag map + ld+json + page stats, oracle-checked (the map is
    serialized as sorted k=v pairs so both engines compare as strings)."""
    from crawler_engine_spark.operators.scrape import scrape_metadata

    res = scrape_metadata(_meta_pages(spark, sf_dir))
    meta_str = F.concat_ws(
        ";",
        F.sort_array(
            F.transform(
                F.map_entries("meta_tags"),
                lambda e: F.concat(e.key, F.lit("="), e.value),
            )
        ),
    )
    return res.select(
        "url",
        "title",
        meta_str.alias("meta_kv"),
        F.element_at("ld_json", 1).alias("ld_first"),
        "word_count",
        "link_count",
        "image_count",
        "script_count",
    )


def q_shape_schema_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5 dict-schema shaping: ``output_format={...}`` projects extracted
    fields into a JSON object (schema key order, typed casts, nulls for
    unknown keys) — the deterministic subset of the reference's
    object-schema path (ai_client.py:736-758)."""
    from crawler_engine_spark.operators.shaping import shape_results

    res = extract_pages(_doc_pages(spark, sf_dir), mode="structured")
    shaped = shape_results(
        res,
        {"title": "string", "word_count": "number", "url": "string",
         "author": "string"},
    )
    return shaped.select("url", "formatted_data")


def _llm_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesized model-output texts exercising every executed branch of
    the reference's JSON isolation (ai_client.py:697-732): clean object in
    prose / invalid greedy span / bare array / wrapper-key unwrap."""
    d = _t(spark, sf_dir, "documents")
    n = F.col("doc_id").cast("string")
    txt = (
        F.when(d.doc_id % 4 == 0,
               F.concat(F.lit('Sure! Here is the data: {"id": '), n,
                        F.lit(', "source": "'), d.source,
                        F.lit('"} hope that helps')))
        .when(d.doc_id % 4 == 1,
              F.concat(F.lit('use {placeholders} here {"id": '), n, F.lit('} end')))
        .when(d.doc_id % 4 == 2,
              F.concat(F.lit('{"items": [1, 2, '), n, F.lit(']} trailing')))
        .otherwise(
            F.concat(F.lit('x [ noise {"data":[7,'), n, F.lit(']} ]')))
    )
    return d.select("doc_id", txt.alias("llm_text"))


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 JSON extraction from LLM text, as pure column expressions
    (greedy-span isolation + validity + array wrapper unwrap)."""
    from crawler_engine_spark.operators.shaping import (
        extract_json_arr_col,
        extract_json_obj_col,
    )

    t = _llm_texts(spark, sf_dir)
    return t.select(
        "doc_id",
        extract_json_obj_col(F.col("llm_text")).alias("json_obj"),
        extract_json_arr_col(F.col("llm_text")).alias("json_arr"),
    )


def q_shape_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5 schema shaping: SafeDict {placeholder} template rendering over
    extraction results, as pure column expressions."""
    from crawler_engine_spark.operators.shaping import shape_results

    res = extract_pages(_doc_pages(spark, sf_dir), mode="structured")
    shaped = shape_results(res, "{title} :: {url} :: {missing}")
    return shaped.select("url", "formatted_data")


# --------------------------------------------------------------------------
# Corpus-preparation operators (operators/corpusops.py): PII redaction,
# repetition/quality signals, URL features, decontamination, sampling,
# packing, chunk dedup — the training-data tier over the same tables.
# --------------------------------------------------------------------------


def _pii_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents with deterministic PII appended (both engines build the
    same string; the corpus itself contains none)."""
    d = _t(spark, sf_dir, "documents")
    n = F.col("doc_id").cast("string")
    txt = F.concat(
        F.col("text"),
        F.lit(" contact u"), n,
        F.lit("@mail"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".example or 555-"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit("-0199 from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 now"),
    )
    return d.select("doc_id", txt.alias("pii_text"))


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction + counts (emails, phones, IPv4) as pure column
    expressions — the scrub step of a training-data pipeline."""
    from crawler_engine_spark.operators import corpusops

    base = _pii_texts(spark, sf_dir)
    counts = corpusops.pii_counts(F.col("pii_text"))
    return base.select(
        "doc_id",
        corpusops.redact_pii_col(F.col("pii_text")).alias("redacted"),
        counts["n_emails"].cast("long").alias("n_emails"),
        counts["n_phones"].cast("long").alias("n_phones"),
        counts["n_ips"].cast("long").alias("n_ips"),
    )


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals + composite keep flag, as two
    map-side-combined aggregations (no windows, no UDFs)."""
    from crawler_engine_spark.operators import corpusops

    d = _t(spark, sf_dir, "documents")
    return corpusops.repetition_stats(d, "text", "doc_id")


def q_url_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed URL filtering features (host, tld, path depth, param count,
    fragment flag) as pure column expressions."""
    from crawler_engine_spark.operators import corpusops

    urls = _order_urls(spark, sf_dir)
    f = corpusops.url_feature_cols(F.col("raw_url"))
    return urls.select(
        "okey",
        f["host"].alias("host"),
        f["tld"].alias("tld"),
        f["path_depth"].cast("long").alias("path_depth"),
        f["n_params"].cast("long").alias("n_params"),
        f["has_fragment"].alias("has_fragment"),
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag docs sharing any sliding 5-gram with
    a (synthesized) benchmark set — broadcast semi-join on the gram."""
    from crawler_engine_spark.operators import corpusops

    d = _t(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 97 == 0).select(
        corpusops.leading_ngram_col(F.col("text"), 5).alias("gram")
    )
    return corpusops.decontaminate(d, "text", "doc_id", bench, n=5)


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-stratified sampling audit: per (lang, source)
    kept/total counts under a 20% md5-keyed Bernoulli sample."""
    from crawler_engine_spark.operators import corpusops

    d = _t(spark, sf_dir, "documents")
    return corpusops.stratified_sample_counts(
        d, "doc_id", ["lang", "source"], pct=20
    )


def q_capped_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus rebalancing: at most 3 docs per (lang, source) stratum,
    chosen by deterministic hash rank (window top-k per stratum)."""
    from crawler_engine_spark.operators import corpusops

    d = _t(spark, sf_dir, "documents")
    out = corpusops.capped_sample(d, "doc_id", ["lang", "source"], cap=3)
    return out.select("doc_id", "lang", "source")


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing into 256-token bins per source stream — the
    stateful per-group fold (applyInPandas); oracle = recursive CTE."""
    from crawler_engine_spark.operators import corpusops

    d = _t(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id", "source", textstats.token_count_col(F.col("text")).alias("wc")
    )
    return corpusops.pack_sequences(docs, "doc_id", "wc", "source", cap=256)


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization + control strip + whitespace collapse over
    deterministically dirtied text (decomposed accents, tabs, a control
    char) — Arrow-batched UDF vs DuckDB's native nfc_normalize."""
    from crawler_engine_spark.operators import corpusops

    d = _t(spark, sf_dir, "documents")
    # decomposed combining sequences + a control char + messy whitespace
    # (written as escapes so the pre-NFC form is unambiguous in source)
    dirty = F.concat(
        F.col("text"),
        F.lit("  cafe\u0301 \t zu\u0308rich \u0001x a\u030angstro\u0308m  "),
    )
    norm = corpusops.make_normalize_udf("NFC")(dirty)
    return d.select(
        "doc_id",
        norm.alias("norm_text"),
        F.length(norm).cast("long").alias("n_chars_norm"),
    )


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup clustering: embedding-cosine near-dup
    pairs (the verified embedding_near_dup edge set) → connected
    components; component = min reachable vec_id, the keep-one-per-cluster
    step of embedding-level dedup.  Oracle: recursive-CTE closure over the
    same exact-cosine pair set."""
    e = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 200)
    a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("emb_a"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("emb_b"))
    pairs = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.round(dedup.cosine_col(F.col("emb_a"), F.col("emb_b")), 4).alias(
                "cosine"
            ),
        )
        .where(F.col("cosine") >= 0.3)
    )
    cc = dedup.connected_components(pairs)
    return cc.select(
        F.col("node").alias("vec_id"), F.col("component").alias("cluster_id")
    )


def q_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-prep vocabulary profile: top-50 corpus tokens with counts
    and cumulative coverage share.  One map-side-combined groupBy builds
    the count table; the cumulative window runs over only the top-50 rows
    (vocabulary, not corpus, cardinality — the standard tokenizer-training
    reduction)."""
    from crawler_engine_spark.operators import corpusops

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(corpusops.ws_tokens(F.lower(F.col("text")))).alias("tok")
    )
    counts = toks.groupBy("tok").agg(F.count("*").alias("n"))
    total = counts.agg(F.sum("n").cast("double").alias("_t"))
    top = counts.orderBy(F.col("n").desc(), F.col("tok").asc()).limit(50)
    w = (
        Window.orderBy(F.col("n").desc(), F.col("tok").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        top.crossJoin(F.broadcast(total))
        .withColumn("_cum", F.sum("n").over(w))
        .select(
            "tok",
            "n",
            F.round(F.col("_cum").cast("double") / F.col("_t"), 4).alias("coverage"),
        )
    )


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot (incremental) dedup: new docs (odd ids) that are
    neither exact nor near (J≥0.5) duplicates of the existing snapshot
    (even ids).  160 perms / 80 bands (r=2): a pair just over the J=0.5
    gate is missed by banding with probability ≤ (1-0.5²)^80 ≈ 1e-10 —
    the bucketed cross join equals the oracle's exhaustive NOT EXISTS
    with flake probability < 1e-8 per borderline pair (ADVICE r03 #2 /
    VERDICT r04 item 7; the previous 64/32 config flaked at ~1e-4)."""
    d = _t(spark, sf_dir, "documents")
    old = d.where(F.col("doc_id") % 2 == 0)
    new = d.where(F.col("doc_id") % 2 == 1)
    out = dedup.incremental_new_docs(
        new, old, "text", "doc_id", threshold=0.5, num_perm=160, bands=80
    )
    return out.select("doc_id")


def q_host_reputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-reputation rollup — the corpus-quality signal a crawl scheduler
    feeds back into frontier prioritization: per-host doc count + mean
    quality score (decimal-stable mean of the rounded per-doc scores)."""
    from crawler_engine_spark.operators import corpusops

    d = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://h"), (F.col("doc_id") % 20).cast("string"),
        F.lit(".example/d/"), F.col("doc_id").cast("string"),
    )
    host = corpusops.url_feature_cols(url)["host"]
    q = F.round(textstats.quality_score_col(F.col("text")), 4)
    return (
        d.select(host.alias("host"), q.alias("q"))
        .groupBy("host")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(
                F.sum(F.col("q").cast("decimal(38,12)")).cast("double")
                / F.count("*"),
                4,
            ).alias("avg_quality"),
        )
    )


_BOILER = "shared footer boilerplate all rights reserved contact legal team today"


def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style cross-document chunk dedup: a 10-token boilerplate
    header is prepended to every doc (aligned to the chunk stride), and the
    operator must strip it corpus-wide while unique prose survives."""
    from crawler_engine_spark.operators import corpusops

    d = _t(spark, sf_dir, "documents")
    synth = d.select(
        "doc_id", F.concat(F.lit(_BOILER + " "), F.col("text")).alias("btext")
    )
    return corpusops.chunk_dedup(synth, "btext", "doc_id", chunk_tokens=10)


_SPAM = "subscribe to our newsletter for updates every single day now"
_VERSE = (
    "the quick brown fox jumps over the lazy dog while pack my box "
    "with five dozen liquor jugs today again"
)


def q_boilerplate_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-scoped boilerplate removal (RefinedWeb/CCNet per-site line
    rule): every doc gets a 10-token footer naming its own source; the
    operator must strip it only where >=3 distinct docs of THAT source
    share it (so small sources keep theirs), while unique prose and
    cross-source coincidences survive."""
    from crawler_engine_spark.operators import corpusops

    d = _t(spark, sf_dir, "documents")
    synth = d.select(
        "doc_id", "source",
        F.concat_ws(
            " ", F.lit("begin"), F.col("source"),
            F.lit("boilerplate footer rights reserved contact legal team end"),
            F.col("text"),
        ).alias("btext"),
    )
    return corpusops.boilerplate_chunks(
        synth, "btext", "doc_id", "source", chunk_tokens=10, min_docs=3
    )


def q_dup_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus memorization audit (the sizing report before substring
    dedup, Lee et al. 2022): one boilerplate phrase is planted on every
    third doc and a spam phrase on every fifth; the operator must surface
    their sliding 5-grams ranked by distinct-doc reach under a total
    order, cut at top-100."""
    from crawler_engine_spark.operators import corpusops

    d = _t(spark, sf_dir, "documents")
    synth = d.select(
        "doc_id",
        F.concat_ws(
            " ",
            F.when(F.col("doc_id") % 3 == 0, F.lit(_BOILER)),
            F.col("text"),
            F.when(F.col("doc_id") % 5 == 0, F.lit(_SPAM)),
        ).alias("btext"),
    )
    return corpusops.duplicate_ngrams(
        synth, "btext", "doc_id", n=5, min_docs=2, top_k=100
    )


def q_dup_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicated-span fraction (the doc-level substring-dedup
    signal): two of every ten docs are replaced by one shared 20-token
    verse (dup_fraction 1.0, dropped), every third doc carries a shared
    10-token header (small fraction, kept), the rest depend only on
    natural 8-gram collisions."""
    from crawler_engine_spark.operators import corpusops

    d = _t(spark, sf_dir, "documents")
    synth = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 10 <= 1, F.lit(_VERSE))
        .when(
            F.col("doc_id") % 3 == 0,
            F.concat_ws(" ", F.lit(_BOILER), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("btext"),
    )
    return corpusops.dup_span_stats(
        synth, "btext", "doc_id", n=8, max_dup_fraction=0.5
    )


# --------------------------------------------------------------------------
# Generated oracle SQL for the hashing kernels (the engine's md5-low64 base
# hash is exactly CAST('0x' || substr(md5(s),1,16) AS UBIGINT) in DuckDB)
# --------------------------------------------------------------------------

_H64 = "CAST(CAST('0x' || substr(md5({v}), 1, 16) AS UBIGINT) AS HUGEINT)"
_U64_WRAP = 18446744073709551616  # 2^64: numpy uint64 wrap point
_MERSENNE = (1 << 61) - 1


def _minhash_signatures_sql() -> str:
    """Recompute every MinHash signature value in DuckDB: distinct 3-gram
    shingles → md5-low64 → (a·h + b) with uint64 wraparound → mod 2^61-1 →
    min per permutation.  The (a, b) constants are the engine's own
    deterministic seed-42 parameters, inlined as literals."""
    from crawler_engine_spark.operators.dedup import _minhash_params

    a, b = _minhash_params(64)
    perms = ",\n                   ".join(
        "CAST(list_min(list_transform(hv, x -> "
        f"(({int(a[p])} * x + {int(b[p])}) % {_U64_WRAP}) % {_MERSENNE}"
        ")) AS VARCHAR)"
        for p in range(64)
    )
    h = _H64.format(v="s")
    return f"""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(text),
                   '[^0-9A-Za-z_]+'), t -> t != '') AS w
          FROM documents),
        sh AS (
          SELECT doc_id,
                 list_distinct(CASE WHEN len(w) >= 3
                   THEN list_transform(range(1, len(w) - 1),
                                       i -> array_to_string(w[i:i+2], ' '))
                   ELSE [array_to_string(w, ' ')] END) AS shingles
          FROM toks),
        h AS (SELECT doc_id,
                     list_transform(shingles, s -> {h}) AS hv
              FROM sh)
        SELECT doc_id, concat_ws(',', {perms}) AS sig_csv
        FROM h
    """


def _simhash_sql() -> str:
    """Recompute every SimHash signature in DuckDB: whitespace tokens →
    md5-low64 → ±1 votes per bit (repeats weighted, like the kernel) → bit
    set where the vote sum is positive; rendered per 16-bit band so the hex
    assembly never touches signed 64-bit arithmetic."""
    votes = ",\n                   ".join(
        f"SUM(CASE WHEN (hv >> {bit}) & 1 = 1 THEN 1 ELSE -1 END) AS v{bit}"
        for bit in range(64)
    )
    bands = " || ".join(
        "lower(lpad(hex("
        + " + ".join(f"CASE WHEN v{16 * k + j} > 0 THEN {1 << j} ELSE 0 END" for j in range(16))
        + "), 4, '0'))"
        for k in (3, 2, 1, 0)
    )
    h = _H64.format(v="w")
    return f"""
        WITH toks AS (
          SELECT doc_id,
                 unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                    x -> x != '')) AS w
          FROM documents),
        h AS (SELECT doc_id, {h} AS hv FROM toks),
        votes AS (
          SELECT doc_id,
                 {votes}
          FROM h GROUP BY doc_id),
        hexed AS (SELECT doc_id, {bands} AS simhash_hex FROM votes)
        SELECT d.doc_id,
               COALESCE(x.simhash_hex, '0000000000000000') AS simhash_hex
        FROM documents d LEFT JOIN hexed x USING (doc_id)
    """


def q_link_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-graph PageRank (fixed-point integer power iteration, 10
    rounds) over a 300-node directed graph folded out of orders
    (customer→order links) — the canonical crawl-priority signal.  The
    integer arithmetic makes every iteration bit-exact under any
    partitioning, which is what lets DuckDB replay all ten iterations."""
    from crawler_engine_spark.operators import linkrank

    o = _t(spark, sf_dir, "orders", parallel=False)
    edges = o.select(
        (F.col("o_custkey") % 300).cast("long").alias("src"),
        (F.col("o_orderkey") % 300).cast("long").alias("dst"),
    )
    # eager: the driver/bench harnesses drop the returned DataFrame after
    # materializing it and never call release_caches, so the non-eager
    # mode would leak the node/edge caches for the rest of the session
    return linkrank.pagerank(edges, iterations=10, eager=True)


def _pagerank_sql(iterations: int = 10, scale: int = 10**12,
                  damping: int = 85, teleport_pred: str | None = None) -> str:
    """Replay every PageRank iteration in DuckDB: the same integer floor
    divisions and long sums, unrolled as one CTE pair per iteration
    (recursive CTEs can't re-aggregate the recursive term, so the fixed
    iteration count is generated instead — the minhash-perms pattern).
    ``teleport_pred`` (a SQL predicate over ``node``) switches to the
    personalized variant: |S| replaces n in the constants and the init /
    base mass applies only where the predicate holds."""
    in_t = teleport_pred if teleport_pred is not None else "TRUE"
    head = f"""
        WITH e AS (
          SELECT DISTINCT CAST(o_custkey % 300 AS BIGINT) AS src,
                          CAST(o_orderkey % 300 AS BIGINT) AS dst
          FROM orders),
        nodes AS (
          SELECT node, ({in_t}) AS t
          FROM (SELECT src AS node FROM e UNION SELECT dst FROM e)),
        od AS (SELECT src, COUNT(*) AS od FROM e GROUP BY src),
        consts AS (SELECT {scale} // COUNT(*) AS init,
                          (15 * ({scale} // COUNT(*))) // 100 AS base
                   FROM nodes WHERE t),
        r0 AS (SELECT node,
                      CASE WHEN t THEN (SELECT init FROM consts) ELSE 0 END
                        AS r
               FROM nodes)"""
    iters = "".join(
        f""",
        c{k} AS (SELECT e.dst AS node, SUM(r.r // od.od) AS contrib
                 FROM e JOIN od USING (src)
                 JOIN r{k - 1} r ON r.node = e.src
                 GROUP BY e.dst),
        r{k} AS (SELECT n.node,
                        CASE WHEN n.t THEN (SELECT base FROM consts)
                             ELSE 0 END
                        + ({damping} * COALESCE(c.contrib, 0)) // 100 AS r
                 FROM nodes n LEFT JOIN c{k} c USING (node))"""
        for k in range(1, iterations + 1)
    )
    return f"""{head}{iters}
        SELECT node, CAST(r AS BIGINT) AS rank_micro,
               ROUND(CAST(r AS DOUBLE) / {float(scale)}, 8) AS rank
        FROM r{iterations}
    """


def q_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (5 floor-normalized integer iterations,
    linkrank.hits) over the same orders graph as link_pagerank; DuckDB
    replays every half-step with the normalizer as a scalar subquery.
    Only the integer micro columns are compared — the cosmetic float
    view rounds at exact .5 points, where engines' rounding modes
    (HALF_UP vs banker's) legitimately diverge."""
    from crawler_engine_spark.operators import linkrank

    o = _t(spark, sf_dir, "orders", parallel=False)
    edges = o.select(
        (F.col("o_custkey") % 300).cast("long").alias("src"),
        (F.col("o_orderkey") % 300).cast("long").alias("dst"),
    )
    return linkrank.hits(edges, iterations=5).select(
        "node", "hub_micro", "auth_micro"
    )


def _hits_sql(iterations: int = 5, scale: int = 10**9) -> str:
    """Unrolled integer-HITS replay (the _pagerank_sql pattern): one
    (pre-table, normalized-table) CTE pair per half-step, the floor
    normalizer as a scalar subquery over the pre-table.  Every CTE is
    AS MATERIALIZED: each pre-table is referenced twice (join + scalar
    total), and DuckDB's default CTE inlining would re-evaluate the
    whole chain per reference — 2^(2·iterations) blowup, the exact dual
    of why the Spark side materializes each half-step."""
    head = f"""
        WITH e AS MATERIALIZED (
          SELECT DISTINCT CAST(o_custkey % 300 AS BIGINT) AS src,
                          CAST(o_orderkey % 300 AS BIGINT) AS dst
          FROM orders),
        nodes AS MATERIALIZED (
          SELECT src AS node FROM e UNION SELECT dst FROM e),
        h0 AS MATERIALIZED (
          SELECT node, {scale} // (SELECT COUNT(*) FROM nodes) AS h
          FROM nodes)"""
    steps = "".join(
        f""",
        ap{k} AS MATERIALIZED (
          SELECT e.dst AS node, SUM(h.h) AS v
          FROM e JOIN h{k - 1} h ON h.node = e.src GROUP BY e.dst),
        a{k} AS MATERIALIZED (
          SELECT n.node, COALESCE(p.v, 0)
                 // GREATEST((SELECT SUM(v) FROM ap{k}) // {scale}, 1) AS a
          FROM nodes n LEFT JOIN ap{k} p USING (node)),
        hp{k} AS MATERIALIZED (
          SELECT e.src AS node, SUM(a.a) AS v
          FROM e JOIN a{k} a ON a.node = e.dst GROUP BY e.src),
        h{k} AS MATERIALIZED (
          SELECT n.node, COALESCE(p.v, 0)
                 // GREATEST((SELECT SUM(v) FROM hp{k}) // {scale}, 1) AS h
          FROM nodes n LEFT JOIN hp{k} p USING (node))"""
        for k in range(1, iterations + 1)
    )
    return f"""{head}{steps}
        SELECT h.node, CAST(h.h AS BIGINT) AS hub_micro,
               CAST(a.a AS BIGINT) AS auth_micro
        FROM h{iterations} h JOIN a{iterations} a USING (node)
    """


def q_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common Crawl-style ingestion round-trip, verified distributed:
    documents fold into 32 member-gzip WARC archives (applyInPandas,
    deterministic doc_id order within each archive) and sources/warc.py
    parses them back record-by-record.  The oracle derives the expected
    page rows straight from documents — url, timestamp, HTTP status and
    payload byte length must survive the framing."""
    import pandas as pd

    from crawler_engine_spark.sources import warc

    d = _t(spark, sf_dir, "documents")

    def to_warc(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        recs = [
            (f"https://docs.example/d/{i}", "2026-01-01T00:00:00Z",
             t.encode("utf-8"))
            for i, t in zip(pdf["doc_id"], pdf["text"])
        ]
        return pd.DataFrame(
            # level 1: the parsed output is compression-level-independent,
            # and the synth side shouldn't dominate the parse being measured
            {"content": [warc.build_warc(recs, gzip_members=True,
                                         compresslevel=1)]}
        )

    files = (
        d.select((F.col("doc_id") % 32).alias("g"), "doc_id", "text")
        .groupBy("g")
        .applyInPandas(to_warc, "content binary")
        .withColumn("path", F.lit("synthetic.warc.gz"))
    )
    pages = warc.warc_response_pages(files)
    return pages.select(
        "url",
        "warc_ts",
        F.col("http_status").cast("int").alias("http_status"),
        F.length("html").cast("long").alias("n_bytes"),
    )


_WARC_INGEST_SQL = """
    SELECT 'https://docs.example/d/' || CAST(doc_id AS VARCHAR) AS url,
           '2026-01-01T00:00:00Z' AS warc_ts,
           CAST(200 AS INT) AS http_status,
           CAST(strlen(text) AS BIGINT) AS n_bytes
    FROM documents
"""


def q_doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document tf-idf keywords (textstats.top_keywords, top_k=3) —
    doc tagging for corpus curation.  Both engines round the score to 6
    decimals before ranking (term-asc tie-break), so ln() ulp noise
    cannot reorder them; keywords serialize '|'-joined for the compare."""
    d = _t(spark, sf_dir, "documents")
    out = textstats.top_keywords(d, "text", "doc_id", top_k=3)
    return out.select(
        "doc_id", F.concat_ws("|", "keywords").alias("keywords")
    )


_DOC_KEYWORDS_SQL = r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text),
               '[^\p{L}\p{N}'']+'), t -> t != '') AS ts
      FROM documents),
    flat AS (SELECT doc_id, unnest(ts) AS term FROM toks),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM flat
           GROUP BY doc_id, term),
    dfs AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, term,
             ROUND(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS s
      FROM tf JOIN dfs USING (term) CROSS JOIN n),
    ranked AS (
      SELECT doc_id, term,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY s DESC, term) AS r
      FROM scored)
    SELECT doc_id, STRING_AGG(term, '|' ORDER BY r) AS keywords
    FROM ranked WHERE r <= 3 GROUP BY doc_id
"""


def q_focused_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (focused-crawl scheduling): same orders
    graph as link_pagerank, teleport restricted to the 30 nodes with
    node % 10 == 0 — rank mass restarts only at the topic seeds, so
    authority means reachable-from-the-seeds.  Same unrolled DuckDB
    replay, with the teleport predicate in the constants and base term."""
    from crawler_engine_spark.operators import linkrank

    o = _t(spark, sf_dir, "orders", parallel=False)
    edges = o.select(
        (F.col("o_custkey") % 300).cast("long").alias("src"),
        (F.col("o_orderkey") % 300).cast("long").alias("dst"),
    )
    tele = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .where(F.col("node") % 10 == 0)
        .distinct()
    )
    # eager for the same cache-hygiene reason as q_link_pagerank
    return linkrank.pagerank(edges, iterations=10, teleport=tele, eager=True)


def q_anchor_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text corpus (linkrank.anchor_summary) over typed link arrays
    extracted from synthesized per-source pages: a root-relative
    /d/{id%7} anchor labeled by source (resolution against the source
    authority), a shared absolute hub anchor with a rotating label
    (20-host mega-target; top_k=3 caps its 5 labels), and — r04 — two
    document-relative anchors (``../u/{id%3}`` and ``rel/{id%4}.html``,
    urljoin against the /d/{doc_id} base) exercising the UDF slow path.
    The oracle replays resolution, (target,text) counting, and the top-k
    ordering in SQL; top_texts is serialized '|'-joined so both engines
    compare strings."""
    from crawler_engine_spark.operators import linkrank

    d = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><body><article><p>"),
        F.col("text"),
        F.lit('</p><a href="/d/'),
        (F.col("doc_id") % 7).cast("string"),
        F.lit('">'),
        F.col("source"),
        F.lit('</a><a href="https://hub.example/x">hub '),
        (F.col("doc_id") % 5).cast("string"),
        F.lit('</a><a href="../u/'),
        (F.col("doc_id") % 3).cast("string"),
        F.lit('">up '),
        (F.col("doc_id") % 3).cast("string"),
        F.lit('</a><a href="rel/'),
        (F.col("doc_id") % 4).cast("string"),
        F.lit('.html">rel '),
        (F.col("doc_id") % 4).cast("string"),
        F.lit("</a></article></body></html>"),
    )
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".docs.example/d/"),
        F.col("doc_id").cast("string"),
    )
    res = extract_pages(d.select(url.alias("url"), html.alias("html")),
                        mode="structured")
    out = linkrank.anchor_summary(res.select("url", "links"), top_k=3)
    return out.select(
        "target", "n_refs", "n_hosts",
        F.concat_ws("|", "top_texts").alias("top_texts"),
    )


_ANCHOR_TEXTS_SQL = """
    WITH anchors AS (
      SELECT source || '.docs.example' AS src_host,
             'https://' || source || '.docs.example/d/'
               || CAST(doc_id % 7 AS VARCHAR) AS target,
             source AS atext
      FROM documents
      UNION ALL
      SELECT source || '.docs.example' AS src_host,
             'https://hub.example/x' AS target,
             'hub ' || CAST(doc_id % 5 AS VARCHAR) AS atext
      FROM documents
      UNION ALL
      -- '../u/k' against base https://{source}.docs.example/d/{doc_id}
      SELECT source || '.docs.example' AS src_host,
             'https://' || source || '.docs.example/u/'
               || CAST(doc_id % 3 AS VARCHAR) AS target,
             'up ' || CAST(doc_id % 3 AS VARCHAR) AS atext
      FROM documents
      UNION ALL
      -- 'rel/m.html' against the same base: directory of /d/{doc_id} is /d/
      SELECT source || '.docs.example' AS src_host,
             'https://' || source || '.docs.example/d/rel/'
               || CAST(doc_id % 4 AS VARCHAR) || '.html' AS target,
             'rel ' || CAST(doc_id % 4 AS VARCHAR) AS atext
      FROM documents),
    stats AS (
      SELECT target, COUNT(*) AS n_refs,
             COUNT(DISTINCT src_host) AS n_hosts
      FROM anchors GROUP BY target),
    tc AS (
      SELECT target, atext, COUNT(*) AS cnt
      FROM anchors WHERE atext IS NOT NULL AND atext <> ''
      GROUP BY target, atext),
    ranked AS (
      SELECT target, atext,
             ROW_NUMBER() OVER (PARTITION BY target
                                ORDER BY cnt DESC, atext) AS r
      FROM tc),
    top AS (
      SELECT target, STRING_AGG(atext, '|' ORDER BY r) AS top_texts
      FROM ranked WHERE r <= 3 GROUP BY target)
    SELECT s.target, CAST(s.n_refs AS BIGINT) AS n_refs,
           CAST(s.n_hosts AS BIGINT) AS n_hosts,
           COALESCE(t.top_texts, '') AS top_texts
    FROM stats s LEFT JOIN top t USING (target)
"""


def q_trap_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-trap detection (frontier guard): collapse each URL to its
    digit-template and profile distinct-URL counts per (host, template).
    The synthesized corpus mixes an unbounded ``/doc/<orderkey>`` family
    (every URL distinct — trap-shaped) with a bounded ``/cal/2024/<month>``
    family (≤ 12 distinct per host); threshold 50 separates them at every
    sf.  One map-side-combined aggregation — pattern-cardinality output."""
    from crawler_engine_spark.frontier.traps import url_pattern_profile

    o = _t(spark, sf_dir, "orders")
    path = F.when(
        o.o_orderkey % 5 == 0,
        F.concat(F.lit("/cal/2024/"), (o.o_orderkey % 12).cast("string")),
    ).otherwise(F.concat(F.lit("/doc/"), o.o_orderkey.cast("string")))
    url = F.concat(
        F.lit("https://host"),
        (o.o_custkey % 8).cast("string"),
        F.lit(".example"),
        path,
    )
    urls = o.select(url.alias("canonical_url"))
    prof = url_pattern_profile(urls, threshold=50)
    return prof.select(
        "host", "url_pattern", F.col("n_urls").cast("long").alias("n_urls"),
        "trap_suspect",
    )


def q_sitemap_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap ingestion: per-host ``<urlset>`` XML (synthesized from
    orders with mixed-case hosts, whitespace-padded ``<loc>`` values and
    ``&amp;`` entities) → extracted, entity-decoded, canonicalized,
    deduplicated seed set.  Parsing is pure JVM ``regexp_extract_all`` +
    ``replace`` fused into the scan; the only shuffle is the seed
    distinct."""
    from crawler_engine_spark.frontier.sitemaps import seeds_from_sitemaps

    o = _t(spark, sf_dir, "orders")
    loc = F.concat(
        F.lit("https://Host"),
        (o.o_custkey % 8).cast("string"),
        F.lit(".Example/doc/"),
        o.o_orderkey.cast("string"),
        F.when(o.o_orderkey % 3 == 0, F.lit("?a=1&amp;b=2")).otherwise(F.lit("")),
    )
    entry = F.concat(F.lit("<url><loc> "), loc, F.lit(" </loc></url>"))
    host = F.concat(F.lit("host"), (o.o_custkey % 8).cast("string"), F.lit(".example"))
    sitemaps = (
        o.select(host.alias("host"), entry.alias("entry"))
        .groupBy("host")
        .agg(
            F.concat(
                F.lit("<urlset>"),
                F.concat_ws("", F.array_sort(F.collect_list("entry"))),
                F.lit("</urlset>"),
            ).alias("xml")
        )
    )
    seeds = seeds_from_sitemaps(sitemaps.select("xml"))
    # seed_rank is xxhash64 (JVM-only — not DuckDB-recomputable); the rank
    # determinism is pytest-locked, the oracle checks the seed URL set.
    return seeds.select("url")


# --------------------------------------------------------------------------
# Contract functions
# --------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extraction pipeline over pages synthesized from the
    sf0.001 documents table."""
    return q_extract_structured(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Ordering is load-bearing: the driver's correctness snapshot checks the
    # FIRST 50 entries.  Rotation rule (COVERAGE.md; VERDICT r04 #1): each
    # round the 50 checked slots go to (a) every entry whose implementation
    # changed this round, directly or transitively, then (b) the entries
    # with the OLDEST driver rows, then (c) fill.  Round 5: positions 1-6
    # are this round's touched set (lang_id script stage; the minhash /
    # incremental-dedup cut-policy rework; anchor_summary's persist +
    # filter-above-cache rewrite; corpus_filter transitively via both),
    # 7-25 the remaining r03-only rows, 26-50 fill.  Positions 51-72 are
    # untouched-since-r02 pure-column/JVM queries, all driver-green in
    # r04.  Names themselves are frozen.
    return {
        # --- (a) touched this round -------------------------------------
        "lang_id": q_lang_id,
        "corpus_filter": q_corpus_filter,
        "minhash_near_dup": q_minhash_near_dup,
        "near_dup_clusters": q_near_dup_clusters,
        "incremental_dedup": q_incremental_dedup,
        "anchor_texts": q_anchor_texts,
        # --- (b) oldest driver rows (r03-only) ---------------------------
        "minhash_signatures": q_minhash_signatures,
        "simhash": q_simhash,
        "ngram_jaccard": q_ngram_jaccard,
        "media_features": q_media_features,
        "extract_structured": q_extract_structured,
        "extract_adaptive": q_extract_adaptive,
        "extract_semantic": q_extract_semantic,
        "extract_rule_based": q_extract_rule_based,
        "extract_hybrid": q_extract_hybrid,
        "extract_custom": q_extract_custom,
        "rule_stats": q_rule_stats,
        "rule_most_used": q_rule_most_used,
        "extract_outlinks": q_extract_outlinks,
        "scrape_meta": q_scrape_meta,
        "shape_template": q_shape_template,
        "shape_schema_json": q_shape_schema_json,
        "json_extract": q_json_extract,
        "pii_redact": q_pii_redact,
        "gopher_quality": q_gopher_quality,
        # --- (c) fill (r04-checked) --------------------------------------
        "semantic_dedup": q_semantic_dedup,
        "embedding_near_dup": q_embedding_near_dup,
        "warc_ingest": q_warc_ingest,
        "host_reputation": q_host_reputation,
        "trap_detect": q_trap_detect,
        "sitemap_seeds": q_sitemap_seeds,
        "link_pagerank": q_link_pagerank,
        "focused_pagerank": q_focused_pagerank,
        "hits_scores": q_hits_scores,
        "chunk_dedup": q_chunk_dedup,
        "boilerplate_chunks": q_boilerplate_chunks,
        "pack_sequences": q_pack_sequences,
        "text_normalize": q_text_normalize,
        "vocab_stats": q_vocab_stats,
        "stratified_sample": q_stratified_sample,
        "capped_sample": q_capped_sample,
        "url_features": q_url_features,
        "decontaminate": q_decontaminate,
        "dup_ngrams": q_dup_ngrams,
        "dup_span_fraction": q_dup_span_fraction,
        "doc_keywords": q_doc_keywords,
        "url_canonicalize": q_url_canonicalize,
        "url_valid_filter": q_url_valid_filter,
        "frontier_antijoin": q_frontier_antijoin,
        "politeness_select": q_politeness_select,
        # --- positions 51-72: r04-green, untouched since r02 --------------
        "batch_summary": q_batch_summary,
        "strategy_running_avg": q_strategy_running_avg,
        "word_counts": q_word_counts,
        "partition_metrics": q_partition_metrics,
        "price_quantiles": q_price_quantiles,
        "topk_orders": q_topk_orders,
        "first_events_per_user": q_first_events_per_user,
        "sessionize": q_sessionize,
        "asof_join": q_asof_join,
        "range_join": q_range_join,
        "events_rollup": q_events_rollup,
        "region_rollup": q_region_rollup,
        "revenue_by_segment": q_revenue_by_segment,
        "pricing_summary": q_pricing_summary,
        "tag_union": q_tag_union,
        "exact_dedup": q_exact_dedup,
        "fingerprint": q_fingerprint,
        "quality_score": q_quality_score,
        "bm25_topk": q_bm25_topk,
        "unigram_nll": q_unigram_nll,
        "embedding_topk": q_embedding_topk,
        "embedding_topk_ivf": q_embedding_topk_ivf,
    }


def _lang_id_sql() -> str:
    """lang_id oracle, GENERATED from textstats._LANG_MARKERS +
    _SCRIPT_BLOCKS/_MARKER_SCRIPT_RANGES (single source of truth — the
    Spark column and this SQL cannot drift): Unicode-script char counts
    first (kana attributes Han to 'ja'; script wins when it strictly
    outnumbers Latin+Cyrillic letters), else the same tokenization +
    per-language marker-hit counts (integers — exact by construction, no
    float-epsilon compare), argmax with earliest-key tie-break, 'und' when
    no marker hits.  Markers are import-time asserted apostrophe-free and
    script ranges regex-class-safe, so plain SQL quoting is safe; all
    ranges are BMP so DuckDB's code-point length == Spark's UTF-16
    length."""
    from crawler_engine_spark.operators.textstats import (
        _LANG_MARKERS,
        _MARKER_SCRIPT_RANGES,
        _SCRIPT_BLOCKS,
        _range_class_inner,
    )

    langs = list(_LANG_MARKERS)
    count_cols = ",\n                   ".join(
        "len(list_filter(ts, t -> list_contains(["
        + ", ".join(f"'{w}'" for w in ws)
        + f"], t))) AS c{i}"
        for i, ws in enumerate(_LANG_MARKERS.values())
    )
    all_c = ", ".join(f"c{i}" for i in range(len(langs)))
    cases = "\n                        ".join(
        f"WHEN c{i} >= greatest("
        + ", ".join(f"c{j}" for j in range(i + 1, len(langs)))
        + f") THEN '{lang}'"
        for i, lang in enumerate(langs[:-1])
    )

    def cnt(ranges):
        return (
            "length(regexp_replace(text, '[^"
            + _range_class_inner(ranges)
            + "]', '', 'g'))"
        )

    skeys = list(_SCRIPT_BLOCKS)
    zi, ji = skeys.index("zh"), skeys.index("ja")
    script_cols = ",\n                 ".join(
        f"{cnt(rs)} AS r{i}" for i, rs in enumerate(_SCRIPT_BLOCKS.values())
    )
    score_defs = []
    for i, k in enumerate(skeys):
        if k == "zh":
            score_defs.append(f"CASE WHEN r{ji} > 0 THEN 0 ELSE r{zi} END AS s{i}")
        elif k == "ja":
            score_defs.append(
                f"CASE WHEN r{ji} > 0 THEN r{zi} + r{ji} ELSE 0 END AS s{i}"
            )
        else:
            score_defs.append(f"r{i} AS s{i}")
    score_cols = ",\n                 ".join(score_defs)
    all_s = ", ".join(f"s{i}" for i in range(len(skeys)))
    scases = "\n                          ".join(
        f"WHEN s{i} >= greatest("
        + ", ".join(f"s{j}" for j in range(i + 1, len(skeys)))
        + f") THEN '{lang}'"
        for i, lang in enumerate(skeys[:-1])
    )
    return f"""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(text),
                   '[^\\p{{L}}\\p{{N}}'']+'), t -> t != '') AS ts
          FROM documents),
        counts AS (
          SELECT doc_id,
                   {count_cols}
          FROM toks),
        scripts AS (
          SELECT doc_id,
                 {cnt(_MARKER_SCRIPT_RANGES)} AS mk,
                 {script_cols}
          FROM documents),
        sscore AS (
          SELECT doc_id, mk,
                 {score_cols}
          FROM scripts)
        SELECT doc_id,
               CASE WHEN greatest({all_s}) > mk THEN
                      CASE {scases}
                           ELSE '{skeys[-1]}' END
                    WHEN greatest({all_c}) = 0 THEN 'und'
                        {cases}
                    ELSE '{langs[-1]}' END AS lang_pred
        FROM counts JOIN sscore USING (doc_id)
    """


def oracle_sql() -> dict[str, str]:
    oracles = {
        "url_canonicalize": f"""
            WITH u AS ({_ORDER_URLS_SQL})
            SELECT okey,
                   {_CANON_SQL} AS canonical_url,
                   lower(regexp_extract(raw_url, '^https://([^/?#:]*)', 1)) AS host
            FROM u
        """,
        "url_valid_filter": """
            WITH u AS (
              SELECT CASE CAST(o_orderkey % 3 AS INTEGER)
                       WHEN 0 THEN 'https://h.example/d/' || CAST(o_orderkey AS VARCHAR)
                       WHEN 1 THEN 'relative/path/' || CAST(o_orderkey AS VARCHAR)
                       ELSE 'ftp://files.example/' || CAST(o_orderkey AS VARCHAR)
                     END AS url
              FROM orders)
            SELECT regexp_matches(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+') AS is_valid,
                   regexp_matches(url, '^https?://') AS is_http,
                   COUNT(*) AS n
            FROM u GROUP BY 1, 2
        """,
        "frontier_antijoin": f"""
            WITH u AS ({_ORDER_URLS_SQL}),
            c AS (SELECT okey, {_CANON_SQL} AS canonical_url,
                         lower(regexp_extract(raw_url, '^https://([^/?#:]*)', 1)) AS host
                  FROM u),
            seen AS (SELECT canonical_url FROM c WHERE okey % 7 = 0)
            SELECT host, COUNT(*) AS n_new
            FROM c WHERE canonical_url NOT IN (SELECT canonical_url FROM seen)
            GROUP BY host
        """,
        "politeness_select": f"""
            WITH u AS ({_ORDER_URLS_SQL}),
            c AS (SELECT okey, {_CANON_SQL} AS canonical_url,
                         lower(regexp_extract(raw_url, '^https://([^/?#:]*)', 1)) AS host
                  FROM u),
            r AS (SELECT host, canonical_url,
                         ROW_NUMBER() OVER (PARTITION BY host ORDER BY okey) AS rank
                  FROM c)
            SELECT host, canonical_url, rank FROM r WHERE rank <= 5
        """,
        # SUM over integers is CAST to BIGINT: DuckDB's integer SUM returns
        # HUGEINT, which lands in pandas as float64 and hash-mismatches the
        # Spark long (the round-1 failure). The average mirrors the engine's
        # order-insensitive decimal-sum/count formulation.
        "batch_summary": """
            SELECT COUNT(*) AS total,
                   COUNT(DISTINCT user_id) AS n_users,
                   CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                     AS BIGINT) AS clicks,
                   ROUND(CAST(SUM(CAST(value AS DECIMAL(38,12))) AS DOUBLE)
                         / COUNT(*), 4) AS avg_value
            FROM events
        """,
        "strategy_running_avg": """
            SELECT event_type, COUNT(*) AS n,
                   ROUND(CAST(SUM(CAST(value AS DECIMAL(38,12))) AS DOUBLE)
                         / COUNT(*), 4) AS avg_value
            FROM events GROUP BY event_type
        """,
        "word_counts": r"""
            SELECT doc_id,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS word_count,
                   length(text) AS char_count,
                   ROUND(CASE WHEN trim(text) = '' THEN 0
                         ELSE len(regexp_split_to_array(trim(text), '\s+')) END / 200.0, 4)
                     AS reading_minutes
            FROM documents
        """,
        "partition_metrics": """
            SELECT source, COUNT(*) AS docs,
                   CAST(SUM(n_chars) AS BIGINT) AS total_chars,
                   ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 4) AS avg_chars
            FROM documents GROUP BY source
        """,
        "price_quantiles": """
            SELECT o_orderpriority,
                   ROUND(quantile_cont(o_totalprice, 0.25), 4) AS p25,
                   ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
                   ROUND(quantile_cont(o_totalprice, 0.75), 4) AS p75,
                   ROUND(quantile_cont(o_totalprice, 0.95), 4) AS p95
            FROM orders GROUP BY o_orderpriority
        """,
        "topk_orders": """
            SELECT o_orderkey, ROUND(o_totalprice, 4) AS total_price
            FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
        """,
        "first_events_per_user": """
            SELECT user_id, event_id, rn FROM (
              SELECT user_id, event_id,
                     ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
              FROM events) WHERE rn <= 3
        """,
        "sessionize": """
            SELECT user_id, event_id,
                   CAST(SUM(CASE WHEN prev_us IS NULL
                             OR epoch_us(ts) - prev_us > 1800 * 1000000
                            THEN 1 ELSE 0 END)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
            FROM (
              SELECT user_id, event_id, ts,
                     LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id) AS prev_us
              FROM events)
        """,
        "asof_join": """
            WITH updates AS (
              SELECT user_id, ts, ROUND(MAX(value), 4) AS rate
              FROM events WHERE event_id % 17 = 0
              GROUP BY user_id, ts)
            SELECT e.event_id, e.user_id, COALESCE(u.rate, -1.0) AS rate
            FROM events e
            ASOF LEFT JOIN updates u
              ON e.user_id = u.user_id AND e.ts >= u.ts
        """,
        "range_join": """
            WITH bands AS (
              SELECT i AS band_id, i * 20000.0 AS lo,
                     i * 20000.0 + 24999.0 AS hi
              FROM range(10) t(i))
            SELECT o_orderkey, band_id
            FROM orders JOIN bands
              ON o_totalprice >= lo AND o_totalprice <= hi
        """,
        "events_rollup": """
            SELECT COALESCE(event_type, 'ALL') AS event_type,
                   COALESCE(CAST(CAST(ts AS DATE) AS VARCHAR), 'ALL') AS day,
                   COUNT(*) AS n,
                   ROUND(CAST(SUM(CAST(value AS DECIMAL(38,12))) AS DOUBLE), 2)
                     AS sum_value
            FROM events
            GROUP BY ROLLUP(event_type, CAST(ts AS DATE))
        """,
        "region_rollup": """
            SELECT r_name AS region, COUNT(*) AS customers,
                   ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(38,12))) AS DOUBLE)
                         / COUNT(*), 4) AS avg_acctbal
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "revenue_by_segment": """
            SELECT c_mktsegment, o_orderpriority,
                   ROUND(CAST(SUM(CAST(round(l_extendedprice
                           * (1 - l_discount) * 10000) AS BIGINT)) AS DOUBLE)
                         / 10000.0, 2) AS revenue,
                   COUNT(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment, o_orderpriority
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   ROUND(CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT))
                         AS DOUBLE) / 100.0, 2) AS sum_qty,
                   ROUND(CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                         AS DOUBLE) / 100.0, 2) AS sum_base_price,
                   ROUND(CAST(SUM(CAST(round(l_discount * 100) AS BIGINT))
                         AS DOUBLE) / 100.0 / COUNT(*), 4) AS avg_disc,
                   COUNT(*) AS count_order
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "tag_union": """
            SELECT user_id,
                   array_to_string(list_sort(list(DISTINCT event_type)), ',') AS event_types
            FROM events GROUP BY user_id
        """,
        "exact_dedup": """
            SELECT md5(text) AS digest, MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
            FROM documents GROUP BY md5(text)
        """,
        "fingerprint": """
            SELECT doc_id, substring(md5(text), 1, 16) AS fp_hex FROM documents
        """,
        "lang_id": _lang_id_sql(),
        # unigram_nll: identical op order; the per-doc log-prob sum runs in
        # DECIMAL(38,18) on both sides (addition-order independence).
        "unigram_nll": r"""
            WITH toks AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text),
                       '[^\p{L}\p{N}'']+'), t -> t != '') AS ts
              FROM documents),
            flat AS (SELECT doc_id, unnest(ts) AS term FROM toks),
            vocab AS (SELECT term, COUNT(*) AS c FROM flat GROUP BY term),
            tot AS (SELECT SUM(c) AS n, COUNT(*) AS v FROM vocab),
            lp AS (
              SELECT term,
                     ln((c + 0.5) / (CAST(n AS DOUBLE) + 0.5 * v)) AS logp
              FROM vocab CROSS JOIN tot)
            SELECT doc_id,
                   ROUND(-(CAST(SUM(CAST(logp AS DECIMAL(38,18))) AS DOUBLE)
                           / COUNT(*)), 4) AS nll
            FROM flat JOIN lp USING (term)
            GROUP BY doc_id
        """,
        # bm25_topk: identical formula and operation order on both sides;
        # per-doc score sums run in DECIMAL(38,18) so addition order cannot
        # flip the 4-decimal rounding.
        "bm25_topk": r"""
            WITH toks AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text),
                       '[^\p{L}\p{N}'']+'), t -> t != '') AS ts
              FROM documents),
            stats AS (
              SELECT COUNT(*) AS n_docs,
                     CAST(SUM(len(ts)) AS DOUBLE) / COUNT(*) AS avgdl
              FROM toks),
            hits AS (
              SELECT doc_id, len(ts) AS dl, unnest(ts) AS term
              FROM toks),
            q AS (
              SELECT doc_id, dl, term, COUNT(*) AS tf
              FROM hits
              WHERE term IN ('spark', 'join', 'window', 'merge', 'stream')
              GROUP BY doc_id, dl, term),
            dfs AS (
              SELECT term, COUNT(DISTINCT doc_id) AS df FROM q GROUP BY term),
            contrib AS (
              SELECT q.doc_id,
                     ln(1.0 + (CAST(s.n_docs AS DOUBLE) - dfs.df + 0.5)
                              / (dfs.df + 0.5))
                       * (q.tf * 2.2)
                       / (q.tf + 1.2 * (1.0 - 0.75 + 0.75 * q.dl / s.avgdl))
                       AS c
              FROM q JOIN dfs USING (term) CROSS JOIN stats s)
            SELECT doc_id,
                   ROUND(CAST(SUM(CAST(c AS DECIMAL(38,18))) AS DOUBLE), 4)
                     AS bm25
            FROM contrib GROUP BY doc_id
            ORDER BY CAST(SUM(CAST(c AS DECIMAL(38,18))) AS DOUBLE) DESC,
                     doc_id ASC LIMIT 20
        """,
        "embedding_topk": """
            SELECT vec_id,
                   ROUND(list_cosine_similarity(embedding,
                     (SELECT embedding FROM embeddings WHERE vec_id = 0)), 4) AS cosine
            FROM embeddings
            ORDER BY list_cosine_similarity(embedding,
                     (SELECT embedding FROM embeddings WHERE vec_id = 0)) DESC, vec_id ASC
            LIMIT 10
        """,
        "embedding_topk_ivf": """
            SELECT vec_id,
                   ROUND(list_cosine_similarity(embedding,
                     (SELECT embedding FROM embeddings WHERE vec_id = 0)), 4) AS cosine
            FROM embeddings
            ORDER BY list_cosine_similarity(embedding,
                     (SELECT embedding FROM embeddings WHERE vec_id = 0)) DESC, vec_id ASC
            LIMIT 10
        """,
        "media_features": """
            SELECT doc_id AS media_id,
                   CASE CAST(doc_id % 3 AS INTEGER)
                     WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
                   CAST(octet_length(encode(text)) AS INTEGER) AS payload_bytes,
                   'ok' AS decode_status,
                   16 AS feature_dim
            FROM documents
        """,
        "embedding_near_dup": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   ROUND(list_cosine_similarity(a.embedding, b.embedding), 4) AS cosine
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE a.vec_id < 200 AND b.vec_id < 200
              AND ROUND(list_cosine_similarity(a.embedding, b.embedding), 4) >= 0.3
        """,
        "ngram_jaccard": r"""
            WITH sets AS (
              SELECT source AS blk, doc_id,
                     list_distinct(list_transform(
                       range(1, greatest(len(w) - 1, 1) + 1),
                       i -> array_to_string(w[i:i+1], ' '))) AS s
              FROM (SELECT source, doc_id,
                           list_filter(regexp_split_to_array(lower(text),
                             '[^\p{L}\p{N}]+'), t -> t != '') AS w
                    FROM documents WHERE doc_id < 100))
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                         / len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
            FROM sets a JOIN sets b ON a.blk = b.blk AND a.doc_id < b.doc_id
            WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.s, b.s))) >= 0.05
        """,
        "extract_structured": r"""
            WITH base AS (
              SELECT doc_id, source,
                     'Doc ' || CAST(doc_id AS VARCHAR) || ' '
                       || trim(regexp_replace(text, '\s+', ' ', 'g'))
                       || ' alpha ' || source || ' next' AS txt
              FROM documents),
            built AS (
              SELECT doc_id, txt,
                     txt || chr(10) || chr(10) || 'Lists found: 1'
                         || chr(10) || chr(10) || 'Links found: 1' AS content
              FROM base)
            SELECT 'https://docs.example/d/' || CAST(doc_id AS VARCHAR) AS url,
                   content,
                   'Doc ' || CAST(doc_id AS VARCHAR) AS title,
                   len(regexp_split_to_array(content, '\s+')) AS word_count,
                   CAST(ROUND(0.65 + CASE WHEN length(txt) > 1000 THEN 0.1
                                     WHEN length(txt) > 500 THEN 0.05
                                     ELSE 0 END, 4) AS DOUBLE) AS confidence
            FROM built
        """,
        "extract_outlinks": """
            SELECT 'https://docs.example/d/' || CAST(doc_id AS VARCHAR) AS url,
                   'https://docs.example/d/' || CAST(doc_id AS VARCHAR) AS out_link
            FROM documents
        """,
        "rule_stats": """
            WITH r AS (
              SELECT unnest(CASE
                       WHEN length(text) > 100 THEN ['article_content']
                       WHEN length(text) > 50
                         THEN ['article_content', 'paragraph_content']
                       ELSE [] END) AS rule
              FROM documents)
            SELECT rule, COUNT(*) AS usage_count FROM r GROUP BY rule
        """,
        "rule_most_used": """
            WITH r AS (
              SELECT unnest(CASE
                       WHEN length(text) > 100 THEN ['article_content']
                       WHEN length(text) > 50
                         THEN ['article_content', 'paragraph_content']
                       ELSE [] END) AS rule
              FROM documents)
            SELECT rule, COUNT(*) AS usage_count FROM r GROUP BY rule
            ORDER BY usage_count DESC, rule ASC LIMIT 1
        """,
        "extract_custom": r"""
            WITH base AS (
              SELECT doc_id, source, text,
                     text || ' alpha ' || source || ' next' AS bodytext,
                     length(text) + length(source) + 12 AS blen
              FROM documents),
            built AS (
              SELECT doc_id,
                     CASE WHEN blen > 100 THEN bodytext
                          WHEN length(text) > 50 THEN bodytext || ' ' || text
                          ELSE bodytext END AS content,
                     CASE WHEN blen > 100 THEN 1
                          WHEN length(text) > 50 THEN 2
                          ELSE 1 END AS applied
              FROM base)
            SELECT 'https://docs.example/d/' || CAST(doc_id AS VARCHAR) AS url,
                   content,
                   CAST(ROUND(least(1.0, 0.5
                         + CASE WHEN length(content) > 1000 THEN 0.2
                                WHEN length(content) > 500 THEN 0.1 ELSE 0.0 END
                         + 0.15 + applied / 6.0 * 0.1), 4) AS DOUBLE) AS confidence
            FROM built
        """,
        "extract_semantic": r"""
            WITH base AS (
              SELECT doc_id,
                     'Doc ' || CAST(doc_id AS VARCHAR) || ' ' || text
                       || ' alpha ' || source || ' next' AS sem_text
              FROM documents),
            scored AS (
              SELECT doc_id, sem_text,
                     len(list_filter(['spark','join','merge','window','table'],
                         w -> list_contains(
                           regexp_extract_all(lower(sem_text), '[a-z0-9_]+'), w)))
                       AS hits
              FROM base)
            SELECT 'https://docs.example/d/' || CAST(doc_id AS VARCHAR) AS url,
                   CASE WHEN hits >= 3 THEN sem_text ELSE '' END AS content,
                   CAST(ROUND(CASE WHEN hits >= 3 THEN hits / 5.0 ELSE 0.0 END, 4)
                     AS DOUBLE) AS confidence,
                   CASE WHEN hits >= 3
                        THEN len(regexp_split_to_array(sem_text, '\s+'))
                        ELSE 0 END AS word_count
            FROM scored
        """,
        "extract_rule_based": r"""
            WITH built AS (
              SELECT doc_id,
                     CASE WHEN length(text) > 100 THEN text
                          WHEN length(text) > 50 THEN text || ' ' || text
                          ELSE '' END AS content,
                     CASE WHEN length(text) > 100 THEN 1
                          WHEN length(text) > 50 THEN 2
                          ELSE 0 END AS applied
              FROM documents)
            SELECT 'https://docs.example/d/' || CAST(doc_id AS VARCHAR) AS url,
                   content,
                   CAST(ROUND(least(1.0, 0.5
                         + CASE WHEN length(content) > 1000 THEN 0.2
                                WHEN length(content) > 500 THEN 0.1 ELSE 0.0 END
                         + 0.15 + applied / 5.0 * 0.1), 4) AS DOUBLE) AS confidence,
                   CAST(ROUND(least(length(content) / 1000.0, 1.0), 4) AS DOUBLE)
                     AS completeness
            FROM built
        """,
        "extract_hybrid": r"""
            WITH base AS (
              SELECT doc_id, source,
                     'Doc ' || CAST(doc_id AS VARCHAR) || ' ' || text
                       || ' alpha ' || source || ' next' AS txt
              FROM documents),
            built AS (
              SELECT doc_id, txt,
                     txt || chr(10) || chr(10) || 'Lists found: 1'
                         || chr(10) || chr(10) || 'Links found: 1' AS content
              FROM base)
            SELECT 'https://docs.example/d/' || CAST(doc_id AS VARCHAR) AS url,
                   content,
                   CAST(ROUND(0.4 * (0.65
                         + CASE WHEN length(txt) > 1000 THEN 0.1
                                WHEN length(txt) > 500 THEN 0.05 ELSE 0.0 END), 4)
                     AS DOUBLE) AS confidence,
                   len(regexp_split_to_array(content, '\s+')) AS word_count
            FROM built
        """,
        "scrape_meta": r"""
            SELECT 'https://docs.example/m/' || CAST(doc_id AS VARCHAR) AS url,
                   'Doc ' || CAST(doc_id AS VARCHAR) AS title,
                   'description=About ' || source || ';og:type=article' AS meta_kv,
                   '{"@id":' || CAST(doc_id AS VARCHAR) || '}' AS ld_first,
                   len(regexp_split_to_array(
                     trim(regexp_replace(text, '\s+', ' ', 'g')) || ' n', '\s+'))
                     AS word_count,
                   1 AS link_count,
                   1 AS image_count,
                   1 AS script_count
            FROM documents
        """,
        "shape_template": """
            SELECT 'https://docs.example/d/' || CAST(doc_id AS VARCHAR) AS url,
                   'Doc ' || CAST(doc_id AS VARCHAR) || ' :: '
                     || 'https://docs.example/d/' || CAST(doc_id AS VARCHAR)
                     || ' :: {missing}' AS formatted_data
            FROM documents
        """,
        # shape_schema_json: the JSON object is rebuilt literally — schema
        # key order, number cast rendered with a trailing .0 (Jackson double
        # formatting), null for the unmatched 'author' key.
        "shape_schema_json": r"""
            WITH base AS (
              SELECT doc_id, source,
                     'Doc ' || CAST(doc_id AS VARCHAR) || ' '
                       || trim(regexp_replace(text, '\s+', ' ', 'g'))
                       || ' alpha ' || source || ' next' AS txt
              FROM documents),
            built AS (
              SELECT doc_id,
                     txt || chr(10) || chr(10) || 'Lists found: 1'
                         || chr(10) || chr(10) || 'Links found: 1' AS content
              FROM base)
            SELECT 'https://docs.example/d/' || CAST(doc_id AS VARCHAR) AS url,
                   '{"title":"Doc ' || CAST(doc_id AS VARCHAR)
                     || '","word_count":'
                     || CAST(len(regexp_split_to_array(content, '\s+')) AS VARCHAR)
                     || '.0,"url":"https://docs.example/d/' || CAST(doc_id AS VARCHAR)
                     || '","author":null}' AS formatted_data
            FROM built
        """,
        # quality_score: the heuristic is pure column arithmetic; the oracle
        # mirrors the exact term order of textstats.quality_score_col so the
        # doubles round identically at 4 decimals (verified value-exact at
        # sf0.01).
        "quality_score": r"""
            WITH toks AS (
              SELECT doc_id, text,
                     list_filter(regexp_split_to_array(lower(text),
                       '[^\p{L}\p{N}'']+'), t -> t != '') AS ts
              FROM documents),
            feat AS (
              SELECT doc_id,
                length(text) AS n_chars,
                CASE WHEN trim(text) = '' THEN 0
                     ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
                length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS punct,
                length(regexp_replace(text, '[^\p{L} ]', '', 'g')) AS alpha,
                CAST(len(list_filter(ts, t -> list_contains(
                  ['the','and','of','to','in','is','that','for','with','as'], t)))
                  AS DOUBLE) / greatest(len(ts), 1) AS stop_ratio
              FROM toks),
            scores AS (
              SELECT doc_id,
                least(n_tokens / 100.0, 1.0) AS length_score,
                CASE WHEN n_chars / greatest(n_tokens, 1) >= 3
                      AND n_chars / greatest(n_tokens, 1) <= 10
                     THEN 1.0 ELSE 0.3 END AS word_len_score,
                CASE WHEN punct / greatest(n_chars, 1) > 0.001
                      AND punct / greatest(n_chars, 1) < 0.2
                     THEN 1.0 ELSE 0.4 END AS punct_score,
                least(stop_ratio * 5.0, 1.0) AS stop_score,
                alpha / greatest(n_chars, 1) AS alpha_ratio
              FROM feat)
            SELECT doc_id,
                   ROUND(length_score * 0.3 + word_len_score * 0.2 + punct_score * 0.2
                         + stop_score * 0.15 + alpha_ratio * 0.15, 4) AS quality
            FROM scores
        """,
        # extract_adaptive: on the fixed _doc_pages template the adaptive
        # composite (PAGE METADATA / HEADINGS / FULL TEXT / LINKS,
        # adaptive_strategy.py:595-608) is a deterministic string the oracle
        # rebuilds verbatim: FULL TEXT = ws-collapsed join of innerText(body)
        # plus every element's get_text() in document order (html, head,
        # title, body, article, p, ul, li, li, a) — glue points with no
        # intervening whitespace stay glued (e.g. text||'alpha'||source).
        "extract_adaptive": r"""
            WITH built AS (
              SELECT doc_id,
                chr(10) || 'PAGE METADATA:' || chr(10) || 'Title: Doc '
                  || CAST(doc_id AS VARCHAR)
                  || chr(10) || 'URL: https://docs.example/d/' || CAST(doc_id AS VARCHAR)
                  || chr(10) || chr(10) || 'HEADINGS STRUCTURE:' || chr(10)
                  || chr(10) || chr(10) || 'FULL TEXT CONTENT:' || chr(10)
                  || text || ' alpha ' || source || ' next Doc ' || CAST(doc_id AS VARCHAR)
                  || text || 'alpha' || source || 'next Doc ' || CAST(doc_id AS VARCHAR)
                  || ' Doc ' || CAST(doc_id AS VARCHAR)
                  || ' ' || text || 'alpha' || source || 'next'
                  || ' ' || text || ' ' || text
                  || ' alpha' || source || ' alpha ' || source || ' next'
                  || chr(10) || chr(10) || 'LINKS FOUND:' || chr(10)
                  || '- next: https://docs.example/d/' || CAST(doc_id AS VARCHAR) || chr(10)
                  AS content
              FROM documents)
            SELECT 'https://docs.example/d/' || CAST(doc_id AS VARCHAR) AS url,
                   content,
                   len(regexp_split_to_array(trim(content, ' ' || chr(10)), '\s+'))
                     AS word_count,
                   1 AS n_links
            FROM built
        """,
        # minhash_near_dup's oracle is the exact all-pairs Jaccard join: the
        # LSH banding provably recovers every J≥0.5 pair on this corpus (see
        # q_minhash_near_dup docstring + tests/test_dedup_oracle.py), so the
        # bucketed pipeline must reproduce the exact join bit-for-bit.
        "minhash_near_dup": r"""
            WITH toks AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text),
                       '[^0-9A-Za-z_]+'), t -> t != '') AS w
              FROM documents),
            sh AS (
              SELECT doc_id,
                     list_distinct(CASE WHEN len(w) >= 3
                       THEN list_transform(range(1, len(w) - 1),
                                           i -> array_to_string(w[i:i+2], ' '))
                       ELSE [array_to_string(w, ' ')] END) AS s
              FROM toks)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                         / len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.s, b.s))) >= 0.5
        """,
        "minhash_signatures": _minhash_signatures_sql(),
        # near_dup_clusters: recursive-CTE transitive closure over the exact
        # J≥0.5 pair set (same pair oracle as minhash_near_dup); component =
        # min reachable id including self.
        "near_dup_clusters": r"""
            WITH RECURSIVE toks AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text),
                       '[^0-9A-Za-z_]+'), t -> t != '') AS w
              FROM documents),
            sh AS (
              SELECT doc_id,
                     list_distinct(CASE WHEN len(w) >= 3
                       THEN list_transform(range(1, len(w) - 1),
                                           i -> array_to_string(w[i:i+2], ' '))
                       ELSE [array_to_string(w, ' ')] END) AS s
              FROM toks),
            p AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id
              WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                    / len(list_distinct(list_concat(a.s, b.s))) >= 0.5),
            edges AS (
              SELECT id_a AS src, id_b AS dst FROM p
              UNION ALL SELECT id_b, id_a FROM p),
            reach(src, dst) AS (
              SELECT src, dst FROM edges
              UNION
              SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
            SELECT src AS doc_id, least(src, MIN(dst)) AS cluster_id
            FROM reach GROUP BY src
        """,
        "simhash": _simhash_sql(),
        # json_extract: object = raw greedy {..} span when it parses; array
        # = raw greedy [..] span when valid, else the (minified) unwrap of a
        # wrapper key — wrapper payloads are synthesized space-free so both
        # engines' JSON re-serialization agrees byte-for-byte.
        "json_extract": r"""
            WITH t AS (
              SELECT doc_id,
                CASE CAST(doc_id % 4 AS INTEGER)
                  WHEN 0 THEN 'Sure! Here is the data: {"id": '
                              || CAST(doc_id AS VARCHAR) || ', "source": "'
                              || source || '"} hope that helps'
                  WHEN 1 THEN 'use {placeholders} here {"id": '
                              || CAST(doc_id AS VARCHAR) || '} end'
                  WHEN 2 THEN '{"items": [1, 2, ' || CAST(doc_id AS VARCHAR)
                              || ']} trailing'
                  ELSE 'x [ noise {"data":[7,' || CAST(doc_id AS VARCHAR)
                       || ']} ]'
                END AS llm_text
              FROM documents),
            g AS (
              SELECT doc_id, llm_text,
                     regexp_extract(llm_text, '(\{[\s\S]*\})', 1) AS go,
                     regexp_extract(llm_text, '(\[[\s\S]*\])', 1) AS ga
              FROM t),
            o AS (
              SELECT doc_id, ga,
                     CASE WHEN go != '' AND json_valid(go) THEN go END AS json_obj
              FROM g),
            u AS (
              SELECT doc_id, ga, json_obj,
                     COALESCE(
                       CAST(json_extract(json_obj, '$.items') AS VARCHAR),
                       CAST(json_extract(json_obj, '$.data') AS VARCHAR),
                       CAST(json_extract(json_obj, '$.results') AS VARCHAR),
                       CAST(json_extract(json_obj, '$.list') AS VARCHAR)
                     ) AS unwrapped
              FROM o)
            SELECT doc_id, json_obj,
                   COALESCE(
                     CASE WHEN ga != '' AND json_valid(ga) THEN ga END,
                     CASE WHEN unwrapped LIKE '[%' THEN unwrapped END
                   ) AS json_arr
            FROM u
        """,
        # pii_redact: same three regexes (Java regex on the Spark side, RE2
        # in DuckDB — these patterns live in the common subset), same pass
        # order; each count is taken after the earlier passes, mirroring
        # pii_counts exactly.
        "pii_redact": r"""
            WITH t AS (
              SELECT doc_id,
                     text || ' contact u' || CAST(doc_id AS VARCHAR)
                          || '@mail' || CAST(doc_id % 7 AS VARCHAR)
                          || '.example or 555-'
                          || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                          || '-0199 from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                          || '.7 now' AS pii_text
              FROM documents)
            SELECT doc_id,
                   regexp_replace(regexp_replace(regexp_replace(pii_text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                     '<EMAIL>', 'g'),
                     '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
                     '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g')
                     AS redacted,
                   CAST(len(regexp_extract_all(pii_text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                     AS BIGINT) AS n_emails,
                   CAST(len(regexp_extract_all(regexp_replace(pii_text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                     '<EMAIL>', 'g'),
                     '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phones,
                   CAST(len(regexp_extract_all(regexp_replace(regexp_replace(
                     pii_text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                     '<EMAIL>', 'g'),
                     '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
                     '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT)
                     AS n_ips
            FROM t
        """,
        # gopher_quality: identical op order — per-(doc,term) frequencies,
        # per-doc moments, ratios as x / CAST(n AS DOUBLE); the keep flag
        # compares the unrounded doubles on both sides.
        "gopher_quality": r"""
            WITH toks AS (
              SELECT doc_id,
                     unnest(list_filter(regexp_split_to_array(
                       lower(trim(text)), '\s+'), x -> x != '')) AS tok
              FROM documents),
            tf AS (SELECT doc_id, tok, COUNT(*) AS c
                   FROM toks GROUP BY doc_id, tok),
            s AS (SELECT doc_id,
                         CAST(SUM(c) AS BIGINT) AS n_tokens,
                         COUNT(*) AS n_types,
                         MAX(c) AS top_cnt,
                         CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END)
                           AS BIGINT) AS dup_tokens,
                         CAST(SUM(c * length(tok)) AS BIGINT) AS sum_len
                  FROM tf GROUP BY doc_id)
            SELECT doc_id, n_tokens,
                   ROUND(top_cnt / CAST(n_tokens AS DOUBLE), 4)
                     AS top_token_frac,
                   ROUND(dup_tokens / CAST(n_tokens AS DOUBLE), 4)
                     AS dup_token_frac,
                   ROUND(n_types / CAST(n_tokens AS DOUBLE), 4)
                     AS type_token_ratio,
                   ROUND(sum_len / CAST(n_tokens AS DOUBLE), 4)
                     AS mean_word_len,
                   (n_tokens >= 15
                    AND top_cnt / CAST(n_tokens AS DOUBLE) <= 0.125
                    AND n_types / CAST(n_tokens AS DOUBLE) >= 0.4
                    AND sum_len / CAST(n_tokens AS DOUBLE) >= 3.0
                    AND sum_len / CAST(n_tokens AS DOUBLE) <= 10.0)
                     AS gopher_keep
            FROM s
        """,
        "stratified_sample": """
            WITH s AS (
              SELECT lang, source,
                     CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                       AS UBIGINT) % 100 < 20 AS kept
              FROM documents)
            SELECT lang, source, COUNT(*) AS n_total,
                   CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_kept
            FROM s GROUP BY lang, source
        """,
        "decontaminate": r"""
            WITH toks AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(trim(text), '\s+'),
                                 x -> x != '') AS w
              FROM documents),
            bench AS (
              SELECT DISTINCT array_to_string(w[1:5], ' ') AS gram
              FROM toks WHERE doc_id % 97 = 0),
            grams AS (
              SELECT doc_id,
                     unnest(list_transform(
                       range(1, greatest(len(w) - 4, 1) + 1),
                       i -> array_to_string(w[i:i+4], ' '))) AS gram
              FROM toks),
            hits AS (
              SELECT g.doc_id, COUNT(DISTINCT g.gram) AS n_hits
              FROM grams g JOIN bench USING (gram) GROUP BY g.doc_id)
            SELECT d.doc_id,
                   CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
                   COALESCE(h.n_hits, 0) > 0 AS contaminated
            FROM documents d LEFT JOIN hits h USING (doc_id)
        """,
        "pack_sequences": r"""
            WITH RECURSIVE docs_wc AS (
              SELECT source, doc_id,
                     CASE WHEN trim(text) = '' THEN 0
                          ELSE len(regexp_split_to_array(trim(text), '\s+'))
                       END AS wc,
                     ROW_NUMBER() OVER (PARTITION BY source
                                        ORDER BY doc_id) AS rn
              FROM documents),
            packed AS (
              SELECT source, doc_id, wc, rn,
                     CAST(0 AS BIGINT) AS bin_id, wc AS fill
              FROM docs_wc WHERE rn = 1
              UNION ALL
              SELECT s.source, s.doc_id, s.wc, s.rn,
                     CASE WHEN p.fill + s.wc <= 256 THEN p.bin_id
                          ELSE p.bin_id + 1 END,
                     CASE WHEN p.fill + s.wc <= 256 THEN p.fill + s.wc
                          ELSE s.wc END
              FROM docs_wc s JOIN packed p
                ON s.source = p.source AND s.rn = p.rn + 1)
            SELECT source, doc_id, CAST(bin_id AS BIGINT) AS bin_id
            FROM packed
        """,
        "chunk_dedup": rf"""
            WITH toks AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(
                       trim('{_BOILER} ' || text), '\s+'),
                       x -> x != '') AS w
              FROM documents),
            ch0 AS (
              SELECT doc_id,
                     unnest(range(0, CAST(ceil(len(w) / 10.0) AS BIGINT)))
                       AS pos,
                     unnest(list_transform(
                       range(0, CAST(ceil(len(w) / 10.0) AS BIGINT)),
                       k -> array_to_string(w[(k*10+1):(k*10+10)], ' ')))
                       AS chunk
              FROM toks),
            ch AS (SELECT * FROM ch0 WHERE chunk != ''),
            counts AS (SELECT chunk, COUNT(*) AS c FROM ch GROUP BY chunk),
            kept AS (
              SELECT doc_id, COUNT(*) AS n_kept,
                     string_agg(ch.chunk, ' ' ORDER BY pos) AS clean_text
              FROM ch JOIN counts USING (chunk)
              WHERE c = 1 GROUP BY doc_id),
            tot AS (SELECT doc_id, COUNT(*) AS n_chunks
                    FROM ch GROUP BY doc_id)
            SELECT d.doc_id,
                   CAST(COALESCE(t.n_chunks, 0) AS BIGINT) AS n_chunks,
                   CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
                   COALESCE(k.clean_text, '') AS clean_text
            FROM documents d
            LEFT JOIN tot t USING (doc_id)
            LEFT JOIN kept k USING (doc_id)
        """,
    }
    # semantic_dedup: closure over the exact-cosine edge set (the same
    # rounded-cosine ≥ 0.3 pairs as embedding_near_dup); component = min
    # reachable id including self.
    oracles["semantic_dedup"] = """
        WITH RECURSIVE p AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
          WHERE a.vec_id < 200 AND b.vec_id < 200
            AND ROUND(list_cosine_similarity(a.embedding, b.embedding), 4)
                >= 0.3),
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM p
          UNION ALL SELECT id_b, id_a FROM p),
        reach(src, dst) AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
        SELECT src AS vec_id, least(src, MIN(dst)) AS cluster_id
        FROM reach GROUP BY src
    """
    # vocab_stats: same top-50 order (count desc, token asc) and the same
    # int-count / double-total division on both sides.
    oracles["vocab_stats"] = r"""
        WITH toks AS (
          SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)),
                   '\s+'), x -> x != '')) AS tok
          FROM documents),
        c AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok),
        tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS t FROM c),
        top AS (SELECT tok, n FROM c ORDER BY n DESC, tok ASC LIMIT 50)
        SELECT tok, n,
               ROUND(CAST(SUM(n) OVER (ORDER BY n DESC, tok ASC
                          ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                     / (SELECT t FROM tot), 4) AS coverage
        FROM top
    """
    # text_normalize: DuckDB's nfc_normalize is the oracle for the Python
    # unicodedata kernel; same op order (NFC → control strip → \s+ collapse
    # → trim).  The injected whitespace is ASCII-only, where Python's \s
    # and RE2's \s agree.
    oracles["text_normalize"] = r"""
        WITH t AS (
          SELECT doc_id,
                 text || '  cafe' || chr(769) || ' ' || chr(9) || ' zu'
                      || chr(776) || 'rich ' || chr(1) || 'x a' || chr(778)
                      || 'ngstro' || chr(776) || 'm  ' AS dirty
          FROM documents)
        SELECT doc_id,
               trim(regexp_replace(regexp_replace(nfc_normalize(dirty),
                 '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g'),
                 '\s+', ' ', 'g')) AS norm_text,
               CAST(length(trim(regexp_replace(regexp_replace(
                 nfc_normalize(dirty),
                 '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g'),
                 '\s+', ' ', 'g'))) AS BIGINT) AS n_chars_norm
        FROM t
    """
    # capped_sample: same hash-rank window (md5 15-hex-digit prefix as the
    # sort key, id tiebreak).
    oracles["capped_sample"] = """
        SELECT doc_id, lang, source FROM (
          SELECT doc_id, lang, source,
                 ROW_NUMBER() OVER (
                   PARTITION BY lang, source
                   ORDER BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                 1, 15) AS UBIGINT) ASC, doc_id ASC)
                   AS rk
          FROM documents)
        WHERE rk <= 3
    """
    # incremental_dedup: exhaustive oracle — survivors of the digest
    # anti-join with NO old-side doc at exact Jaccard ≥ 0.5 (same shingle
    # construction as the minhash oracles; empty-union pairs score 0.0 on
    # both sides).
    oracles["incremental_dedup"] = r"""
        WITH toks AS (
          SELECT doc_id, text, CAST(doc_id % 2 AS INTEGER) AS side,
                 list_filter(regexp_split_to_array(lower(text),
                   '[^0-9A-Za-z_]+'), t -> t != '') AS w
          FROM documents),
        sh AS (
          SELECT doc_id, side, text,
                 list_distinct(CASE WHEN len(w) >= 3
                   THEN list_transform(range(1, len(w) - 1),
                                       i -> array_to_string(w[i:i+2], ' '))
                   ELSE [array_to_string(w, ' ')] END) AS s
          FROM toks),
        surv AS (
          SELECT * FROM sh WHERE side = 1
            AND md5(text) NOT IN (SELECT md5(text) FROM sh WHERE side = 0))
        SELECT n.doc_id FROM surv n
        WHERE NOT EXISTS (
          SELECT 1 FROM sh o WHERE o.side = 0
            AND CAST(len(list_intersect(n.s, o.s)) AS DOUBLE)
                / greatest(len(list_distinct(list_concat(n.s, o.s))), 1)
                >= 0.5)
    """
    # host_reputation composes the verified quality_score oracle.
    oracles["host_reputation"] = f"""
        WITH q AS ({oracles["quality_score"]})
        SELECT 'h' || CAST(doc_id % 20 AS VARCHAR) || '.example' AS host,
               COUNT(*) AS n_docs,
               ROUND(CAST(SUM(CAST(quality AS DECIMAL(38,12))) AS DOUBLE)
                     / COUNT(*), 4) AS avg_quality
        FROM q GROUP BY 1
    """
    # url_features reuses the synthesized order-URL corpus.
    oracles["url_features"] = f"""
        WITH u AS ({_ORDER_URLS_SQL}),
        f AS (SELECT okey, raw_url,
                lower(regexp_replace(regexp_replace(regexp_extract(raw_url,
                  '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
                  '^.*@', ''), ':.*$', '')) AS host,
                regexp_extract(raw_url,
                  '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
                regexp_extract(raw_url, '\\?([^#]*)', 1) AS qs
              FROM u)
        SELECT okey, host,
               regexp_extract(host, '\\.([a-z0-9-]+)$', 1) AS tld,
               CAST(len(list_filter(str_split(path, '/'), s -> s != ''))
                 AS BIGINT) AS path_depth,
               CAST(CASE WHEN qs = '' THEN 0
                         ELSE len(str_split(qs, '&')) END AS BIGINT)
                 AS n_params,
               contains(raw_url, '#') AS has_fragment
        FROM f
    """
    # corpus_filter: the end-to-end funnel composed from the already-
    # verified sub-oracles (lang gate + quality gate + drop non-minimum
    # members of each near-dup cluster).
    oracles["corpus_filter"] = f"""
        SELECT q.doc_id, q.quality
        FROM ({oracles["quality_score"]}) q
        JOIN ({oracles["lang_id"]}) l USING (doc_id)
        WHERE l.lang_pred = 'en' AND q.quality >= 0.5
          AND q.doc_id NOT IN (
            SELECT doc_id FROM ({oracles["near_dup_clusters"]}) c
            WHERE c.doc_id != c.cluster_id)
    """
    # trap_detect: URL-template profiling — the template expression replays
    # crawler_engine_spark.frontier.traps.PATTERN_RULES verbatim (the rules
    # are RE2-compatible by contract; DuckDB regexp_replace needs the 'g'
    # flag to match Spark's replace-all default).
    from crawler_engine_spark.frontier.traps import PATTERN_RULES

    pattern_sql = "canonical_url"
    for pat, repl in PATTERN_RULES:
        # DuckDB standard strings: only quotes need escaping (no rule uses
        # backslashes; RE2 compatibility is part of the PATTERN_RULES contract)
        pattern_sql = (
            f"regexp_replace({pattern_sql}, '{pat.replace(chr(39), chr(39) * 2)}', "
            f"'{repl}', 'g')"
        )
    oracles["trap_detect"] = f"""
        WITH u AS (
          SELECT 'https://host' || CAST(o_custkey % 8 AS VARCHAR) || '.example'
                 || CASE WHEN o_orderkey % 5 = 0
                         THEN '/cal/2024/' || CAST(o_orderkey % 12 AS VARCHAR)
                         ELSE '/doc/' || CAST(o_orderkey AS VARCHAR) END
                   AS canonical_url
          FROM orders)
        SELECT lower(regexp_extract(canonical_url,
                 '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS host,
               {pattern_sql} AS url_pattern,
               CAST(COUNT(DISTINCT canonical_url) AS BIGINT) AS n_urls,
               COUNT(DISTINCT canonical_url) >= 50 AS trap_suspect
        FROM u GROUP BY 1, 2
    """
    # sitemap_seeds: rebuild the same per-host <urlset> docs, extract +
    # entity-decode + canonicalize + dedup the <loc> entries.
    oracles["sitemap_seeds"] = f"""
        WITH u AS (
          SELECT 'host' || CAST(o_custkey % 8 AS VARCHAR) || '.example' AS host,
                 '<url><loc> https://Host' || CAST(o_custkey % 8 AS VARCHAR)
                 || '.Example/doc/' || CAST(o_orderkey AS VARCHAR)
                 || CASE WHEN o_orderkey % 3 = 0 THEN '?a=1&amp;b=2' ELSE '' END
                 || ' </loc></url>' AS entry
          FROM orders),
        x AS (SELECT host,
                     '<urlset>' || string_agg(entry, '' ORDER BY entry)
                     || '</urlset>' AS xml
              FROM u GROUP BY host),
        l AS (SELECT unnest(regexp_extract_all(xml,
                       '<loc>\\s*([^<]*?)\\s*</loc>', 1)) AS rawloc
              FROM x),
        d AS (SELECT replace(replace(replace(replace(replace(rawloc,
                       '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                       '&apos;', ''''), '&amp;', '&') AS raw_url
              FROM l)
        SELECT DISTINCT {_CANON_SQL} AS url FROM d
    """
    # boilerplate_chunks / dup_ngrams / dup_span_fraction: same whitespace
    # tokenization as chunk_dedup; counts via COUNT (BIGINT, not HUGEINT).
    oracles["boilerplate_chunks"] = rf"""
        WITH synth AS (
          SELECT doc_id, source,
                 concat_ws(' ', 'begin', source,
                   'boilerplate footer rights reserved contact legal team end',
                   text) AS btext
          FROM documents),
        toks AS (
          SELECT doc_id, source,
                 list_filter(regexp_split_to_array(trim(btext), '\s+'),
                             x -> x != '') AS w
          FROM synth),
        ch0 AS (
          SELECT doc_id, source,
                 unnest(range(0, CAST(ceil(len(w) / 10.0) AS BIGINT))) AS pos,
                 unnest(list_transform(
                   range(0, CAST(ceil(len(w) / 10.0) AS BIGINT)),
                   k -> array_to_string(w[(k*10+1):(k*10+10)], ' '))) AS chunk
          FROM toks),
        ch AS (SELECT * FROM ch0 WHERE chunk != ''),
        bp AS (SELECT source, chunk FROM ch GROUP BY source, chunk
               HAVING COUNT(DISTINCT doc_id) >= 3),
        kept AS (
          SELECT doc_id, COUNT(*) AS n_kept,
                 string_agg(chunk, ' ' ORDER BY pos) AS clean_text
          FROM ch
          WHERE NOT EXISTS (SELECT 1 FROM bp
                            WHERE bp.source = ch.source
                              AND bp.chunk = ch.chunk)
          GROUP BY doc_id),
        tot AS (SELECT doc_id, COUNT(*) AS n_chunks FROM ch GROUP BY doc_id)
        SELECT d.doc_id, d.source,
               CAST(COALESCE(t.n_chunks, 0) AS BIGINT) AS n_chunks,
               CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
               COALESCE(k.clean_text, '') AS clean_text
        FROM documents d
        LEFT JOIN tot t USING (doc_id)
        LEFT JOIN kept k USING (doc_id)
    """
    oracles["dup_ngrams"] = rf"""
        WITH synth AS (
          SELECT doc_id,
                 concat_ws(' ',
                   CASE WHEN doc_id % 3 = 0 THEN '{_BOILER}' END,
                   text,
                   CASE WHEN doc_id % 5 = 0 THEN '{_SPAM}' END) AS btext
          FROM documents),
        toks AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(trim(btext), '\s+'),
                             x -> x != '') AS w
          FROM synth),
        grams AS (
          SELECT doc_id,
                 unnest(list_transform(range(0, greatest(len(w) - 4, 0)),
                        k -> array_to_string(w[(k+1):(k+5)], ' '))) AS ngram
          FROM toks)
        SELECT ngram,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(COUNT(*) AS BIGINT) AS n_occurrences
        FROM grams GROUP BY ngram
        HAVING COUNT(DISTINCT doc_id) >= 2
        ORDER BY n_docs DESC, n_occurrences DESC, ngram ASC
        LIMIT 100
    """
    oracles["dup_span_fraction"] = rf"""
        WITH synth AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 10 <= 1 THEN '{_VERSE}'
                      WHEN doc_id % 3 = 0
                        THEN concat_ws(' ', '{_BOILER}', text)
                      ELSE text END AS btext
          FROM documents),
        toks AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(trim(btext), '\s+'),
                             x -> x != '') AS w
          FROM synth),
        sp AS (
          SELECT doc_id,
                 unnest(list_transform(range(0, greatest(len(w) - 7, 0)),
                        k -> array_to_string(w[(k+1):(k+8)], ' '))) AS ngram
          FROM toks),
        dg AS (SELECT ngram, 1 AS isdup FROM sp GROUP BY ngram
               HAVING COUNT(DISTINCT doc_id) >= 2),
        perdoc AS (
          SELECT sp.doc_id, COUNT(*) AS n_spans, COUNT(dg.isdup) AS n_dup
          FROM sp LEFT JOIN dg USING (ngram) GROUP BY sp.doc_id)
        SELECT d.doc_id,
               CAST(COALESCE(p.n_spans, 0) AS BIGINT) AS n_spans,
               CAST(COALESCE(p.n_dup, 0) AS BIGINT) AS n_dup,
               COALESCE(ROUND(CAST(p.n_dup AS DOUBLE) / p.n_spans, 4),
                        0.0) AS dup_fraction,
               COALESCE(ROUND(CAST(p.n_dup AS DOUBLE) / p.n_spans, 4),
                        0.0) <= 0.5 AS keep
        FROM documents d LEFT JOIN perdoc p USING (doc_id)
    """
    oracles["link_pagerank"] = _pagerank_sql(iterations=10)
    oracles["focused_pagerank"] = _pagerank_sql(
        iterations=10, teleport_pred="node % 10 = 0"
    )
    oracles["anchor_texts"] = _ANCHOR_TEXTS_SQL
    oracles["doc_keywords"] = _DOC_KEYWORDS_SQL
    oracles["warc_ingest"] = _WARC_INGEST_SQL
    oracles["hits_scores"] = _hits_sql(iterations=5)
    return oracles
