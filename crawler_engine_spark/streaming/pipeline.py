"""Structured Streaming surface (§2.10 — optional in the batch-round design).

The crawl itself is round-based (exact resume via committed batch snapshots),
but a streaming ingestion surface is provided for continuous page feeds:
``readStream`` over a growing pages directory → the same vectorized
extraction kernel → ``writeStream`` sink.  Incremental file discovery and
checkpointing come from Structured Streaming; the extraction operator is
shared byte-for-byte with the batch path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..data.gen import PAGES_SCHEMA
from ..operators.extraction import extract_pages


def read_pages_stream(
    spark: SparkSession, pages_dir: str, max_files_per_trigger: int = 8
) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(pages_dir)
    )


def stream_extract(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    mode: str = "structured",
    available_now: bool = True,
):
    """Continuous extraction: new page files → kernel → parquet sink.
    ``available_now`` drains the backlog and stops (test/batch-catchup mode);
    otherwise runs until stopped."""
    pages = read_pages_stream(spark, pages_dir)
    results = extract_pages(pages, mode=mode)
    writer = (
        results.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_corpus_filter(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    min_quality: float = 0.5,
    langs: tuple = ("en",),
    available_now: bool = True,
):
    """Continuous corpus preparation: new page files → extraction →
    language + quality gates → PII scrub → parquet sink.

    Every gate is a pure column expression (textstats/corpusops), so the
    streaming plan IS the batch plan behind a file source — no stateful
    operators, exactly-once via the file-sink commit log, and identical
    output to running the batch pipeline over the same files
    (test_stream_corpus_filter_matches_batch)."""
    from ..operators import corpusops
    from ..operators.textstats import lang_id_col, quality_score_col

    pages = read_pages_stream(spark, pages_dir)
    res = extract_pages(pages, mode="structured")
    filtered = (
        res.withColumn("lang_pred", lang_id_col(F.col("content")))
        .withColumn("quality", F.round(quality_score_col(F.col("content")), 4))
        .where(
            F.col("lang_pred").isin(list(langs))
            & (F.col("quality") >= min_quality)
        )
        .withColumn("content", corpusops.redact_pii_col(F.col("content")))
        .select("url", "content", "lang_pred", "quality")
    )
    writer = (
        filtered.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_exact_dedup(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    within_watermark: str | None = None,
):
    """Stateful streaming exact dedup: one output row per distinct content
    digest (state = the digest set, carried in the streaming state store;
    re-crawled identical pages in later batches are dropped).  The batch
    twin is groupBy(digest).min(url) — the stream keeps the first-seen
    arrival instead, so only the digest set (not the surviving url) is
    deterministic under partition races; downstream consumers key on the
    digest.

    State growth: the default (``within_watermark=None``) keeps one state
    row per distinct digest FOREVER — exact global dedup, sized for
    ``availableNow`` backlog catch-up runs where the state store holds at
    most the drained corpus's digest set (~48 B/row; 10^9 digests ≈ 48 GB
    across the cluster's state stores).  A true continuous deployment at
    crawl scale should pass ``within_watermark`` (e.g. ``"24 hours"``):
    the stream then uses ``dropDuplicatesWithinWatermark`` on ``warc_ts``,
    which guarantees dedup of duplicates arriving within the watermark
    delay of each other and lets the store evict older digests — state is
    bounded by the horizon's digest arrival rate instead of corpus
    cardinality.  Re-crawls separated by more than the horizon may
    re-emit; pair with a periodic batch ``exact_dedup`` over the sink (the
    standard stream-bounds-state / batch-restores-exactness split)."""
    pages = read_pages_stream(spark, pages_dir)
    hashed = pages.select(
        F.md5(F.col("text")).alias("digest"), "url", "warc_ts"
    )
    if within_watermark is not None:
        hashed = hashed.withWatermark(
            "warc_ts", within_watermark
        ).dropDuplicatesWithinWatermark(["digest"])
    else:
        hashed = hashed.dropDuplicates(["digest"])
    writer = (
        hashed.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


CANDIDATES_SCHEMA = "host string, canonical_url string, url_hash long"


def stream_politeness_admit(
    spark: SparkSession,
    candidates_dir: str,
    refill_per_batch: float = 5.0,
    capacity: float = 10.0,
    max_files_per_trigger: int = 1,
    max_pending: int = 10_000,
) -> DataFrame:
    """Continuous per-host politeness: a token-bucket admission controller as
    a custom stateful operator (``applyInPandasWithState``), the streaming
    analog of the batch engine's W5 window + token table
    (frontier/politeness.py).

    State per host: remaining tokens PLUS the queue of not-yet-admitted
    candidates.  Each micro-batch the bucket refills by ``refill_per_batch``
    (capped at ``capacity``), merges queued candidates with new arrivals,
    admits up to ``floor(tokens)`` in deterministic ``url_hash`` order
    (``admitted = true``), and carries the rest in state for the next
    trigger — throttled candidates are re-considered, never dropped.  The
    queue is bounded by ``max_pending``; overflow rows are emitted with
    ``admitted = false`` so the caller can re-queue them explicitly (no
    silent loss), and re-delivered candidates dedup against the queue.

    NOTE: the state schema (tokens + pending queue) is incompatible with
    checkpoints written by the tokens-only version of this operator —
    restart such deployments with a fresh checkpointLocation (Spark rejects
    the mismatched state schema at startup; there is no migration).  A host whose queue is non-empty drains further only when
    it next appears in a micro-batch (NoTimeout semantics); continuous
    deployments that need idle-host draining should feed periodic empty
    heartbeat candidates or use a processing-time timeout variant.
    """
    import math

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def admit(key, pdfs, state: GroupState):
        (host,) = key
        if state.exists:
            tokens, p_urls, p_hashes = state.get
            pending = pd.DataFrame(
                {
                    "canonical_url": pd.Series(list(p_urls or []), dtype="object"),
                    "url_hash": pd.Series(list(p_hashes or []), dtype="int64"),
                }
            )
        else:
            tokens = 0.0
            pending = pd.DataFrame(
                {
                    "canonical_url": pd.Series([], dtype="object"),
                    "url_hash": pd.Series([], dtype="int64"),
                }
            )
        arrivals = [p[["canonical_url", "url_hash"]] for p in pdfs]
        rows = pd.concat([pending] + arrivals, ignore_index=True)
        # a candidate re-delivered while queued (at-least-once upstream, or
        # caller re-queuing overflow) must not be admitted twice
        rows = rows.drop_duplicates(subset="canonical_url")
        rows = rows.sort_values("url_hash", kind="mergesort")
        tokens = min(float(capacity), float(tokens) + float(refill_per_batch))
        n = int(min(len(rows), math.floor(tokens)))
        admitted = rows.iloc[:n]
        rest = rows.iloc[n:]
        keep = rest.iloc[:max_pending]
        overflow = rest.iloc[max_pending:]
        state.update(
            (
                tokens - n,
                keep["canonical_url"].tolist(),
                [int(x) for x in keep["url_hash"]],
            )
        )
        yield pd.DataFrame(
            {
                "host": [host] * (n + len(overflow)),
                "canonical_url": list(admitted["canonical_url"])
                + list(overflow["canonical_url"]),
                "tokens_left": [float(tokens - n)] * (n + len(overflow)),
                "admitted": [True] * n + [False] * len(overflow),
            }
        )

    candidates = (
        spark.readStream.schema(CANDIDATES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(candidates_dir)
    )
    return candidates.groupBy("host").applyInPandasWithState(
        admit,
        outputStructType=(
            "host string, canonical_url string, tokens_left double, admitted boolean"
        ),
        stateStructType=(
            "tokens double, pending_urls array<string>, pending_hashes array<long>"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

