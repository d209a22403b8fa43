"""Corpus-preparation operators for a web-scale training-data pipeline:
PII redaction, Gopher-style repetition/quality signals, URL feature
extraction, benchmark decontamination, deterministic stratified sampling,
greedy sequence packing, and CCNet-style cross-document chunk dedup.

Every operator is designed for the 100 TB shape first:

* PII redaction, URL features, hash sampling — pure JVM column expressions
  (whole-stage codegen; zero shuffles, zero Python).
* Repetition stats — explode → two map-side-combined aggregations keyed by
  (doc, term) then doc; no window, no driver state.
* Decontamination — the benchmark n-gram set is small by construction
  (eval suites are KBs, corpora are TBs), so it broadcasts; the corpus side
  explodes sliding n-grams once and semi-joins.  At 10^10 docs, pre-hash
  grams to int64 (`xxhash64`) so the broadcast set is 8 B/gram.
* Sequence packing — inherently sequential *within* a pack stream, so the
  stream key (here `source`; in production a shard id) partitions the work
  and `applyInPandas` runs the greedy fold per group.  Parallelism = number
  of pack streams, the same contract as every production packer.
* Chunk dedup — the CCNet shape: explode fixed-stride token chunks,
  count chunk occurrences corpus-wide (one shuffle, map-side combined),
  join the counts back (second shuffle, AQE handles the boilerplate-chunk
  skew), reassemble per doc (third shuffle).  At scale join on the chunk's
  64-bit hash, not the string.

Reference scope note: the reference engine (Daniel-Azil/crawler_engine)
stops at extraction; these operators extend the engine into the
training-data preparation tier the brief names (dedup/quality/sampling over
crawled text).  No reference parity applies — the DuckDB oracles in
`__spark_entry__.py` are the correctness authority.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# --------------------------------------------------------------------------
# Tokenization shared by the corpus operators (whitespace tokens; the
# tokens keep their bytes, but operators that REASSEMBLE text from tokens
# — chunk_dedup — emit single-space-joined output, i.e. whitespace is
# normalized.  Run make_normalize_udf first if that matters downstream.)
# --------------------------------------------------------------------------


def ws_tokens(text: Column) -> Column:
    """Whitespace token array; empty array for blank text."""
    return F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != "")


# --------------------------------------------------------------------------
# PII redaction (pure column expressions)
# --------------------------------------------------------------------------

_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"
_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def redact_pii_col(text: Column) -> Column:
    """Replace emails, NANP-style phone numbers, and IPv4 literals with
    typed placeholders.  Order matters: emails first (their local parts can
    contain digit runs), then phones, then IPs."""
    s = F.regexp_replace(text, _EMAIL_RE, "<EMAIL>")
    s = F.regexp_replace(s, _PHONE_RE, "<PHONE>")
    return F.regexp_replace(s, _IPV4_RE, "<IP>")


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-row PII hit counts — each count is taken on the text AFTER the
    earlier redaction passes, so the counts are exactly the number of
    placeholders redact_pii_col emits (an IP-like span consumed by the
    phone pass, e.g. '1.2.3.444-555-6666', is a phone, not an IP)."""
    after_email = F.regexp_replace(text, _EMAIL_RE, "<EMAIL>")
    after_phone = F.regexp_replace(after_email, _PHONE_RE, "<PHONE>")
    return {
        "n_emails": F.regexp_count(text, F.lit(_EMAIL_RE)),
        "n_phones": F.regexp_count(after_email, F.lit(_PHONE_RE)),
        "n_ips": F.regexp_count(after_phone, F.lit(_IPV4_RE)),
    }


# --------------------------------------------------------------------------
# Unicode text normalization (Arrow-batched; crawled text is never NFC-clean)
# --------------------------------------------------------------------------


def make_normalize_udf(form: str = "NFC", collapse_ws: bool = True):
    """Arrow-batched Unicode normalizer: ``unicodedata.normalize(form, ·)``
    plus optional control-char strip + whitespace collapse — the first
    stage of any crawled-text pipeline (combining sequences, stray
    controls, and exotic whitespace otherwise defeat hashing/dedup, which
    compare bytes).  Python is unavoidable here (the JVM has no NFC
    expression); the UDF is a pure map over Arrow batches — no shuffle,
    fuses into the scan."""
    import re as _re
    import unicodedata

    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    ctrl = _re.compile(r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]")
    ws = _re.compile(r"\s+")

    @pandas_udf(T.StringType())
    def normalize(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        def one(s):
            if s is None:
                return None
            out = unicodedata.normalize(form, s)
            out = ctrl.sub("", out)
            if collapse_ws:
                out = ws.sub(" ", out).strip()
            return out

        for series in it:
            yield series.map(one)

    return normalize


# --------------------------------------------------------------------------
# Gopher-style repetition / quality signals
# --------------------------------------------------------------------------


def repetition_stats(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document repetition signals (the Gopher repetition-filter family):
    top-token fraction, duplicate-token fraction, type-token ratio, mean
    word length — plus a composite keep flag.

    Two aggregations, both map-side combined: (doc, term) term frequencies,
    then per-doc moments.  The keep thresholds are compared on the exact
    (unrounded) doubles; only the *reported* fractions are rounded.

    Documents with zero tokens have no defined statistics and are absent
    from the output (a pretraining filter drops them regardless)."""
    toks = docs.select(
        F.col(id_col).alias("_id"),
        F.explode(ws_tokens(F.lower(F.col(text_col)))).alias("tok"),
    )
    tf = toks.groupBy("_id", "tok").agg(F.count("*").alias("c"))
    stats = tf.groupBy("_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_types"),
        F.max("c").alias("top_cnt"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias("dup_tokens"),
        F.sum(F.col("c") * F.length("tok")).alias("sum_len"),
    )
    nt = F.col("n_tokens").cast("double")
    top_frac = F.col("top_cnt") / nt
    dup_frac = F.col("dup_tokens") / nt
    ttr = F.col("n_types") / nt
    mwl = F.col("sum_len") / nt
    keep = (
        (F.col("n_tokens") >= 15)
        & (top_frac <= 0.125)
        & (ttr >= 0.4)
        & (mwl >= 3.0)
        & (mwl <= 10.0)
    )
    return stats.select(
        F.col("_id").alias(id_col),
        "n_tokens",
        F.round(top_frac, 4).alias("top_token_frac"),
        F.round(dup_frac, 4).alias("dup_token_frac"),
        F.round(ttr, 4).alias("type_token_ratio"),
        F.round(mwl, 4).alias("mean_word_len"),
        keep.alias("gopher_keep"),
    )


# --------------------------------------------------------------------------
# URL features (crawl-side corpus filtering signals)
# --------------------------------------------------------------------------


def url_feature_cols(url: Column) -> dict[str, Column]:
    """Typed URL features for corpus filtering: host, tld, path depth,
    query-parameter count, fragment flag.  Pure column expressions.

    Host/path reuse urlops (userinfo and port stripped) so features key on
    the SAME host string as the frontier/politeness tier — a reputation
    rollup built here joins apply_host_reputation without misses."""
    from . import urlops

    host = urlops.host_col(url)
    path = urlops.path_col(url)
    depth = F.size(F.filter(F.split(path, "/"), lambda s: s != ""))
    qs = F.regexp_extract(url, r"\?([^#]*)", 1)
    n_params = F.when(qs == "", F.lit(0)).otherwise(F.size(F.split(qs, "&")))
    return {
        "host": host,
        "tld": F.regexp_extract(host, r"\.([a-z0-9-]+)$", 1),
        "path_depth": depth,
        "n_params": n_params,
        "has_fragment": url.contains("#"),
    }


# --------------------------------------------------------------------------
# Benchmark decontamination (n-gram overlap join)
# --------------------------------------------------------------------------


def decontaminate(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    bench_grams: DataFrame,
    n: int = 5,
) -> DataFrame:
    """Flag documents sharing any sliding word n-gram with a benchmark set.

    ``bench_grams`` must have a single ``gram`` column (space-joined word
    n-grams of the eval suite) — small by construction, so it broadcasts.
    The corpus side explodes all stride-1 n-grams (the honest
    decontamination cost: ~n_tokens rows per doc) and inner-joins; docs
    with no hit come back via the final left join with n_hits = 0."""
    # materialize the token array in its own projection: referencing the
    # split() expression inside the transform lambda would inline (and
    # re-evaluate) the tokenization once per gram position — O(tokens²)
    # splitting per row
    toked = docs.select(
        F.col(id_col).alias("_id"), ws_tokens(F.col(text_col)).alias("_toks")
    )
    t = F.col("_toks")
    grams = toked.select(
        "_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(t) - (n - 1), F.lit(1))),
                lambda i: F.concat_ws(" ", F.slice(t, i, n)),
            )
        ).alias("gram"),
    )
    hits = (
        grams.join(F.broadcast(bench_grams.select("gram").distinct()), "gram")
        .groupBy("_id")
        .agg(F.countDistinct("gram").alias("n_hits"))
    )
    return (
        docs.select(F.col(id_col))
        .join(hits.withColumnRenamed("_id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def leading_ngram_col(text: Column, n: int = 5) -> Column:
    """First-n-words gram (used to synthesize benchmark sets in tests)."""
    return F.concat_ws(" ", F.slice(ws_tokens(text), 1, n))


# --------------------------------------------------------------------------
# Deterministic stratified sampling
# --------------------------------------------------------------------------


def hash_keep_col(key: Column, pct: int) -> Column:
    """Deterministic, engine-portable Bernoulli sample: keep iff
    md5(key)'s leading 32 bits mod 100 < pct.  Key-based (not row-position)
    so the decision is stable under repartitioning and re-runs, and the
    same doc is kept/dropped in every derived dataset."""
    h = F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10).cast("long")
    return F.pmod(h, F.lit(100)) < pct


def stratified_sample_counts(
    docs: DataFrame, id_col: str, strata: list[str], pct: int
) -> DataFrame:
    """Per-stratum kept/total counts under the hash sample — the audit view
    a sampling pipeline ships with its output."""
    kept = hash_keep_col(F.col(id_col), pct)
    return docs.groupBy(*strata).agg(
        F.count("*").alias("n_total"),
        F.sum(kept.cast("long")).alias("n_kept"),
    )


def _rank_hash_col(id_col: str) -> Column:
    """The stratum-ranking hash: leading 15 hex digits of md5(id), uniform
    in [0, 16^15)."""
    return F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10
    ).cast("long")


_RANK_HASH_MAX = float(16**15)


def _capped_prefiltered(
    docs: DataFrame, id_col: str, strata: list[str], cap: int, giant_factor: int
) -> DataFrame:
    """``docs`` plus ``_cap_n`` (stratum size for giant strata, else null),
    with giant strata pre-filtered to rows whose ranking hash falls below
    a threshold sized to keep ≈ ``giant_factor·cap + 16`` rows — a certain
    SUPERSET of the true top-``cap`` whenever ≥ cap rows survive (the
    prefilter is a prefix of the exact ranking order, so it can only cut
    rows ranked past everything it keeps).  Exposed for the reducer-bound
    test; callers use :func:`capped_sample`."""
    counts = docs.groupBy(*strata).agg(F.count("*").alias("_cap_n"))
    giants = counts.where(F.col("_cap_n") > F.lit(giant_factor) * F.lit(cap))
    joined = docs.join(F.broadcast(giants), strata, "left")
    # expected survivors per giant: giant_factor·cap + 16 (the constant
    # keeps the miss probability ≈ e^-(gf·cap+16-cap) negligible at cap=1)
    thresh = F.ceil(
        F.lit(_RANK_HASH_MAX)
        * (F.lit(giant_factor) * F.lit(cap) + F.lit(16))
        / F.col("_cap_n")
    ).cast("long")
    return joined.where(
        F.col("_cap_n").isNull() | (_rank_hash_col(id_col) < thresh)
    )


def capped_sample(
    docs: DataFrame,
    id_col: str,
    strata: list[str],
    cap: int,
    giant_factor: int = 8,
) -> DataFrame:
    """Corpus rebalancing: keep at most ``cap`` rows per stratum (domain,
    language, source...), chosen deterministically — rank rows inside each
    stratum by md5(id) (id as tiebreak) and keep rank ≤ cap.  The hash
    order makes the selection an unbiased, rerun-stable sample rather than
    'whatever sorted first'.

    Giant-stratum guard: the ranking window concentrates each stratum in
    one reducer, so a billion-row stratum would serialize.  Strata larger
    than ``giant_factor·cap`` are first cut to the rows whose ranking hash
    lies below ``(giant_factor·cap+16)/n`` of the hash space — one
    map-side-combined count aggregation plus a broadcast of the (few)
    giant strata; the window then ranks ≤ ~``giant_factor·cap`` rows per
    stratum regardless of input skew (locked by
    test_capped_sample_giant_stratum_bounded).  Because the prefilter is a
    prefix of the exact ranking order, the output is IDENTICAL to the
    unguarded window; if the Bernoulli tail ever leaves a giant stratum
    with < cap survivors the plan raises instead of silently returning a
    short sample (raise ``giant_factor`` in that astronomically unlikely
    event)."""
    from pyspark.sql import Window

    pre = _capped_prefiltered(docs, id_col, strata, cap, giant_factor)
    h = _rank_hash_col(id_col)
    w = Window.partitionBy(*strata).orderBy(h.asc(), F.col(id_col).asc())
    wc = Window.partitionBy(*strata)
    capped = (
        pre.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= cap)
    )
    # in-plan exactness check: a giant stratum (n > gf·cap ≥ cap) must
    # yield exactly cap rows; fewer means the prefilter cut too deep.  The
    # count window reuses the ranking window's partitioning (no extra
    # shuffle) over the already-capped rows.
    guarded = capped.withColumn("_cnt", F.count("*").over(wc)).where(
        F.assert_true(
            F.col("_cap_n").isNull() | (F.col("_cnt") == cap),
            F.lit(
                "capped_sample: giant-stratum prefilter left fewer than "
                "cap rows — raise giant_factor"
            ),
        ).isNull()
    )
    return guarded.select(*docs.columns)


# --------------------------------------------------------------------------
# Greedy sequence packing (per-stream stateful fold)
# --------------------------------------------------------------------------


def pack_sequences(
    docs: DataFrame,
    id_col: str,
    wc_col: str,
    stream_col: str,
    cap: int,
) -> DataFrame:
    """Greedy sequential packing: within each pack stream (ordered by
    ``id_col``) documents accumulate into bins of at most ``cap`` tokens; a
    document that would overflow opens the next bin (documents are never
    split; an oversized document gets a bin alone).

    Packing is order-dependent state, so it runs as an ``applyInPandas``
    fold per stream — the standard production contract where parallelism =
    number of pack streams (shards), not rows."""
    # output schema mirrors the input's actual key types (stream keys are
    # often int shard ids, ids sometimes strings)
    in_schema = {f.name: f.dataType.simpleString() for f in docs.schema.fields}
    schema = (
        f"{stream_col} {in_schema[stream_col]}, "
        f"{id_col} {in_schema[id_col]}, bin_id long"
    )

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="mergesort")
        bins = []
        bin_id, fill = -1, cap + 1  # force a new bin on the first row
        for wc in pdf[wc_col].astype("int64"):
            if fill + wc <= cap:
                fill += wc
            else:
                bin_id += 1
                fill = wc
            bins.append(bin_id)
        return pd.DataFrame(
            {
                stream_col: pdf[stream_col].values,
                id_col: pdf[id_col].values,
                "bin_id": bins,
            }
        )

    return (
        docs.select(stream_col, id_col, wc_col)
        .groupBy(stream_col)
        .applyInPandas(_pack, schema=schema)
    )


# --------------------------------------------------------------------------
# CCNet-style cross-document chunk dedup
# --------------------------------------------------------------------------


def chunk_dedup(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    chunk_tokens: int = 10,
) -> DataFrame:
    """Remove every token chunk (fixed stride of ``chunk_tokens`` words)
    that occurs more than once in the corpus — the line-level dedup of
    CCNet applied to word chunks (boilerplate headers/footers vanish from
    every document; unique prose survives; exact-duplicate documents are
    fully emptied, subsuming doc-level dedup).

    Returns one row per input doc: (id, n_chunks, n_kept, clean_text) with
    clean_text = the surviving chunks in original order ('' if none).
    clean_text is single-space-joined (whitespace-normalized) — runs of
    whitespace in the input do not survive reassembly."""
    chunked = _stride_chunks(docs, text_col, id_col, chunk_tokens)
    counts = chunked.groupBy("chunk").agg(F.count("*").alias("_c"))
    kept = (
        chunked.join(counts, "chunk")
        .where(F.col("_c") == 1)
        .groupBy("_id")
        .agg(
            F.count("*").alias("n_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "chunk"))),
                    lambda s: s["chunk"],
                ),
            ).alias("clean_text"),
        )
    )
    totals = chunked.groupBy("_id").agg(F.count("*").alias("n_chunks"))
    base = docs.select(F.col(id_col).alias("_id"))
    return (
        base.join(totals, "_id", "left")
        .join(kept, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("n_chunks", F.lit(0)).alias("n_chunks"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


# --------------------------------------------------------------------------
# Host-scoped boilerplate removal and duplicated-span analysis
# --------------------------------------------------------------------------


def sliding_ngrams(toks: Column, n: int) -> Column:
    """Sliding word n-grams as space-joined strings (empty array when the
    doc is shorter than ``n``).  The ``when`` guard matters: Spark's
    ``sequence(0, size-n)`` DESCENDS when ``size < n`` instead of being
    empty, which would fabricate negative-offset grams."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda k: F.concat_ws(" ", F.slice(toks, k + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _stride_chunks(docs: DataFrame, text_col: str, id_col: str,
                   chunk_tokens: int, extra_cols: list[str] | None = None):
    """(id[, extras], pos, chunk) rows: fixed-stride token chunks, the
    CCNet unit shared by chunk_dedup and boilerplate_chunks.  Tokenizes in
    its own projection so the transform lambda binds a materialized array,
    not the split() expression (which would re-evaluate per chunk)."""
    extras = [F.col(c) for c in (extra_cols or [])]
    toked = docs.select(
        F.col(id_col).alias("_id"), *extras,
        ws_tokens(F.col(text_col)).alias("_toks"),
    )
    t = F.col("_toks")
    n_chunks = F.ceil(F.size(t) / F.lit(chunk_tokens)).cast("int")
    return toked.select(
        "_id", *(extra_cols or []),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0))),
                lambda k: F.concat_ws(
                    " ", F.slice(t, k * chunk_tokens + 1, chunk_tokens)
                ),
            )
        ).alias("pos", "chunk"),
    ).where(F.col("chunk") != "")


def boilerplate_chunks(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
    chunk_tokens: int = 10,
    min_docs: int = 3,
) -> DataFrame:
    """Host-scoped boilerplate removal (the RefinedWeb/CCNet line-level
    rule applied per site): a fixed-stride token chunk that occurs in at
    least ``min_docs`` DISTINCT documents of the same ``group_col`` (host /
    domain / source) is that site's boilerplate — navigation, footers,
    cookie banners — and is stripped from every document of the group.
    Unlike :func:`chunk_dedup` (corpus-global, count>1 removes both
    copies), a chunk repeated within one document or shared by only two
    documents survives, and an identical chunk on a DIFFERENT host is
    judged independently — the per-site semantics of boilerplate.

    Returns (id, group, n_chunks, n_kept, clean_text) per input doc.

    Scale shape: chunks explode once; the boilerplate set is the result of
    a map-side-combinable distinct-count keyed by (group, chunk) and is
    tiny after the ``min_docs`` filter (boilerplate is, by definition, a
    few chunks per host), so the removal is a broadcastable left-anti join
    — AQE picks broadcast from the filtered size.  Reassembly is one
    groupBy(doc).  At 10^10 docs, key the anti-join on xxhash64(group,
    chunk) so the broadcast set is 8 B/row."""
    chunked = _stride_chunks(docs, text_col, id_col, chunk_tokens,
                             extra_cols=[group_col])
    bp = (
        chunked.groupBy(group_col, "chunk")
        .agg(F.countDistinct("_id").alias("_nd"))
        .where(F.col("_nd") >= min_docs)
        .select(group_col, "chunk")
    )
    kept = (
        chunked.join(bp, [group_col, "chunk"], "left_anti")
        .groupBy("_id")
        .agg(
            F.count("*").alias("n_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "chunk"))),
                    lambda s: s["chunk"],
                ),
            ).alias("clean_text"),
        )
    )
    totals = chunked.groupBy("_id").agg(F.count("*").alias("n_chunks"))
    base = docs.select(F.col(id_col).alias("_id"),
                       F.col(group_col).alias("_g"))
    return (
        base.join(totals, "_id", "left")
        .join(kept, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.col("_g").alias(group_col),
            F.coalesce("n_chunks", F.lit(0)).alias("n_chunks"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def duplicate_ngrams(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    min_docs: int = 2,
    top_k: int = 100,
) -> DataFrame:
    """Corpus memorization audit: the word n-grams that repeat across at
    least ``min_docs`` distinct documents, ranked by reach — the
    verbatim-duplication report a training-data pipeline runs before
    substring dedup (Lee et al. 2022) to size the problem and catch
    license banners / templated spam.

    Returns the ``top_k`` rows (ngram, n_docs, n_occurrences) ordered by
    (n_docs DESC, n_occurrences DESC, ngram ASC) — a total order, so the
    cut is deterministic.

    Scale shape: sliding grams explode once (n× amplification); the
    groupBy partial-aggregates map-side (count and the distinct-doc
    partial both combine before the exchange), and the top-k is
    TakeOrderedAndProject — no global sort materializes.  At 10^10 docs
    hash each gram to int64 first (8 B keys through the shuffle) and keep
    a gram→hash sample for readback."""
    toked = docs.select(
        F.col(id_col).alias("_id"), ws_tokens(F.col(text_col)).alias("_toks")
    )
    grams = toked.select(
        "_id", F.explode(sliding_ngrams(F.col("_toks"), n)).alias("ngram")
    )
    return (
        grams.groupBy("ngram")
        .agg(
            F.countDistinct("_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
        )
        .where(F.col("n_docs") >= min_docs)
        .orderBy(
            F.col("n_docs").desc(), F.col("n_occurrences").desc(),
            F.col("ngram").asc(),
        )
        .limit(top_k)
    )


def dup_span_stats(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
    max_dup_fraction: float = 0.5,
) -> DataFrame:
    """Per-document duplicated-span fraction — the doc-level signal of
    substring dedup (Lee et al. 2022): for every sliding word ``n``-gram
    position in a document, the span is *duplicated* when the same n-gram
    occurs in at least one OTHER document; the fraction of duplicated
    positions drives the keep/drop decision (docs that are mostly verbatim
    copies of other docs score near 1.0).

    Returns (id, n_spans, n_dup, dup_fraction, keep) per doc:
    ``dup_fraction`` = round(n_dup / n_spans, 4) (0.0 when the doc is
    shorter than ``n``); ``keep`` = dup_fraction <= ``max_dup_fraction``.

    Scale shape: two shuffles — gram → distinct-doc count (map-side
    combined), then counts join back to the exploded positions and
    re-aggregate per doc.  The join side carrying counts only needs grams
    with n_docs >= 2 (the rest default to unduplicated), which after
    filtering is the duplication tail, not the corpus; at 10^10 docs join
    on the gram's 64-bit hash."""
    toked = docs.select(
        F.col(id_col).alias("_id"), ws_tokens(F.col(text_col)).alias("_toks")
    )
    spans = toked.select(
        "_id", F.explode(sliding_ngrams(F.col("_toks"), n)).alias("ngram")
    )
    dup_grams = (
        spans.groupBy("ngram")
        .agg(F.countDistinct("_id").alias("_nd"))
        .where(F.col("_nd") >= 2)
        .select("ngram")
        .withColumn("_dup", F.lit(1))
    )
    per_doc = (
        spans.join(dup_grams, "ngram", "left")
        .groupBy("_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.coalesce(F.sum("_dup"), F.lit(0)).alias("n_dup"),
        )
    )
    base = docs.select(F.col(id_col).alias("_id"))
    frac = F.when(
        F.col("n_spans") > 0,
        F.round(F.col("n_dup") / F.col("n_spans"), 4),
    ).otherwise(F.lit(0.0))
    return (
        base.join(per_doc, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("n_dup", F.lit(0)).alias("n_dup"),
            frac.alias("dup_fraction"),
        )
        .withColumn("keep", F.col("dup_fraction") <= F.lit(max_dup_fraction))
    )
