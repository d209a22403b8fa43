"""Text-analysis operators: language ID, quality scoring, token counting,
document fingerprinting.  All pure column expressions (whole-stage codegen);
designed to run in the same scan as extraction output post-processing.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, functions as F


def _py_tokens(text: str) -> list:
    """Python twin of tokens_lower (``[^\\p{L}\\p{N}']+`` split): \\w covers
    letters+digits+underscore, so split on non-[\\w'] first, then break the
    underscores the JVM regex treats as separators."""
    rough = [t for t in re.split(r"[^\w']+", (text or "").lower()) if t]
    return [p for t in rough for p in t.split("_") if p]

# Marker stopwords per language (n-gram-free heuristic: stopword hit count).
#
# Contract (import-time asserted):
# * marker sets are PAIRWISE DISJOINT — each token maps to exactly one
#   language, which is what lets lang_id run as ONE map lookup per token
#   and keeps the DuckDB oracle (generated from this table) bit-identical;
# * no apostrophes (markers embed in SQL literals), all lowercase;
# * 'en'/'de'/'fr' are frozen (quality_score_col's stop_ratio feeds on the
#   'en' set, and the r01–r03 oracle history pins all three).
#
# Disjointness means mutually-intelligible pairs (da/no/sv, ru/uk, es/pt)
# split on their CONTRASTING function words, not their most frequent ones —
# a word claimed by one language never scores for its sibling.  Coverage is
# the VERDICT r03 fix: a Common-Crawl corpus is majority non-en/de/fr, and
# corpus_filter / host_reputation gate on this column.
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "as"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"],
    "fr": ["le", "la", "les", "et", "des", "est", "un", "une", "dans", "que"],
    "es": ["el", "los", "las", "por", "para", "como", "pero", "sus", "esta", "más"],
    "pt": ["não", "uma", "são", "também", "mais", "isso", "já", "você", "pelo", "seu"],
    "it": ["di", "che", "non", "per", "sono", "della", "anche", "gli", "più", "come"],
    "nl": ["het", "een", "niet", "van", "voor", "zijn", "ook", "maar", "naar", "heeft"],
    "sv": ["och", "att", "det", "som", "på", "av", "för", "har", "inte", "till"],
    "da": ["og", "af", "ikke", "jeg", "hvad", "hvor", "være", "kan", "skal", "hvis"],
    "no": ["å", "eller", "når", "noe", "bare", "mye", "både", "etter", "mellom", "fordi"],
    "fi": ["ja", "on", "ei", "että", "hän", "mutta", "joka", "myös", "kun", "niin"],
    "pl": ["nie", "się", "jest", "oraz", "tylko", "przez", "jego", "która", "żeby", "bardzo"],
    "cs": ["je", "se", "na", "ale", "však", "této", "když", "byl", "jako", "už"],
    "ro": ["și", "să", "nu", "cu", "este", "pentru", "care", "mai", "din", "sunt"],
    "tr": ["ve", "bir", "bu", "için", "ile", "olarak", "daha", "çok", "gibi", "ama"],
    "hu": ["és", "hogy", "nem", "egy", "meg", "már", "csak", "volt", "mint", "vagy"],
    "id": ["yang", "dan", "untuk", "dengan", "ini", "itu", "tidak", "dari", "pada", "adalah"],
    "vi": ["và", "của", "là", "có", "không", "được", "người", "trong", "những", "cũng"],
    "ru": ["и", "в", "не", "на", "что", "это", "как", "для", "его", "было"],
    "uk": ["і", "та", "це", "що", "але", "від", "дуже", "після", "може", "щоб"],
}

_ALL_MARKERS = [w for ws in _LANG_MARKERS.values() for w in ws]
# ValueError, not assert: the SQL oracle generator depends on this contract,
# and asserts vanish under `python -O` — a duplicated marker would then make
# the two engines silently diverge instead of failing at import
if len(set(_ALL_MARKERS)) != len(_ALL_MARKERS):
    _dupes = sorted({w for w in _ALL_MARKERS if _ALL_MARKERS.count(w) > 1})
    raise ValueError(f"_LANG_MARKERS sets must be disjoint; duplicated: {_dupes}")
if any("'" in w or w != w.lower() for w in _ALL_MARKERS):
    raise ValueError("_LANG_MARKERS must be lowercase and apostrophe-free")

# Unicode-script char-count classification (VERDICT r04 #2): the marker table
# above is structurally blind to non-space-delimited / non-Latin scripts — a
# real Common-Crawl corpus is a large fraction zh/ja/ko/ar/hi/th/el/he, and
# those all tokenized to zero marker hits and fell to 'und' (which
# corpus_filter / host_reputation then gate on).  Script identification runs
# AHEAD of the marker argmax: count characters per script block (pure
# regexp_replace+length columns — one regex pass per block, each evaluated
# exactly once via the aggregate bind in lang_id_col), classify by script
# when script chars outnumber the Latin+Cyrillic letters the marker
# languages are written in, else fall through to the marker argmax.
#
# Contract (mirrored verbatim by the generated DuckDB oracle — see
# __spark_entry__._lang_id_sql):
# * all ranges are BMP (Spark length() counts UTF-16 code units, DuckDB
#   counts code points; BMP-only keeps them identical);
# * Japanese claims Han: kana presence is the zh/ja discriminator — when
#   any Hiragana/Katakana char exists the Han count scores for 'ja' and
#   'zh' scores 0, else Han scores for 'zh' (deterministic, disjoint);
# * ties break toward the earlier key, same rule as the marker argmax.
_SCRIPT_BLOCKS = {
    "zh": [(0x4E00, 0x9FFF)],                    # CJK Unified Ideographs (Han)
    "ja": [(0x3040, 0x309F), (0x30A0, 0x30FF)],  # Hiragana + Katakana
    "ko": [(0xAC00, 0xD7A3), (0x1100, 0x11FF)],  # Hangul syllables + Jamo
    "ar": [(0x0600, 0x06FF), (0x0750, 0x077F)],  # Arabic + supplement
    "hi": [(0x0900, 0x097F)],                    # Devanagari
    "th": [(0x0E00, 0x0E7F)],                    # Thai
    "el": [(0x0370, 0x03FF)],                    # Greek and Coptic
    "he": [(0x0590, 0x05FF)],                    # Hebrew
    # r05 second tier: the remaining majority-script languages a real
    # Common-Crawl snapshot carries in volume.  Same contract as above
    # (BMP, pairwise-disjoint, class-literal-safe endpoints); ISO 639-1
    # keys name the DOMINANT language of each script — the known
    # approximation (Devanagari→hi covers mr/ne, Arabic→ar covers fa/ur,
    # Bengali→bn covers as) is documented here rather than guessed at.
    "bn": [(0x0980, 0x09FF)],                    # Bengali
    "pa": [(0x0A00, 0x0A7F)],                    # Gurmukhi
    "gu": [(0x0A80, 0x0AFF)],                    # Gujarati
    "or": [(0x0B00, 0x0B7F)],                    # Odia
    "ta": [(0x0B80, 0x0BFF)],                    # Tamil
    "te": [(0x0C00, 0x0C7F)],                    # Telugu
    "kn": [(0x0C80, 0x0CFF)],                    # Kannada
    "ml": [(0x0D00, 0x0D7F)],                    # Malayalam
    "si": [(0x0D80, 0x0DFF)],                    # Sinhala
    "lo": [(0x0E80, 0x0EFF)],                    # Lao
    "bo": [(0x0F00, 0x0FFF)],                    # Tibetan
    "my": [(0x1000, 0x109F)],                    # Myanmar
    "ka": [(0x10A0, 0x10FF)],                    # Georgian
    "hy": [(0x0530, 0x058F)],                    # Armenian
    "am": [(0x1200, 0x137F)],                    # Ethiopic
    "km": [(0x1780, 0x17FF)],                    # Khmer
}
# The scripts the marker languages are written in: ASCII letters, Latin-1 +
# Latin Extended-A/B, Latin Extended Additional (Vietnamese diacritics),
# Cyrillic.  This is the count the script argmax must BEAT to win — a doc
# that is mostly English with one CJK quote stays on the marker path.
_MARKER_SCRIPT_RANGES = [
    (0x0041, 0x005A),
    (0x0061, 0x007A),
    (0x00C0, 0x024F),
    (0x1E00, 0x1EFF),
    (0x0400, 0x04FF),
]
if any(
    # endpoints are emitted as LITERAL chars into a [...] class, so they
    # must be >= U+0041 AND not a class metacharacter — [/backslash/]/^
    # (U+005B-U+005E) are >= U+0041 but would corrupt the class: Java
    # regex treats a bare '[' inside a class as a nested-class opener
    # (interior chars of a range never appear literally, only the two
    # endpoints do)
    not (0x41 <= a <= b <= 0xFFFF) or {a, b} & {0x5B, 0x5C, 0x5D, 0x5E}
    for rs in list(_SCRIPT_BLOCKS.values()) + [_MARKER_SCRIPT_RANGES]
    for a, b in rs
):
    raise ValueError(
        "script range endpoints must be BMP, >= U+0041, and not a class "
        "metacharacter ([ \\ ] ^, U+005B-U+005E)"
    )
if set(_SCRIPT_BLOCKS) & set(_LANG_MARKERS):
    raise ValueError("script-block languages must not overlap marker languages")
_ALL_RANGES = sorted(
    r
    for rs in list(_SCRIPT_BLOCKS.values()) + [_MARKER_SCRIPT_RANGES]
    for r in rs
)
if any(b[0] <= a[1] for a, b in zip(_ALL_RANGES, _ALL_RANGES[1:])):
    # overlap would double-count a char into two scripts (or into a script
    # AND the marker baseline), silently biasing the argmax
    raise ValueError("script/marker char ranges must be pairwise disjoint")


def _range_class_inner(ranges: list) -> str:
    """``a-bc-d`` literal-char range body for a regex char class — valid in
    both Java regex (Spark) and RE2 (DuckDB); endpoint chars are >= U+0041
    and never ``[``/``\\``/``]``/``^``, so no class metacharacter escaping
    is needed (import-time asserted)."""
    return "".join(f"{chr(a)}-{chr(b)}" for a, b in ranges)


def script_count_col(text: Column, ranges: list) -> Column:
    """Count of chars inside ``ranges``: strip everything outside, length."""
    return F.length(F.regexp_replace(text, f"[^{_range_class_inner(ranges)}]", ""))


def tokens_lower(text: Column) -> Column:
    return F.filter(F.split(F.lower(text), r"[^\p{L}\p{N}']+"), lambda t: t != "")


def token_count_col(text: Column) -> Column:
    """Whitespace token count (0 for empty/blank strings)."""
    trimmed = F.trim(text)
    return F.when(trimmed == "", F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def lang_score_col(text: Column, lang: str) -> Column:
    """Fraction of tokens that are marker stopwords for ``lang``."""
    toks = tokens_lower(text)
    markers = F.array(*[F.lit(w) for w in _LANG_MARKERS[lang]])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(markers, t)))
    return (hits / F.greatest(F.size(toks), F.lit(1))).cast("double")


def _lang_counts_agg(text: Column, finish=None) -> Column:
    """Per-language marker-hit counts as an ``array<int>`` in
    :data:`_LANG_MARKERS` key order — ONE tokenize + ONE aggregate pass,
    one map lookup per token (markers are disjoint, so a token belongs to
    at most one language).  Counts, not ratios: the denominator is the
    same for every language within a row, so argmax is unchanged, and
    integer counts make the cross-engine compare exact by construction.
    ``finish`` (applied to the bound accumulator variable, so the count
    array is evaluated exactly once however often it is referenced) lets
    the caller reduce in-place."""
    n = len(_LANG_MARKERS)
    marker_to_idx = F.create_map(
        *[
            c
            for i, ws in enumerate(_LANG_MARKERS.values())
            for w in ws
            for c in (F.lit(w), F.lit(i + 1))
        ]
    )
    # hoist the map lookup OUT of the accumulator lambda: one lookup per
    # token (a zip_with-embedded lookup re-evaluates per language — 20×,
    # measured 2.2× slower end-to-end), then the 20-wide count update runs
    # only over the marker hits, a small fraction of the tokens
    idxs = F.filter(
        F.transform(tokens_lower(text), lambda t: marker_to_idx[t]),
        lambda i: i.isNotNull(),
    )
    return F.aggregate(
        idxs,
        F.array_repeat(F.lit(0), n),
        lambda acc, i: F.zip_with(
            acc,
            F.sequence(F.lit(1), F.lit(n)),
            lambda v, j: v + (i == j).cast("int"),
        ),
        finish,
    )


def _marker_lang_id_col(text: Column) -> Column:
    """argmax over per-language marker-hit counts; ties break toward the
    earlier :data:`_LANG_MARKERS` key (``array_position`` returns the
    FIRST index of the max); 'und' when no marker hits at all."""
    langs = F.array(*[F.lit(lang) for lang in _LANG_MARKERS])
    return _lang_counts_agg(
        text,
        lambda acc: F.when(
            F.array_max(acc) > 0,
            F.element_at(
                langs, F.array_position(acc, F.array_max(acc)).cast("int")
            ),
        ).otherwise(F.lit("und")),
    )


def lang_id_col(text: Column) -> Column:
    """Two-stage language ID, all pure JVM columns.

    Stage 1 (script): count chars per :data:`_SCRIPT_BLOCKS` block; when the
    winning script's count strictly exceeds the Latin+Cyrillic letter count
    (:data:`_MARKER_SCRIPT_RANGES`), classify by script — kana presence
    attributes Han to 'ja', else Han scores 'zh'; ties break toward the
    earlier block key.  Stage 2 (fallthrough, and the only stage that ran
    before r05): the marker-stopword argmax over :data:`_LANG_MARKERS`,
    'und' on zero hits — unchanged for Latin/Cyrillic text, which has zero
    script-block chars and therefore never takes stage 1.

    The per-block counts (one per :data:`_SCRIPT_BLOCKS` entry, plus the
    marker baseline) are each one regexp_replace+length pass over
    the text; the single-element ``aggregate`` binds the count array so
    every count evaluates exactly ONCE however often the decision tree
    references it (the :func:`_lang_counts_agg` finish trick — an unbound
    ``when`` tree re-runs each regex per reference, measured 3-4x).  The
    marker aggregate sits in the CASE's otherwise-branch, so script-classified
    rows never tokenize — and the whole script stage sits behind ONE
    ``rlike`` containment gate (early-exit scan), so a Latin/Cyrillic-only
    row pays one cheap scan instead of the per-block counts (a zero-script-char row
    would have fallen through anyway: script_max = 0 is never > mk, so the
    gate is pure optimization — the ungated DuckDB oracle stays
    bit-identical; A/B'd 3.28 s → marker-era cost at sf0.1)."""
    keys = list(_SCRIPT_BLOCKS)
    all_script_ranges = [r for rs in _SCRIPT_BLOCKS.values() for r in rs]
    has_script_char = text.rlike(f"[{_range_class_inner(all_script_ranges)}]")
    counts = F.array(
        *[script_count_col(text, rs) for rs in _SCRIPT_BLOCKS.values()],
        script_count_col(text, _MARKER_SCRIPT_RANGES),
    )
    script_langs = F.array(*[F.lit(k) for k in keys])

    def finish(acc: Column) -> Column:
        c = lambda i: F.element_at(acc, i + 1)
        han, kana = c(keys.index("zh")), c(keys.index("ja"))
        scores = []
        for i, k in enumerate(keys):
            if k == "zh":
                scores.append(F.when(kana > 0, F.lit(0)).otherwise(han))
            elif k == "ja":
                scores.append(F.when(kana > 0, han + kana).otherwise(F.lit(0)))
            else:
                scores.append(c(i))
        sarr = F.array(*scores)
        smax = F.array_max(sarr)
        pick = F.element_at(
            script_langs, F.array_position(sarr, smax).cast("int")
        )
        return F.when(smax > c(len(keys)), pick).otherwise(
            _marker_lang_id_col(text)
        )

    return F.when(
        has_script_char,
        F.aggregate(
            F.array(counts),
            F.array().cast("array<int>"),
            lambda acc, x: x,
            finish,
        ),
    ).otherwise(_marker_lang_id_col(text))


def quality_score_col(text: Column) -> Column:
    """Heuristic document quality in [0,1]: length band, punctuation balance,
    stopword presence, alpha ratio — the usual pretraining-filter features."""
    n_chars = F.length(text)
    n_tokens = token_count_col(text)
    mean_word_len = n_chars / F.greatest(n_tokens, F.lit(1))
    punct = F.length(F.regexp_replace(text, r"[^.!?,;:]", ""))
    punct_ratio = punct / F.greatest(n_chars, F.lit(1))
    alpha = F.length(F.regexp_replace(text, r"[^\p{L} ]", ""))
    alpha_ratio = alpha / F.greatest(n_chars, F.lit(1))
    stop_ratio = lang_score_col(text, "en")

    length_score = F.least(n_tokens / F.lit(100.0), F.lit(1.0))
    word_len_score = F.when((mean_word_len >= 3) & (mean_word_len <= 10), 1.0).otherwise(0.3)
    punct_score = F.when((punct_ratio > 0.001) & (punct_ratio < 0.2), 1.0).otherwise(0.4)
    stop_score = F.least(stop_ratio * F.lit(5.0), F.lit(1.0))
    return (
        length_score * 0.3
        + word_len_score * 0.2
        + punct_score * 0.2
        + stop_score * 0.15
        + alpha_ratio * 0.15
    ).cast("double")


def fingerprint_col(text: Column) -> Column:
    """64-bit content fingerprint: first 16 hex chars of md5 as a bigint —
    stable across engines (DuckDB computes the same)."""
    return F.conv(F.substring(F.md5(text), 1, 15), 16, 10).cast("long")


def bm25_scores(
    docs,
    text_col: str,
    id_col: str,
    query: str,
    k1: float = 1.2,
    b: float = 0.75,
):
    """Okapi BM25 over a documents DataFrame — lexical relevance scoring as
    pure DataFrame aggregations (the retrieval/quality-mining op of a
    training-data pipeline).

    Plan shape (scale-first): one explode + groupBy(doc, term) for term
    frequencies (map-side combined), one tiny groupBy(term) for document
    frequencies (broadcast back — the query vocabulary is a handful of
    terms), and scalar arithmetic for the score.  No UDFs, no driver-side
    loops; idf uses the +1 variant (always positive):
    ln(1 + (N - df + 0.5)/(df + 0.5)).
    """
    # query must tokenize exactly like the documents, or non-ASCII /
    # apostrophe / underscore terms silently never match
    q_terms = _py_tokens(query)
    if not q_terms:
        raise ValueError("query has no terms")

    # corpus stats stay IN the plan (1-row broadcast cross-join) — no eager
    # driver collect, and an empty corpus yields an empty result naturally
    stats = docs.agg(
        F.count("*").cast("double").alias("_n_docs"),
        (F.sum(F.size(tokens_lower(F.col(text_col)))).cast("double")
         / F.count("*")).alias("_avgdl"),
    )

    toks = docs.select(
        F.col(id_col).alias("_id"),
        F.size(tokens_lower(F.col(text_col))).alias("dl"),
        F.explode(tokens_lower(F.col(text_col))).alias("term"),
    ).where(F.col("term").isin(q_terms))
    tf = toks.groupBy("_id", "dl", "term").agg(F.count("*").alias("tf"))
    df_counts = tf.groupBy("term").agg(F.countDistinct("_id").alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("_n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    scored = (
        tf.join(F.broadcast(df_counts), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "contrib",
            idf
            * (F.col("tf") * (1.0 + k1))
            / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("_avgdl"))),
        )
        .groupBy("_id")
        # per-term contributions sum in decimal so the result is independent
        # of row order (float addition is not associative; a plain double
        # sum can differ from a sequential engine in the last ulp)
        .agg(
            F.sum(F.col("contrib").cast("decimal(38,18)"))
            .cast("double")
            .alias("bm25")
        )
        .select(F.col("_id").alias(id_col), "bm25")
    )
    return scored


def unigram_logprob_scores(docs, text_col: str, id_col: str, k: float = 0.5):
    """Corpus-unigram negative mean log-probability per document — the
    perplexity-proxy quality filter of CCNet-style pipelines (typical text
    scores low, gibberish/outlier vocab scores high).

    Two aggregations, both map-side combined: the corpus term-frequency
    table (term → count) and per-document means; term probabilities are
    add-k smoothed: p(t) = (c_t + k) / (N + k·V).  The per-document log-sum
    runs in decimal so addition order cannot move the rounded score.  The
    whole computation is one lazy plan (ReuseExchange shares the vocab
    aggregation); at the 100 TB design point persist the vocab table
    yourself and reuse it across calls (shuffle join on term; AQE splits
    the inevitable stopword skew).
    """
    toks = docs.select(
        F.col(id_col).alias("_id"),
        F.explode(tokens_lower(F.col(text_col))).alias("term"),
    )
    # fully lazy single plan: totals ride along as a 1-row broadcast
    # cross-join (no eager collect, no cache to leak; Spark's ReuseExchange
    # dedupes the shared vocab aggregation subtree), and an empty corpus
    # yields an empty result naturally
    vocab = toks.groupBy("term").agg(F.count("*").alias("c"))
    totals = vocab.agg(
        F.sum("c").cast("double").alias("_n"),
        F.count("*").cast("double").alias("_v"),
    )
    lp = vocab.crossJoin(F.broadcast(totals)).withColumn(
        "logp",
        F.log((F.col("c") + F.lit(k)) / (F.col("_n") + F.lit(k) * F.col("_v"))),
    ).select("term", "logp")
    return (
        toks.join(lp, "term")
        .groupBy("_id")
        .agg(
            (
                -(F.sum(F.col("logp").cast("decimal(38,18)")).cast("double")
                  / F.count("*"))
            ).alias("nll")
        )
        .select(F.col("_id").alias(id_col), "nll")
    )


def top_keywords(docs, text_col: str, id_col: str, top_k: int = 5):
    """Per-document salient terms by tf·idf (idf = ln(n_docs / df)) — the
    cheap doc-tagging signal for corpus curation (cluster labeling,
    topic-balanced sampling, dedup-survivor naming).

    One token explode feeds both the per-doc tf table and the corpus df
    table (ReuseExchange dedupes the shared subtree); df joins back on
    term as a shuffle join — the vocab is corpus-sized, do NOT broadcast
    it (AQE splits the inevitable stopword skew).  The per-doc ranking
    runs over pre-aggregated (doc, term) rows, whose group size is
    bounded by a document's vocabulary — no salting needed (contrast
    anchor_summary's unbounded targets).  Scores round to 6 decimals
    BEFORE ranking (term-asc tie-break) so an ulp of ln() noise cannot
    reorder engines.

    Returns (id_col, keywords array<string>, score-desc then term-asc);
    token-less documents yield no row.
    """
    from pyspark.sql import Window

    toks = docs.select(
        F.col(id_col).alias("_id"),
        F.explode(tokens_lower(F.col(text_col))).alias("term"),
    )
    tf = toks.groupBy("_id", "term").agg(F.count("*").alias("tf"))
    dfc = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").alias("_n"))
    w = Window.partitionBy("_id").orderBy(F.col("_score").desc(), F.col("term"))
    ranked = (
        tf.join(dfc, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "_score",
            F.round(
                F.col("tf") * F.log(F.col("_n").cast("double") / F.col("df")),
                6,
            ),
        )
        .withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") <= top_k)
    )
    return (
        ranked.groupBy("_id")
        .agg(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct(F.col("_r").alias("r"), "term"))
                ),
                lambda s: s.term,
            ).alias("keywords")
        )
        .select(F.col("_id").alias(id_col), "keywords")
    )
