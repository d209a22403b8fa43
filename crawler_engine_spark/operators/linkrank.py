"""Link-graph PageRank over the crawl's URL/host graph, plus the feedback
hook that turns ranks into crawl-budget adjustments.

Reference scope note: the reference engine (Daniel-Azil/crawler_engine)
stops at extraction and has no link-graph tier; this module extends the
frontier machinery (SURVEY §2.10) with the canonical web-scale priority
signal.  Correctness authority is the DuckDB oracle in
`__spark_entry__.py` (``link_pagerank``) plus the power-iteration test in
``tests/test_linkrank.py``.

Design for 100 TB:

* **Fixed-point integer arithmetic.**  Ranks live in integer micro-units
  (``scale`` = 1e12 by default), every contribution is an integer floor
  division, and every combine is a long sum — bit-exact under any
  partitioning, any aggregation order, and any executor count, which is
  what makes a cross-engine oracle (and a re-run diff) possible at all.
  Float PageRank differs in the last ulp between runs; this never does.
* **One shuffle per iteration.**  ``contrib = edges ⋈ ranks`` shuffles on
  the join key; the per-destination sum partial-aggregates map-side.  The
  out-degree table is fused into the edge list once, up front.
* **Bounded magnitudes.**  The total in-flight mass is at most ``scale``
  (mass only leaks at dangling nodes), so per-node contributions and the
  ``85 × contrib`` damping product stay far below int64 even at 10^10
  nodes.  At that node count the default quantum (``scale // n``) gets
  coarse — raise ``scale`` (int64 headroom allows 1e16).
* **Reused tables are ``persist()``-ed, not checkpointed.**  ``nodes``
  and the degree-fused edge list feed every iteration; caching them stops
  the per-iteration source re-scan (no static ReusedExchange appears in
  the unrolled plan), AQE coalesces the cached exchange, and — unlike
  ``localCheckpoint``, whose blocks are unrecoverable on executor loss —
  evicted cache blocks recompute from lineage.  Interleaved A/B at sf0.1
  ×5: persist 1.28 s ≈ localCheckpoint 1.37 s ≈ none 1.40 s end-to-end
  (the scan is trivial at sandbox scale; at 100 TB the re-scan isn't).
* **Lineage cuts are opt-in.**  Spark's shuffle-output reuse already
  evaluates each iteration once — lineage depth costs only scheduler /
  optimizer time and failure-recovery depth, while ``localCheckpoint``
  costs a real materialization per cut (measured 1.4 s → 29 s for 10
  iterations on the sandbox when cutting every iteration).  For the
  default 10 iterations the nested plan is cheap; pass
  ``checkpoint_every`` (the connected-components pattern, dedup.py) for
  long runs (≳20 iterations) or lossy executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import urlops
from .. import caches
from ..frontier.politeness import apply_host_reputation


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 10,
    scale: int = 10**12,
    damping: int = 85,
    checkpoint_every: int = 0,
    eager: bool = False,
    teleport: DataFrame | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list (parallel edges
    collapse; self-loops participate like any edge).

    Semantics (all integer arithmetic, ``//`` = floor division):

    * ``r0(v) = scale // n`` for every node (n = |nodes|)
    * ``contrib_k(v) = Σ over in-edges (u,v) of r_k(u) // outdeg(u)``
    * ``r_{k+1}(v) = (15 × (scale // n)) // 100
      + (damping × contrib_k(v)) // 100``

    Dangling nodes (no out-edges) leak their mass — the plain "no dangling
    redistribution" variant, mirrored verbatim by the oracle.

    ``teleport`` switches to *personalized* PageRank — the focused-crawl
    signal (rank mass restarts only at the topic/seed set, so authority
    means "well-linked FROM the seeds", not globally): a one-column
    DataFrame of restart nodes; ``n`` above becomes ``|teleport ∩ nodes|``
    and both the initial mass and the per-iteration base term apply only
    to those nodes (0 elsewhere).  Teleport entries absent from the graph
    are ignored.  The restart set is seed-cardinality — broadcast onto
    the node table, no extra shuffle.

    ``checkpoint_every`` > 0 cuts lineage with ``localCheckpoint`` after
    every that-many iterations (identical results; see module docstring
    for when it pays).  ``eager`` materializes the result once and
    releases the internal caches before returning — the engine-loop mode,
    where the node-cardinality rank table is consumed more than once
    within a round and per-call cache hygiene matters (a crawl calls this
    every round).  Non-eager results carry the internal cache handles —
    call :func:`release_caches` on the result once it is consumed.  Those
    handles also sit in the session-wide registry, so an intervening
    blanket drain (an engine round commit, a bench-harness rep boundary,
    ``release_caches()`` with no argument) releases them early: the
    result stays CORRECT (recomputable persists, never cuts) but a later
    materialization forfeits the per-iteration reuse non-eager mode
    exists for — don't interleave non-eager pagerank with engine rounds.

    Returns (node, rank_micro BIGINT, rank DOUBLE = round(micro/scale, 8)),
    one row per distinct node.
    """
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    if teleport is not None:
        tset = teleport.select(
            F.col(teleport.columns[0]).alias("node")
        ).distinct()
        nodes = nodes.join(
            F.broadcast(tset.withColumn("_in", F.lit(True))), "node", "left"
        ).select("node", F.coalesce("_in", F.lit(False)).alias("_t"))
    else:
        nodes = nodes.withColumn("_t", F.lit(True))
    nodes = nodes.persist()
    caches.register(nodes)  # at creation: drainable even if a step fails
    n = nodes.where("_t").count()
    if n == 0:
        out = nodes.limit(0).select(
            "node",
            F.lit(0).cast("long").alias("rank_micro"),
            F.lit(0.0).alias("rank"),
        ).localCheckpoint(eager=True)
        caches.release(nodes)
        return out
    init = scale // n
    base = (15 * init) // 100
    outdeg = e.groupBy("src").agg(F.count("*").alias("_od"))
    # out-degree fused into the edge list once; cached across iterations
    esrc = e.join(outdeg, "src").persist()
    caches.register(esrc)

    base_col = F.when(F.col("_t"), F.lit(base)).otherwise(F.lit(0))
    ranks = nodes.select(
        "node",
        F.when(F.col("_t"), F.lit(init)).otherwise(F.lit(0))
        .cast("long").alias("r"),
    )
    for it in range(iterations):
        contrib = (
            esrc.join(ranks.withColumnRenamed("node", "src"), "src")
            .select(F.col("dst").alias("node"), F.expr("r div _od").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("_contrib"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (
                    base_col
                    + F.expr(f"({damping} * coalesce(_contrib, 0L)) div 100")
                ).cast("long").alias("r"),
            )
        )
        if checkpoint_every > 0 and (it + 1) % checkpoint_every == 0:
            ranks = ranks.localCheckpoint(eager=False)
    out = ranks.select(
        "node",
        F.col("r").alias("rank_micro"),
        F.round(F.col("r") / F.lit(float(scale)), 8).alias("rank"),
    )
    if eager:
        out = out.localCheckpoint(eager=True)
        caches.release(nodes)
        caches.release(esrc)
    else:
        # non-eager callers own the internal caches (unpersisting before
        # the caller materializes would forfeit the per-iteration reuse the
        # persist exists for): handles ride on the result — release via
        # release_caches(out) on the EXACT returned object (transformations
        # drop the attribute), or release_caches() with no argument, which
        # works through the module registry regardless (ADVICE r03/r04).
        out = _own_caches(out, (nodes, esrc))
    return out


#: Every internal persist a non-eager operator in this module hands to its
#: caller is ALSO recorded here, so ``release_caches()`` (no argument) can
#: release them even when the handle-carrying DataFrame is gone — the
#: ``_linkrank_caches`` attribute does NOT survive transformations (any
#: .select/.where/.repartition returns a new object without it).  This is
#: the SESSION-WIDE registry (``crawler_engine_spark.caches``) shared with
#: the dedup operators' candidate-pair hand-offs; draining it from either
#: module's release entry point frees everything.
_REGISTERED_CACHES: list = caches.REGISTRY


def _own_caches(out: DataFrame, handles: tuple) -> DataFrame:
    out._linkrank_caches = tuple(handles)
    caches.register(*handles)
    return out


def release_caches(df: DataFrame | None = None) -> None:
    """Unpersist internal caches this module handed to callers.

    With ``df``: release the handles riding on that EXACT object — the
    ``_linkrank_caches`` attribute is dropped by every DataFrame
    transformation, so this form MUST be called on the object
    :func:`pagerank` / :func:`anchor_summary` returned, before any
    .select/.where/.repartition, or it silently does nothing.

    With no argument: release every internal persist registered in the
    session-wide registry since the last release — the
    transformation-proof form (safe to call at any point: persisted data
    is recomputable, releasing early only forfeits reuse, never
    correctness).  The registry is shared with the dedup operators, so
    this also frees their candidate-pair hand-offs."""
    if df is None:
        caches.release_all()
        return
    for cached in getattr(df, "_linkrank_caches", ()):
        cached.unpersist()
        caches.forget(cached)


def hits(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 5,
    scale: int = 10**9,
    materialize: str = "local",
    scratch_dir: str | None = None,
) -> DataFrame:
    """Integer HITS (hubs & authorities) over a directed edge list — the
    PageRank complement: authorities are pages many hubs cite, hubs are
    pages that cite many authorities (high-hub/low-authority hosts are
    the classic link-directory / link-farm signature the trap guard
    can't see).

    Semantics (all integer, mirrored verbatim by the oracle):

    * ``a0(v) = h0(v) = scale // n``
    * ``a'_k(v) = Σ over in-edges (u,v) of h_{k-1}(u)``, then
      ``a_k = a' // max(Σa' // scale, 1)`` (floor L1 normalization —
      totals stay within ~2× scale);  ``h'`` and ``h_k`` symmetrically
      over out-edges of the fresh ``a_k``.

    The floor normalization is what keeps every quantity in int64 at web
    cardinalities: pre-normalization values are ≤ degree_max × scale
    (10^8 × 10^9 = 10^17), and no product of two large terms ever forms.
    Two shuffles per iteration (one per direction).  Unlike
    :func:`pagerank`, each iteration MUST materialize (eager
    localCheckpoint + a 1-row total collected to the driver as the norm
    literal): a lazy per-iteration normalizer references the score
    subtree twice, doubling the plan every iteration — 4^iterations
    analysis blowup.  Materialized iterative state is the
    connected-components pattern (dedup.py); HITS is an offline analysis
    op, so per-iteration job latency is the right trade.  Returns (node,
    hub_micro, auth_micro, hub, auth), floats = micro/scale rounded
    to 8; internal caches are released before returning.

    ``materialize='reliable'`` (with ``scratch_dir``) writes each
    half-step to parquet instead of ``localCheckpoint`` — checkpoint
    blocks are unrecoverable on executor loss, so this is the mode for
    lossy-executor clusters (VERDICT r03 #5); results are bit-identical
    (test-locked) and keep reading from ``scratch_dir``, which the caller
    deletes only after consuming them.
    """
    from .materialize import StepMaterializer

    mat = StepMaterializer(materialize, scratch_dir)
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    caches.register(nodes)  # at creation: drainable even if a step fails
    n = nodes.count()
    if n == 0:
        # mirror pagerank's empty branch: materialize the (empty) result
        # eagerly, then release the registered nodes cache — returning a
        # lazy projection here stranded the persist for the session
        out = nodes.limit(0).select(
            "node",
            F.lit(0).cast("long").alias("hub_micro"),
            F.lit(0).cast("long").alias("auth_micro"),
            F.lit(0.0).alias("hub"),
            F.lit(0.0).alias("auth"),
        ).localCheckpoint(eager=True)
        caches.release(nodes)
        return out
    esrc = e.persist()
    caches.register(esrc)
    init = scale // n

    def _spread(scores: DataFrame, col: str, edge_key: str, out_key: str,
                out_col: str) -> DataFrame:
        """One HITS half-step: sum `col` over edges keyed by `edge_key`,
        floor-normalize by the collected total, materialize."""
        pre = mat.cut(
            esrc.join(scores.select(F.col("node").alias(edge_key), col),
                      edge_key)
            .groupBy(F.col(out_key).alias("node"))
            .agg(F.sum(col).alias("v"))
        )
        total = pre.agg(F.sum("v")).first()[0] or 0
        norm = max(total // scale, 1)
        return mat.cut(
            nodes.join(pre, "node", "left")
            .select(
                "node",
                F.expr(f"coalesce(v, 0L) div {norm}L")
                .cast("long").alias(out_col),
            )
        )

    h = nodes.select("node", F.lit(init).cast("long").alias("h"))
    a = nodes.select("node", F.lit(init).cast("long").alias("a"))
    for _ in range(iterations):
        a = _spread(h, "h", "src", "dst", "a")
        h = _spread(a, "a", "dst", "src", "h")
    out = mat.cut(
        nodes.join(h, "node")
        .join(a, "node")
        .select(
            "node",
            F.col("h").alias("hub_micro"),
            F.col("a").alias("auth_micro"),
            F.round(F.col("h") / F.lit(float(scale)), 8).alias("hub"),
            F.round(F.col("a") / F.lit(float(scale)), 8).alias("auth"),
        )
    )
    caches.release(nodes)
    caches.release(esrc)
    return out


def anchor_summary(
    pages: DataFrame,
    url_col: str = "url",
    links_col: str = "links",
    top_k: int = 3,
    num_salts: int = 8,
) -> DataFrame:
    """Anchor-text corpus over the typed ``links`` arrays (extraction
    §2.9): how the web describes each target URL — the classic ranking /
    training-data signal (anchor text ≈ a human-written label for the
    target page).

    Per canonical target URL: ``n_refs`` (anchor occurrences), ``n_hosts``
    (distinct referring hosts), ``top_texts`` (the ``top_k`` most frequent
    whitespace-normalized non-empty anchor texts, count-desc then
    text-asc).

    Href resolution follows the out_links kernel
    (kernels.urls.resolve_href — reference parity with
    utils/web_utils.py:70-108): ``javascript:``/``mailto:``/``tel:`` and
    empty hrefs are skipped — plus, corpus-specifically, fragment-only
    ``#...`` hrefs (they always resolve to the source page itself and
    would flood the corpus with self-labels); everything else resolves
    against the source URL.  Absolute ``http(s)``, root-relative ``/path``, and
    protocol-relative ``//host/path`` hrefs resolve on a pure-JVM fast
    path; document-relative forms (``../a.html``, ``b.html`` — the
    majority of intra-site links on real pages, dropped before r04) go
    through the Arrow-batched stdlib-urljoin UDF, and both branches union
    BEFORE the one (target, text) shuffle.

    Scale shape: one (target, text, src_host) pre-aggregation (map-side
    combined, eagerly persisted so the resolve UDF and the union run once
    with recomputable lineage; its handle rides on the result — see
    :func:`release_caches`) feeds both the per-target stats rollup and the
    text top-k; the
    top-k runs ONLY over pre-aggregated distinct-text rows, as a salted
    two-phase window (the politeness.select_batch argument — every global
    top-k row is a top-k row of its own salt partition), so a mega-target
    with millions of distinct anchor texts never serializes onto one
    reducer.
    """
    href = F.col("_href")
    text_norm = F.trim(F.regexp_replace(F.col("_text"), r"\s+", " "))
    # the fast/slow branches below both consume this projection; without a
    # cut, the union would evaluate the (typically expensive — extraction
    # output) `pages` plan once per branch.  persist + eager fill runs the
    # upstream exactly once BEFORE the two branch scans exist, with
    # recomputable lineage — the r04 lazy localCheckpoint pinned these rows
    # in unrecoverable executor blocks for the rest of the session (ADVICE
    # r04); this cache is released as soon as g1 is materialized below.
    # The cached rows are anchor-cardinality and three strings wide.
    exploded = pages.select(
        F.col(url_col).alias("_src"), F.explode(links_col).alias("_l")
    ).select(
        "_src",
        F.col("_l.href").alias("_href"),
        F.col("_l.text").alias("_text"),
    ).persist()
    caches.register(exploded)  # at creation: drainable even if a step fails
    exploded.count()
    skip = (
        href.isNull()
        | (href == "")
        | href.startswith("javascript:")
        | href.startswith("mailto:")
        | href.startswith("tel:")
        # fragment-only hrefs can never reference a DIFFERENT document —
        # keeping them (urljoin resolves to the source page, canonical
        # strips the fragment) would let every in-page TOC link inflate
        # the page's own n_refs/top_texts with self-labels.  out_links
        # keeps them for frontier purposes (the seen-set dedupes); an
        # anchor-text CORPUS must not.
        | href.startswith("#")
    )
    is_abs = href.rlike("^https?://")
    is_proto_rel = href.startswith("//")
    is_root_rel = href.startswith("/") & ~is_proto_rel
    jvm_resolved = F.when(is_abs, href).when(
        is_root_rel,
        F.concat(
            F.regexp_extract(F.col("_src"), r"^(https?://[^/?#]*)", 1), href
        ),
    ).when(
        is_proto_rel,
        F.concat(F.regexp_extract(F.col("_src"), r"^(https?):", 1),
                 F.lit(":"), href),
    )
    fast = exploded.where(
        ~skip & (is_abs | is_root_rel | is_proto_rel)
    ).select("_src", jvm_resolved.alias("_resolved"), "_text")
    # the UDF lives in exactly ONE projection with no same-branch filter
    # referencing its output — Catalyst would otherwise extract a second
    # ArrowEvalPython for the predicate (plan-tested)
    slow = exploded.where(
        ~skip & ~is_abs & ~is_root_rel & ~is_proto_rel
    ).select(
        "_src",
        urlops.resolve_href_udf(href, F.col("_src")).alias("_resolved"),
        "_text",
    )
    pairs = fast.unionByName(slow).select(
        urlops.canonical_url_col(F.col("_resolved")).alias("target"),
        urlops.host_col(F.col("_src")).alias("src_host"),
        F.when(text_norm != "", text_norm).alias("text"),
    )
    # one (target, text, src_host) pre-aggregation feeds BOTH the
    # per-target stats and the text top-k; persist + eager fill gives the
    # two consumers one materialization instead of each re-running the
    # union (and its resolve UDF) — the minhash_banded pattern, with
    # recomputable lineage instead of session-lifetime unrecoverable
    # checkpoint blocks (ADVICE r04).  Once g1 is filled the exploded
    # cache has no further consumer and is released immediately; g1's own
    # handle rides on the result (and the module registry) for
    # release_caches once the caller has consumed the stats/top-k.  The
    # validity filter is applied ABOVE the materialized aggregate, never
    # inside its lineage: inside, Catalyst pushes it below the union into
    # the slow branch, where the predicate references the resolve UDF's
    # output and gets its own second ArrowEvalPython — the UDF then runs
    # twice per document-relative anchor (r04 shipped exactly that,
    # invisible behind the checkpoint cut; surfaced and plan-locked by
    # test_linkrank_plans when the cut became a persist).  On cached rows
    # the filter is a plain string predicate on a materialized column —
    # same result, validity is a pure function of target.
    g1_all = (
        pairs.groupBy("target", "text", "src_host")
        .agg(F.count("*").alias("_c"))
        .persist()
    )
    caches.register(g1_all)
    g1_all.count()
    caches.release(exploded)
    g1 = g1_all.where(urlops.is_valid_url_col(F.col("target")))
    stats = g1.groupBy("target").agg(
        F.sum("_c").cast("long").alias("n_refs"),
        F.countDistinct("src_host").cast("long").alias("n_hosts"),
    )
    tc = (
        g1.where(F.col("text").isNotNull())
        .groupBy("target", "text")
        .agg(F.sum("_c").cast("long").alias("cnt"))
    )
    w1 = Window.partitionBy("target", "_salt").orderBy(
        F.col("cnt").desc(), F.col("text")
    )
    w2 = Window.partitionBy("target").orderBy(F.col("cnt").desc(), F.col("text"))
    top = (
        tc.withColumn("_salt", F.pmod(F.xxhash64("text"), F.lit(num_salts)))
        .withColumn("_r1", F.row_number().over(w1))
        .where(F.col("_r1") <= top_k)
        .withColumn("_r2", F.row_number().over(w2))
        .where(F.col("_r2") <= top_k)
        .groupBy("target")
        .agg(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct(F.col("_r2").alias("r"), "text"))
                ),
                lambda s: s.text,
            ).alias("top_texts")
        )
    )
    out = stats.join(top, "target", "left").select(
        "target",
        "n_refs",
        "n_hosts",
        F.coalesce("top_texts", F.array().cast("array<string>")).alias(
            "top_texts"
        ),
    )
    return _own_caches(out, (g1_all,))


def apply_link_rank(
    frontier: DataFrame,
    ranks: DataFrame,
    min_factor: float = 0.5,
    max_factor: float = 2.0,
) -> DataFrame:
    """Scale each host's politeness ``host_budget`` by its link-graph
    authority: ``politeness.apply_host_reputation`` with PageRank as the
    signal — well-linked hosts earn budget, obscure hosts keep the ≥1
    liveness floor.

    ``ranks`` columns: host, rank_micro (the :func:`pagerank` output keyed
    by host).  A host's quality is its rank over the table's max rank
    (over 1 when that max is 0 or absent), so the factor runs from
    ``min_factor`` (rank 0) to ``max_factor`` (the max rank); hosts absent
    from the table rank 0.  The max is a single-row aggregate inside the
    plan, not a driver action, and the host-cardinality rank table
    broadcasts into the frontier."""
    mx = ranks.agg(F.max("rank_micro").alias("_mx"))
    quality = ranks.crossJoin(mx).select(
        "host",
        (F.col("rank_micro") / F.coalesce(F.nullif("_mx", F.lit(0)), F.lit(1)))
        .alias("avg_quality"),
    )
    return apply_host_reputation(
        frontier, quality, min_factor, max_factor, default_quality=0.0
    )
