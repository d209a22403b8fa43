"""Per-host politeness scheduler: robots filtering + budgeted batch selection.

Realizes the reference's global rate limits (requests_per_second=2.0,
delay_between_requests=0.5 s, models/config.py:158-161) as a *per-host
per-round budget* — the distributed analog of its asyncio semaphores
(core/extractor.py:290-296) — plus robots.txt handling the reference lacks
(north-rule requirement).  The budget comes from each host's robots crawl
delay; hosts without one get the constant ``DEFAULT_CRAWL_DELAY_S`` (the
reference's delay_between_requests default), which is not a config knob.

Skew handling (explicit, per north rule): host popularity is Zipf-skewed, so
a single window over ``host`` would straggle on hot hosts.  Selection is
two-phase salted:

  phase 1  window over (host, salt = pmod(url_hash, S)): row_number ≤ budget
           — each hot host's ranking work spreads over S reducers; survivors
           are ≤ S × budget per host.
  phase 2  window over host on the ≤ S×budget survivors: row_number ≤ budget
           — exact top-k per host, tiny input.

The selected set is *identical* to a single-phase top-k (phase 1 never drops
a row that phase 2 would keep: a row in the host's true top-budget is within
its salt's top-budget a fortiori), so ordering parity with the oracle
simulator is preserved while the shuffle skew is bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import caches

DEFAULT_CRAWL_DELAY_S = 0.5  # models/config.py:161
DEFAULT_ROUND_SECONDS = 10.0
DEFAULT_NUM_SALTS = 8

PRIORITY_COLS = ["depth", "parent_seq", "link_position"]


def apply_robots(
    frontier: DataFrame,
    robots: DataFrame,
    round_seconds: float = DEFAULT_ROUND_SECONDS,
    host_tokens: DataFrame | None = None,
    burst_rounds: int = 1,
) -> DataFrame:
    """Broadcast-join robots rules + token-bucket state; adds ``allowed``,
    ``host_budget`` and ``tokens_available``.

    Token bucket per host: refill = round_seconds / crawl_delay tokens per
    round, capacity = burst_rounds × refill; budget = max(1, floor(available))
    (the ≥1 floor can drive tokens negative — legitimate bucket debt that
    shrinks the next round's budget).  With burst_rounds=1 the carried state
    cannot exceed one refill, so budgets equal the stateless per-round
    formula.  ``robots`` columns: host, disallow_prefixes, crawl_delay_s;
    hosts without a rule default to allowed at the reference delay
    (models/config.py:161).  ``host_tokens`` columns: host, tokens.
    """
    joined = frontier.join(F.broadcast(robots), on="host", how="left")
    if host_tokens is not None:
        joined = joined.join(F.broadcast(host_tokens), on="host", how="left")
        tokens = F.coalesce(F.col("tokens"), F.lit(0.0))
    else:
        tokens = F.lit(0.0)
    disallowed = F.exists(
        F.coalesce(F.col("disallow_prefixes"), F.array()),
        lambda p: F.col("path").startswith(p),
    )
    delay = F.coalesce(F.col("crawl_delay_s"), F.lit(DEFAULT_CRAWL_DELAY_S))
    refill = F.lit(round_seconds) / F.greatest(delay, F.lit(1e-9))
    available = F.least(F.lit(float(burst_rounds)) * refill, tokens + refill)
    out = (
        joined.withColumn("allowed", ~disallowed)
        .withColumn("tokens_available", available)
        .withColumn(
            "host_budget",
            F.greatest(F.lit(1), F.floor(available)).cast("int"),
        )
        .drop("disallow_prefixes", "crawl_delay_s")
    )
    return out.drop("tokens") if host_tokens is not None else out


def apply_host_reputation(
    frontier: DataFrame,
    reputation: DataFrame,
    min_factor: float = 0.5,
    max_factor: float = 2.0,
    default_quality: float = 0.5,
) -> DataFrame:
    """Scale each host's politeness ``host_budget`` by its corpus-quality
    reputation — the feedback loop from the corpus tier back into crawl
    scheduling (hosts whose extracted documents score well earn a larger
    per-round budget; low-quality hosts are throttled, never starved).

    ``reputation`` columns: host, avg_quality in [0,1] (the
    host_reputation rollup).  factor interpolates linearly from
    ``min_factor`` (quality 0) to ``max_factor`` (quality 1); hosts absent
    from the table use ``default_quality``.  budget' = max(1,
    floor(budget × factor)) — the ≥1 floor preserves liveness, and the
    reputation table is host-cardinality (small), so this is a broadcast
    join on top of the existing budget column, shuffle-free."""
    rep = reputation.select(
        "host", F.col("avg_quality").cast("double").alias("_q")
    )
    q = F.coalesce(F.col("_q"), F.lit(float(default_quality)))
    factor = F.lit(min_factor) + (F.lit(max_factor) - F.lit(min_factor)) * q
    return (
        frontier.join(F.broadcast(rep), on="host", how="left")
        .withColumn(
            "host_budget",
            # round to 6 decimals before flooring: IEEE doubles can land an
            # exactly-representable product (10 × 1.4 = 13.999999…) just
            # below its mathematical value and floor would undercount by 1
            F.greatest(
                F.lit(1), F.floor(F.round(F.col("host_budget") * factor, 6))
            ).cast("int"),
        )
        .drop("_q")
    )


def select_batch(
    frontier: DataFrame, num_salts: int = DEFAULT_NUM_SALTS
) -> tuple[DataFrame, DataFrame]:
    """Priority-ordered per-host batch selection (salted two-phase window).

    Input must carry: host, host_budget, url_hash, and PRIORITY_COLS.
    Returns ``(selected, remainder)`` — remainder stays in the frontier.
    """
    order = [F.col(c).asc() for c in PRIORITY_COLS] + [F.col("url_hash").asc()]

    salted = frontier.withColumn(
        "_salt", F.pmod(F.col("url_hash"), F.lit(num_salts)).cast("int")
    )
    w1 = Window.partitionBy("host", "_salt").orderBy(*order)
    phase1 = (
        salted.withColumn("_r1", F.row_number().over(w1))
        .where(F.col("_r1") <= F.col("host_budget"))
        .drop("_r1")
    )
    w2 = Window.partitionBy("host").orderBy(*order)
    ranked = phase1.withColumn("_r2", F.row_number().over(w2))
    selected = ranked.where(F.col("_r2") <= F.col("host_budget")).drop("_r2", "_salt")

    remainder = frontier.join(
        selected.select("canonical_url"), on="canonical_url", how="left_anti"
    )
    return selected, remainder


#: Bucket-count cap for :func:`global_fetch_sequence`.  Each bucket's
#: row_number window is one reducer task and each row pays one struct
#: comparison per boundary, so the cap bounds per-row CPU while keeping
#: per-reducer row counts at round-batch scale (a politeness-budgeted
#: round batch split 128 ways).  Raise via the ``n_buckets`` argument on
#: clusters whose round batches outgrow it.
DEFAULT_MAX_SEQ_BUCKETS = 128

#: Order-minimum sentinels used to fold a NULL sort-key field into the
#: bucket key: Spark sorts nulls FIRST ascending, and the type minimum is
#: the closest total-order stand-in.  A genuine minimum value and a null
#: then share a bucket key — same bucket, window orders them null-first
#: within it — which preserves global monotonicity (nothing orders
#: between them).
_ORDER_MIN = {
    "tinyint": -(2**7), "smallint": -(2**15),
    "int": -(2**31), "bigint": -(2**63),
    "float": float("-inf"), "double": float("-inf"),
}


#: Floor for the content-hash sampling modulus of the in-plan boundary
#: estimate: one in ``mod`` rows (by ``pmod(url_hash, mod)``) contributes
#: its sort key to the boundary sample.  The sampled-key array lives in
#: ONE aggregate row — batch/mod structs — which crosses only the
#: aggregate's SinglePartition final-merge exchange (the broadcast that
#: follows carries at most ``n_buckets − 1`` probed boundary structs, not
#: the sample).  The final-merge task's heap and sort time are therefore
#: what the modulus bounds; :func:`seq_sample_mod` adapts it to the
#: engine's free batch-size estimate so the sample stays ~40 keys per
#: bucket at any batch size.
DEFAULT_SEQ_SAMPLE_MOD = 64


def seq_sample_mod(
    est_batch_rows: int | None, n_buckets: int = DEFAULT_MAX_SEQ_BUCKETS
) -> int:
    """Adaptive sampling modulus for :func:`global_fetch_sequence`.

    Targets ~40 sampled keys per bucket from a batch-size estimate the
    caller already has for free (the engine passes the previous round's
    ``fetched`` count, falling back to the committed ``frontier_size``
    when that is 0 — round batches are politeness-budget-bounded and
    change gradually, and correctness never depends on the estimate:
    a stale one only moves the sample size / bucket balance, both of
    which degrade gracefully).  Clamped below by
    ``DEFAULT_SEQ_SAMPLE_MOD`` so small batches keep a dense sample.

    Callers normally pass ``est_batch_rows`` to
    :func:`global_fetch_sequence` instead of calling this directly:
    the ~40-keys/bucket target only holds when ``n_buckets`` here is
    the bucket count actually used, and that is resolved (from
    ``defaultParallelism``) inside ``global_fetch_sequence``.
    """
    if not est_batch_rows or est_batch_rows <= 0:
        return DEFAULT_SEQ_SAMPLE_MOD
    return max(DEFAULT_SEQ_SAMPLE_MOD, est_batch_rows // (n_buckets * 40))


def global_fetch_sequence(
    selected: DataFrame,
    offset: int = 0,
    n_buckets: int | None = None,
    sample_mod: int | None = None,
    est_batch_rows: int | None = None,
) -> DataFrame:
    """Assign a deterministic global ``fetch_seq`` by total priority order
    WITHOUT a single-partition window: deterministic order-monotonic
    bucketing, per-bucket row_number, plus per-bucket offsets.

    Correctness here must not depend on two plan branches sharing one
    physical layout.  An earlier design range-repartitioned and keyed
    offsets by ``spark_partition_id()``, leaning on the cache as the
    sharing point — but a DataFrame *derived* from the result after a
    registry drain re-plans without the ``InMemoryRelation``
    substitution, and the two range exchanges (the counts branch is
    column-pruned, so ``ReusedExchange`` cannot match them) then sample
    boundaries independently; at sampled-boundary scale the layouts can
    differ and a stale map over a fresh layout silently corrupts the
    sequence (r05 review).

    So the bucket id is made a pure function of row values: boundary
    keys come from a deterministic content-hash sample
    (``pmod(url_hash, sample_mod) == 0`` — no RNG, no RDD-id-seeded
    sampling) sorted into a single-row array, evenly probed for
    ``n_buckets − 1`` boundary structs, and broadcast over the batch;
    ``_pid`` = count of boundaries ≤ the row's sort key.  The boundary
    subplan is pure data → value, so even when a branch re-evaluates it
    from scratch — cached, drained, recomputed after executor loss — it
    produces the identical array, and offsets and row numbers always
    describe the same layout by construction.  Everything stays in-plan:
    no driver action is spent here (an intermediate version collected
    boundaries to the driver as literals — same determinism, but the two
    extra driver actions per round cost ~14% crawl throughput in an
    interleaved A/B).  The cache below is a pure performance
    optimization (``selected`` is two stacked windows) and is registered
    in the session registry, which the engine drains at each round
    commit; draining is genuinely correctness-free, as the registry
    contract states (value-locked in tests/test_plans.py, including the
    derived-plan-after-drain case).

    The cumulative-offset map also stays in-query: a count-per-bucket
    aggregate folded into a single-row ``map<pid, offset>``
    (``F.aggregate`` over the sorted counts) broadcast back over a 1×N
    cross join.  The two single-partition exchanges this operator
    introduces carry one metadata-sized row each (the boundary-sample
    array and the offset map); the row_number window stays partitioned
    by ``_pid``.  When the sample is smaller than ``n_buckets`` (tiny
    batches), probing yields fewer distinct boundaries and the bucket
    count adapts downward automatically.
    """
    order_cols = PRIORITY_COLS + ["url_hash"]
    spark = selected.sparkSession
    if n_buckets is None:
        n_buckets = min(
            max(spark.sparkContext.defaultParallelism, 1),
            DEFAULT_MAX_SEQ_BUCKETS,
        )
    if sample_mod is None:
        # adapt AFTER resolving the real bucket count — computing the
        # modulus against the 128-bucket cap on a 16-way cluster would
        # oversample every bucket 8x (r05 review)
        sample_mod = seq_sample_mod(est_batch_rows, n_buckets)
    arranged = selected.persist()
    caches.register(arranged)

    dtypes = dict(selected.dtypes)
    key_fields = []
    for c in order_cols:
        col = F.col(c)
        sentinel = _ORDER_MIN.get(dtypes[c])
        if sentinel is not None:
            col = F.coalesce(col, F.lit(sentinel).cast(dtypes[c]))
        key_fields.append(col.alias(c))
    key = F.struct(*key_fields)

    if n_buckets > 1:
        sample = arranged.agg(
            F.sort_array(
                F.collect_list(
                    F.when(
                        F.pmod(F.col("url_hash"), F.lit(sample_mod)) == 0,
                        key,
                    )
                )
            ).alias("_keys")
        )
        nk = F.size(F.col("_keys"))

        def _probe(i):
            # even probe into the sorted sample; F.get is 0-based and
            # yields NULL (not an ANSI error) out of bounds, so an empty
            # sample degrades to an empty boundary array
            idx = F.least(
                ((i.cast("long") * nk) / F.lit(n_buckets)).cast("int"),
                nk - F.lit(1),
            )
            return F.get(F.col("_keys"), idx)

        bounds = sample.select(
            F.array_distinct(
                F.filter(
                    F.transform(
                        F.sequence(F.lit(1), F.lit(n_buckets - 1)), _probe
                    ),
                    lambda x: x.isNotNull(),
                )
            ).alias("_bnd")
        )
        keyed = (
            arranged.crossJoin(F.broadcast(bounds))
            .withColumn(
                "_pid",
                F.aggregate(
                    F.col("_bnd"),
                    F.lit(0),
                    lambda acc, b: acc
                    + F.when(key >= b, F.lit(1)).otherwise(F.lit(0)),
                ).cast("int"),
            )
            .drop("_bnd")
        )
    else:
        keyed = arranged.withColumn("_pid", F.lit(0))

    counts = keyed.groupBy("_pid").agg(F.count("*").alias("_n"))
    offset_map = counts.agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("_pid", "_n"))),
            F.struct(
                F.lit(offset).cast("long").alias("acc"),
                F.create_map().cast("map<int,bigint>").alias("m"),
            ),
            lambda s, x: F.struct(
                (s["acc"] + x["_n"]).alias("acc"),
                F.map_concat(s["m"], F.create_map(x["_pid"], s["acc"])).alias("m"),
            ),
            lambda s: s["m"],
        ).alias("_om")
    )
    w = Window.partitionBy("_pid").orderBy(*[F.col(c).asc() for c in order_cols])
    return (
        keyed.crossJoin(F.broadcast(offset_map))
        .withColumn(
            "fetch_seq",
            (F.row_number().over(w) - 1 + F.col("_om")[F.col("_pid")]).cast("long"),
        )
        .drop("_pid", "_om")
    )
