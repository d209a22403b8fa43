"""Per-host politeness scheduler: robots filtering + budgeted batch selection.

Realizes the reference's global rate limits (requests_per_second=2.0,
delay_between_requests=0.5 s, models/config.py:158-161) as a *per-host
per-round budget* — the distributed analog of its asyncio semaphores
(core/extractor.py:290-296) — plus robots.txt handling the reference lacks
(north-rule requirement).  The budget comes from each host's robots crawl
delay; hosts without one get the constant ``DEFAULT_CRAWL_DELAY_S`` (the
reference's delay_between_requests default), which is not a config knob.

Skew handling (explicit, per north rule): host popularity is Zipf-skewed, so
a single window over ``host`` would straggle on hot hosts.  ``rank_batch``
labels every frontier row ``_sel`` (in the batch or not) with two windows:

  phase 1  over (host, allowed, salt = pmod(url_hash, S)): an allowed row
           ranked ≤ budget survives — a hot host spreads over S reducers,
           and a robots-blocked row never takes an allowed row's slot.
  phase 2  over the whole frame, keyed (host, NULL for survivors else
           salt): a survivor ranked ≤ budget is selected.  Only a host's
           ≤ S × budget survivors share a group (exact top-k); the other
           rows ride along so the frame keeps every row, and stay spread
           by salt, so no hot host lands on one reducer.

The selected set is *identical* to a single-phase top-k over the allowed
rows (a row in the host's true top-budget is within its salt's top-budget
a fortiori).  Both windows order by the total ``ORDER_KEY``, so every
recomputation of the frame labels each row the same way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.internal import InternalFunction

DEFAULT_CRAWL_DELAY_S = 0.5  # models/config.py:161
DEFAULT_ROUND_SECONDS = 10.0
DEFAULT_NUM_SALTS = 8

PRIORITY_COLS = ["depth", "parent_seq", "link_position"]
# total order of a round: canonical_url breaks every (priority, url_hash) tie
ORDER_KEY = PRIORITY_COLS + ["url_hash", "canonical_url"]


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


def rank_batch(frontier: DataFrame, num_salts: int = DEFAULT_NUM_SALTS) -> DataFrame:
    """Every frontier row plus ``_sel``: whether it is in the round's batch
    (allowed, and within its host's top ``host_budget`` in ``ORDER_KEY``).

    Input must carry: host, allowed, host_budget, and ``ORDER_KEY``.
    """
    salt = F.pmod(F.col("url_hash"), F.lit(num_salts))
    w1 = Window.partitionBy("host", "allowed", salt).orderBy(*ORDER_KEY)
    top1 = F.row_number().over(w1) <= F.col("host_budget")
    ranked = frontier.withColumn("_survivor", F.col("allowed") & top1)
    survivor = F.col("_survivor")
    w2 = Window.partitionBy("host", F.when(~survivor, salt)).orderBy(*ORDER_KEY)
    top2 = F.row_number().over(w2) <= F.col("host_budget")
    return ranked.withColumn("_sel", survivor & top2).drop("_survivor")


def select_batch(
    frontier: DataFrame, num_salts: int = DEFAULT_NUM_SALTS
) -> tuple[DataFrame, DataFrame]:
    """``(selected, remainder)``: the ``_sel`` and ``NOT _sel`` rows of
    :func:`rank_batch` (same input contract)."""
    ranked, sel = rank_batch(frontier, num_salts), F.col("_sel")
    return ranked.where(sel).drop("_sel"), ranked.where(~sel).drop("_sel")


def global_fetch_sequence(
    selected: DataFrame, offset: int = 0, est_batch_rows: int | None = None
) -> DataFrame:
    """Number ``selected`` with ``fetch_seq`` = ``offset`` + its rank in
    ``ORDER_KEY``.

    One range-partitioned sort, then ``distributed_sequence_id`` (the
    ``zipWithIndex``-backed sequence behind pandas-on-Spark's default
    index).  The order is total, so the rank does not depend on the
    partitioning and every re-evaluation of the plan gives the same
    numbers.  ``est_batch_rows`` is ignored: perfbench's traced
    replay still passes it, and a benchmark change will remove both.
    """
    # AttachDistributedSequenceExec otherwise persists its input on every
    # execution, and only AQE's end-of-query cleanup unpersists it (with
    # AQE off, each execution strands a copy); without the cache, its
    # second pass re-reads the sort's shuffle output
    selected.sparkSession.conf.set(
        "pandas_on_Spark.compute.default_index_cache", "NONE"
    )
    return selected.orderBy(*ORDER_KEY).withColumn(
        "fetch_seq", F.lit(offset) + InternalFunction.distributed_sequence_id()
    )
