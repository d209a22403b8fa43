"""The crawl-round engine: iterative DataFrame pipelines with exact resume.

One crawl round is one DataFrame pipeline (north rule):

    frontier ─ robots broadcast-join ─ salted politeness windows ─
    fetch-simulate join against the page store ─ extraction mapInPandas ─
    (results sink, exploded out-links → canonicalize → bloom membership →
     exact anti-join → next frontier)

State is checkpointed per round under ``state_dir/rounds/round=K/`` —
frontier, results, seen-set delta (doubling as the fetched-order log),
bloom segments and per-host token-bucket state — committed atomically by
writing a ``_COMMIT`` marker last.  The commit record's row counts and
lineage totals (pages extracted, content chars, links found) are
``Observation``s on the results, frontier and seen-delta writes: no output
is re-read to be counted.  Resume = continue from the highest committed
round; an interrupted round leaves no marker and is recomputed idempotently
(overwrite-by-round-id).

Scale notes (10^10-URL design point):
* The seen set is append-only per-round deltas — no cumulative rewrite.
* The exact anti-join only processes candidates the bloom flags
  ``maybe_seen`` (no false negatives ⇒ bloom-miss rows are provably new).
* Politeness selection is salted two-phase (politeness.py) — hot hosts never
  serialize onto one reducer.
* ``fetch_seq`` assignment is a distributed ranked sequence (no global
  single-partition window).

The crawl ordering is deterministic: priority = (depth, parent_seq,
link_position) — seeds order by seed_rank, discovered links inherit their
parent's global fetch sequence and in-document link position (document order,
utils/web_utils.py:87), reproducing the reference's FIFO batch semantics
(core/batch_processor.py:103-113) under a politeness budget.
"""

from __future__ import annotations

import json
import os
import shutil
from functools import cached_property
from typing import List, Optional

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import caches
from ..config import CrawlConfig
from ..operators import urlops
from ..operators.extraction import EXTRACTION_SCHEMA, extract_pages
from . import politeness, traps
from .bloom import BloomSeenSet

FRONTIER_SCHEMA = (
    "canonical_url string, url_hash long, host string, path string, "
    "depth int, parent_seq long, link_position int, query string"
)

# The schema of each per-round artifact under ``rounds/round=K/``; the
# seen and edge compactions hold ``seen_delta`` and ``host_edges`` rows.
# Every read of them goes through :func:`read_rounds` with these, so none
# runs a schema-inference job.
ROUND_SCHEMAS = {
    "frontier": FRONTIER_SCHEMA,
    "seen_delta": (
        "canonical_url string, url_hash long, host string, fetch_seq long, "
        "depth int, fetch_status string, round int, was_new boolean"
    ),
    "results": T.StructType(EXTRACTION_SCHEMA.fields + [
        T.StructField("fetch_seq", T.LongType()),
        T.StructField("depth", T.IntegerType()),
    ]),
    "host_tokens": "host string, tokens double",
    "host_edges": "src_host string, dst_host string",
    "host_ranks": "host string, rank_micro long",
}

# Checkpoint layout version, stamped into the round-0 commit record.  Bump
# when the on-disk layout changes incompatibly (v2: seen_delta carries the
# fetched log incl. 'depth'; the v1 per-round 'fetched' dir is gone; v3:
# bloom segments are zlib-compressed).
STATE_FORMAT_VERSION = 3


def write_counted(df: DataFrame, path: str, **counts: Column) -> dict:
    """Write ``df`` as parquet to ``path``; return its row count ``n`` and
    ``counts`` (name → aggregate), observed on the write itself."""
    obs = Observation()
    aggs = [F.count(F.lit(1)).alias("n")] + [c.alias(k) for k, c in counts.items()]
    df.observe(obs, *aggs).write.mode("overwrite").parquet(path)
    return obs.get


def _min_priority(df: DataFrame, carry: List[str]) -> DataFrame:
    """One row per ``canonical_url``: the minimum of (PRIORITY_COLS,
    *carry), so ``carry`` columns come from the winning row."""
    fields = politeness.PRIORITY_COLS + carry
    return (
        df.groupBy("canonical_url")
        .agg(F.min(F.struct(*fields)).alias("p"))
        .select("canonical_url", *[F.col("p." + c).alias(c) for c in fields])
    )


def _with_url_keys(df: DataFrame) -> DataFrame:
    """Add the frontier's ``url_hash``, ``host`` and ``path`` columns,
    derived from ``canonical_url``."""
    url = F.col("canonical_url")
    return df.withColumns({
        "url_hash": urlops.url_hash_col(url),
        "host": urlops.host_col(url),
        "path": urlops.path_col(url),
    })


def fetch_simulate(selected: DataFrame, pages: DataFrame) -> DataFrame:
    """The batch left-joined to the page store (``url``, ``html``), with
    ``fetch_status`` "ok" where the store has the page, else "miss".  A
    store under ``autoBroadcastJoinThreshold`` is broadcast to the batch;
    a larger one makes this a sort-merge join that shuffles both sides."""
    batch = selected.join(pages, selected.canonical_url == pages.url, how="left")
    return batch.drop("url").withColumn(
        "fetch_status", F.when(F.col("html").isNotNull(), "ok").otherwise("miss")
    )


def committed_rounds(state_dir: str) -> List[int]:
    """Sorted ids of the rounds under ``state_dir`` that carry a
    ``_COMMIT`` marker ([] when there is no ``rounds/`` dir)."""
    root = os.path.join(state_dir, "rounds")
    if not os.path.isdir(root):
        return []
    return sorted(
        int(name.split("=")[1])
        for name in os.listdir(root)
        if name.startswith("round=")
        and os.path.exists(os.path.join(root, name, "_COMMIT"))
    )


def compact_live(state_dir: str, name: str) -> "tuple[int, Optional[str]]":
    """(upto_round, data_dir) of the committed compaction ``name`` under
    ``state_dir`` (``seen_compact`` or ``edges_compact``); (-1, None) when
    none is committed.  Every reader goes through here because it honors
    the rename-aside swap of :meth:`CrawlEngine._compact`: between its two
    renames only ``<name>.old`` is complete, and a reader that only checked
    ``<name>`` would fall back to per-round deltas that retention may
    already have retired."""
    final = os.path.join(state_dir, name)
    for d in (final, final + ".old"):
        try:
            with open(os.path.join(d, "_COMPACT")) as f:
                upto = int(json.load(f)["upto_round"])
        except (OSError, ValueError, KeyError):
            continue
        data = os.path.join(d, "data")
        if os.path.isdir(data):
            return upto, data
    return -1, None


def round_dirs(state_dir: str, name: str, rounds: List[int],
               base: Optional[str] = None) -> List[str]:
    """The compaction data dir ``base`` (if given) plus the ``name`` dirs
    of those ``rounds`` that wrote one."""
    return ([base] if base else []) + [
        d
        for k in rounds
        for d in [os.path.join(state_dir, "rounds", f"round={k}", name)]
        if os.path.isdir(d)
    ]


def read_rounds(spark: SparkSession, state_dir: str, name: str,
                rounds: List[int], base: Optional[str] = None
                ) -> Optional[DataFrame]:
    """The artifact ``name`` of ``rounds`` (plus the compaction ``base``)
    as one DataFrame read with ``ROUND_SCHEMAS[name]``; None when none of
    them exists."""
    dirs = round_dirs(state_dir, name, rounds, base)
    return spark.read.schema(ROUND_SCHEMAS[name]).parquet(*dirs) if dirs else None


def edge_rounds(state_dir: str, committed: List[int]
                ) -> "tuple[List[int], Optional[str]]":
    """(rounds, base) of a link-rank read over the ``committed`` rounds:
    the committed edge compaction's data dir (if any) and only the rounds
    after it.  Duplicate pairs across compact and tail are harmless —
    pagerank distincts edges."""
    upto, base = compact_live(state_dir, "edges_compact")
    return [j for j in committed if j > upto], base


def host_edge_inputs(state_dir: str, committed: List[int]) -> List[str]:
    """Edge dirs a link-rank read over the ``committed`` rounds scans."""
    return round_dirs(state_dir, "host_edges", *edge_rounds(state_dir, committed))


class CrawlEngine:
    """Round-based distributed crawler over a static page store
    (fetch-simulate: ``page.goto(url)`` becomes a join against the Iceberg/
    parquet pages table, browser_manager.py:403-412)."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        pages_path: str,
        robots: DataFrame,
        config: CrawlConfig = CrawlConfig(),
    ) -> None:
        self.spark = spark
        self.state_dir = state_dir
        self.pages_path = pages_path
        self.robots = robots
        self.cfg = config
        # a committed state dir fixes the seen-set geometry at round 0; a
        # record written before it was stamped keeps the config's
        rec = self._check_state_format()
        self.bloom = BloomSeenSet(
            rec.get("bloom_partitions", config.bloom_partitions),
            rec.get("bloom_bits_per_segment", config.bloom_bits_per_segment),
        )

    def _check_state_format(self) -> dict:
        """The round-0 commit record ({} before round 0 commits).  Fails
        fast when resuming a state_dir written by an incompatible checkpoint
        layout (e.g. the pre-v2 layout with a separate 'fetched' dir and no
        'depth' column in seen_delta) instead of mis-reading it."""
        if self.last_committed() < 0:
            return {}
        rec = self._read_commit(0)
        found = rec.get("format_version")
        if found != STATE_FORMAT_VERSION:
            raise RuntimeError(
                f"state_dir {self.state_dir!r} uses checkpoint format "
                f"{found!r}; this engine reads format {STATE_FORMAT_VERSION}. "
                "Re-crawl into a fresh state_dir (cross-version resume is "
                "not supported)."
            )
        return rec

    # ------------------------------------------------------------- layout
    def _round_dir(self, k: int) -> str:
        return os.path.join(self.state_dir, "rounds", f"round={k}")

    def _commit_path(self, k: int) -> str:
        return os.path.join(self._round_dir(k), "_COMMIT")

    def committed_rounds(self) -> List[int]:
        return committed_rounds(self.state_dir)

    def last_committed(self) -> int:
        rounds = self.committed_rounds()
        return rounds[-1] if rounds else -1

    def _read_commit(self, k: int) -> dict:
        with open(self._commit_path(k)) as f:
            return json.load(f)

    def _write_commit(self, k: int, record: dict) -> None:
        """Commit round ``k``: the marker appears whole, by rename, or not
        at all, so a crash mid-write leaves the round uncommitted."""
        path = self._commit_path(k)
        with open(path + ".tmp", "w") as f:
            json.dump(record, f)
        os.replace(path + ".tmp", path)

    def _read(self, name: str, rounds: List[int],
              base: Optional[str] = None) -> Optional[DataFrame]:
        return read_rounds(self.spark, self.state_dir, name, rounds, base)

    @cached_property
    def _pages(self) -> DataFrame:
        """The page store (static for the engine's life): its schema is
        inferred once, on first use, not once per round."""
        return self.spark.read.parquet(self.pages_path).select("url", "html")

    # -------------------------------------------------------------- seeds
    def init_from_seeds(self, seeds: DataFrame) -> None:
        """Round 0: seed frontier.  ``seeds`` columns: url, seed_rank, query.
        Seeds order by seed_rank → priority (0, -1, seed_rank).

        Seeds without a valid URL are dropped.  An empty or all-invalid seed
        set still commits round 0, with ``frontier_size: 0``; :meth:`run`
        then returns ``[]`` without committing round 1."""
        canon = urlops.canonical_url_col(F.col("url"))
        frontier = (
            _with_url_keys(
                seeds.select(
                    canon.alias("canonical_url"),
                    F.col("seed_rank"),
                    F.col("query"),
                ).where(urlops.is_valid_url_col(F.col("canonical_url")))
            )
            .withColumn("depth", F.lit(0))
            .withColumn("parent_seq", F.lit(-1).cast("long"))
            .withColumn("link_position", F.col("seed_rank").cast("int"))
            .drop("seed_rank")
        )
        rd = self._round_dir(0)
        if os.path.isdir(rd):
            shutil.rmtree(rd)
        seeded = write_counted(frontier, os.path.join(rd, "frontier"))
        os.makedirs(os.path.join(rd, "bloom"), exist_ok=True)
        self._write_commit(
            0,
            {"round": 0, "fetched": 0, "total_fetched": 0,
             "frontier_size": seeded["n"],
             "format_version": STATE_FORMAT_VERSION,
             "bloom_partitions": self.bloom.num_partitions,
             "bloom_bits_per_segment": self.bloom.bits},
        )

    # -------------------------------------------------------------- round
    def _read_frontier(self, k: int) -> DataFrame:
        return self._read("frontier", [k])

    def _read_seen(self, upto_round: int) -> Optional[DataFrame]:
        """Exact seen set ≤ upto_round: the compacted base (if one covers a
        prefix of rounds) plus the per-round deltas after it, minus
        tombstoned (expired) records.  Without compaction this unions one
        parquet dir per round — file-listing and small-file read
        amplification that grows linearly with crawl length; with it, the
        union is one consolidated dir + a bounded tail."""
        c, base = compact_live(self.state_dir, "seen_compact")
        if c > upto_round:
            c, base = -1, None
        seen = self._read(
            "seen_delta",
            [k for k in self.committed_rounds() if c < k <= upto_round],
            base,
        )
        if seen is None:
            return None
        tomb = self._read_tombstones()
        if tomb is not None:
            # cancel only records from AT/BEFORE the expiry round — a
            # refetch after expiry writes a newer delta row that survives
            seen = seen.alias("s").join(
                F.broadcast(tomb).alias("t"),
                (F.col("s.canonical_url") == F.col("t.t_url"))
                & (F.col("s.round") <= F.col("t.expired_at")),
                "left_anti",
            )
        return seen

    # ----------------------------------------------------- recrawl / TTL
    def _tombstones_dir(self) -> str:
        return os.path.join(self.state_dir, "tombstones")

    def _requeue_dir(self) -> str:
        return os.path.join(self.state_dir, "requeue")

    _TOMBSTONE_SCHEMA = "t_url string, expired_at int"

    def _read_tombstones(self) -> Optional[DataFrame]:
        root = self._tombstones_dir()
        if not os.path.isdir(root):
            return None
        # .tmp dirs are in-flight/crashed expire() writes — never read them
        batches = [
            os.path.join(root, n)
            for n in sorted(os.listdir(root))
            if not n.endswith(".tmp")
        ]
        if not batches:
            return None
        return self.spark.read.schema(self._TOMBSTONE_SCHEMA).parquet(*batches)

    def _next_expire_seq(self) -> int:
        """Monotonic expire-batch counter, persisted in the state dir (the
        increment is written before the batch, so a crash at worst skips a
        number — never reuses one)."""
        path = os.path.join(self.state_dir, "expire_seq")
        if os.path.exists(path):
            # an unreadable/corrupt counter must NOT silently reset to 0 —
            # that reintroduces batch-name reuse (a reused name matching a
            # committed consumed_requeue entry suppresses the recrawl)
            with open(path) as f:
                raw = f.read().strip()
            try:
                seq = int(raw)
            except ValueError as exc:
                raise RuntimeError(
                    f"corrupt expire_seq counter at {path!r}: {raw!r}"
                ) from exc
        else:
            seq = 0
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(seq + 1))
        os.replace(tmp, path)
        return seq

    def _consumed_requeue(self) -> set:
        """Requeue batches recorded as consumed by committed rounds.
        Cached incrementally per engine instance — without the cache a
        k-round crawl re-opens all k commit JSONs every round (O(k²)
        driver file I/O over a long crawl)."""
        if not hasattr(self, "_rq_cache"):
            self._rq_cache: dict[int, list] = {}
        names = set()
        for k in self.committed_rounds():
            if k not in self._rq_cache:
                self._rq_cache[k] = self._read_commit(k).get("consumed_requeue", [])
            names.update(self._rq_cache[k])
        return names

    def expire(self, urls: DataFrame, requeue: bool = True) -> int:
        """Recrawl/TTL: mark already-fetched URLs as expired so they become
        fetchable again (the distributed analog of the reference's
        cache-TTL, models/config.py:169-172).

        Writes a TOMBSTONE batch — the seen-set view cancels records up to
        the expiry round, so per-round deltas stay immutable and resume is
        unaffected — and (with ``requeue=True``) a requeue batch of
        frontier rows (priority = original depth, original fetch_seq) that
        the next round folds into its frontier; consumption is recorded in
        that round's commit, so a crash between expire and commit simply
        re-consumes.  The bloom is NOT touched: a stale maybe_seen just
        routes the URL through the exact anti-join, which now lets it pass.
        Returns the number of URLs expired."""
        seen = self.seen()
        if seen is None:
            return 0
        target = urls.select(F.col("canonical_url")).distinct()
        records = seen.join(target, "canonical_url", "inner").cache()
        caches.register(records)  # drainable even if a write below fails
        n = records.count()
        if n == 0:
            caches.release(records)
            return 0
        expired_at = self.last_committed()
        t_root = self._tombstones_dir()
        # Monotonic persistent sequence, NOT a dir count: pruning deletes
        # tombstone batches, so a count-derived name would collide with a
        # surviving requeue dir of the same name (os.rename failure) or —
        # worse — with a name already in a commit's consumed_requeue list,
        # silently suppressing the new batch's recrawl.
        batch = f"batch-{self._next_expire_seq():08d}-at{expired_at}"
        # crash-safe: write to a .tmp dir, atomic-rename into place last —
        # readers skip .tmp, so a killed expire() can never poison reads
        t_tmp = os.path.join(t_root, batch + ".tmp")
        (
            records.select(
                F.col("canonical_url").alias("t_url"),
                F.lit(expired_at).alias("expired_at"),
            )
            .write.mode("overwrite")
            .parquet(t_tmp)
        )
        if requeue:
            rq = _with_url_keys(records.select(
                "canonical_url",
                F.col("depth").cast("int"),
                F.coalesce(F.col("fetch_seq"), F.lit(-1)).cast("long").alias("parent_seq"),
                F.lit(0).alias("link_position"),
                F.lit(None).cast("string").alias("query"),
            ))
            rq_tmp = os.path.join(self._requeue_dir(), batch + ".tmp")
            rq.write.mode("overwrite").parquet(rq_tmp)
            os.rename(rq_tmp, os.path.join(self._requeue_dir(), batch))
        os.rename(t_tmp, os.path.join(t_root, batch))
        caches.release(records)
        return n

    # -------------------------------------------------------- compaction
    def _compact(self, name: str, upto: int, df: DataFrame) -> int:
        """Write ``df`` as the compaction ``state_dir/name`` covering rounds
        ≤ ``upto``: ``data`` and the ``_COMPACT`` marker go to a temp dir,
        which then replaces the live one by a rename-aside swap.  Not
        rmtree-then-rename: a crash between a delete and the rename-in would
        leave only the temp dir, and the per-round deltas the compaction
        superseded may already be retired.  At every instant a complete
        compaction exists at ``name`` or ``name.old`` (:func:`compact_live`
        falls back to it); the ``.old`` dir is deleted only after the new
        one is in place."""
        final = os.path.join(self.state_dir, name)
        tmp, old = final + ".tmp", final + ".old"
        if os.path.isdir(tmp):
            shutil.rmtree(tmp)
        df.write.mode("overwrite").parquet(os.path.join(tmp, "data"))
        with open(os.path.join(tmp, "_COMPACT"), "w") as f:
            json.dump({"upto_round": upto,
                       "format_version": STATE_FORMAT_VERSION}, f)
        if os.path.isdir(final):
            if os.path.isdir(old):
                shutil.rmtree(old)
            os.rename(final, old)
        os.rename(tmp, final)
        if os.path.isdir(old):
            shutil.rmtree(old)
        return upto

    def compacted_upto(self) -> int:
        """Highest round covered by a committed compaction (-1 if none)."""
        return compact_live(self.state_dir, "seen_compact")[0]

    def compact_seen(self, upto_round: Optional[int] = None) -> int:
        """Consolidate seen deltas ≤ upto_round (default: last committed)
        into one hash-partitioned parquet dir.

        Incremental (reads the previous compact + only the new tail) and
        crash-safe (:meth:`_compact`).  The compact is derived data; the
        deltas remain the source of truth for fetched_log/resume."""
        upto = self.last_committed() if upto_round is None else upto_round
        if upto <= self.compacted_upto():
            return self.compacted_upto()
        seen = self._read_seen(upto)
        if seen is None:
            return -1
        p = self.bloom.num_partitions
        self._compact(
            "seen_compact", upto,
            seen.repartition(p, F.pmod(F.col("url_hash"), F.lit(p))),
        )
        # Prune tombstone batches the compaction superseded: the base is
        # tombstone-filtered, and tail deltas all have round > upto, so a
        # batch with expired_at <= upto can never match anything again.
        t_root = self._tombstones_dir()
        if os.path.isdir(t_root):
            for name in os.listdir(t_root):
                if name.endswith(".tmp"):
                    continue
                _, _, at = name.rpartition("-at")
                if at.isdigit() and int(at) <= upto:
                    shutil.rmtree(os.path.join(t_root, name))
        return upto

    def edges_compacted_upto(self) -> int:
        """Highest round covered by a committed edge compaction (-1 if
        none)."""
        return compact_live(self.state_dir, "edges_compact")[0]

    def compact_host_edges(self, upto_round: Optional[int] = None) -> int:
        """Consolidate the per-round host→host edge deltas ≤ upto_round
        into one distinct parquet dir — bounds the link-rank recompute's
        read fan-in on long crawls the way compact_seen bounds the novelty
        anti-join's.  Incremental (previous compact + only the new tail)
        and crash-safe (:meth:`_compact`); the compact is derived data, so
        superseded per-round deltas may be retired by retention afterwards."""
        upto = self.last_committed() if upto_round is None else upto_round
        prev = self.edges_compacted_upto()
        if upto <= prev:
            return prev
        edges = self._read("host_edges", *edge_rounds(
            self.state_dir, [j for j in self.committed_rounds() if j <= upto]
        ))
        if edges is None:
            return prev
        return self._compact("edges_compact", upto, edges.distinct())

    def run_round(self, k: int) -> Optional[dict]:
        """Execute round ``k`` (requires round ``k-1`` committed).
        Returns the commit record, or None if the frontier is exhausted."""
        prev = self._read_commit(k - 1)
        # Requeue batches not yet consumed by a committed round (recrawl).
        rq_root = self._requeue_dir()
        pending_requeue: List[str] = []
        if os.path.isdir(rq_root):
            done = self._consumed_requeue()
            pending_requeue = sorted(
                n for n in os.listdir(rq_root)
                if n not in done and not n.endswith(".tmp")
            )
        # Emptiness check comes free from the previous round's commit record
        # (round 0 always has seeds); pending requeue keeps the crawl alive.
        if prev.get("frontier_size") == 0 and not pending_requeue:
            return None
        frontier = self._read_frontier(k - 1)
        if pending_requeue:
            rq = self.spark.read.schema(FRONTIER_SCHEMA).parquet(
                *[os.path.join(rq_root, n) for n in pending_requeue]
            )
            # fold into the frontier, min-priority per URL (a URL can be
            # both carried and requeued)
            frontier = _min_priority(
                frontier.unionByName(rq),
                carry=["url_hash", "host", "path", "query"],
            )

        rd = self._round_dir(k)
        if os.path.isdir(rd):  # uncommitted leftovers from a crash
            shutil.rmtree(rd)
        os.makedirs(rd, exist_ok=True)

        # 1. robots gate (broadcast join, J3) + token-bucket state (W5)
        prev_tokens = self._read("host_tokens", [k - 1])
        gated = politeness.apply_robots(
            frontier, self.robots, self.cfg.round_seconds,
            host_tokens=prev_tokens, burst_rounds=self.cfg.burst_rounds,
        )

        # 1b. link-rank budget feedback: PageRank over the host→host edges
        # committed rounds accumulated (written in step 5b) rescales each
        # host's budget by link authority before batch selection.
        # The edge files are distinct host pairs — host²-bounded metadata,
        # and the eager rank table is host-cardinality (broadcast join).
        # Politeness stays amortized: a >1× factor overdraws the host's
        # token bucket (step 10 books actual fetches), so authority buys a
        # burst, and the debt throttles the following rounds back to the
        # robots-derived rate.
        link_rank_applied = False
        link_rank_recomputed = False
        if self.cfg.link_rank_budget:
            from ..operators import linkrank

            committed = self.committed_rounds()
            # rerank cadence is derived purely from the on-disk layout (the
            # latest committed round that wrote a rank table) — resume-safe,
            # and an uncommitted crash rewinds it with the round itself.
            # ``rank_round`` holds the round whose table this round
            # applies: that one, or this round once it reranks, or none.
            rank_round = [j for j in committed
                          if round_dirs(self.state_dir, "host_ranks", [j])][-1:]
            if not rank_round or k - rank_round[0] >= self.cfg.link_rank_every:
                rank_round = []
                edges = self._read(
                    "host_edges", *edge_rounds(self.state_dir, committed)
                )
                if edges is not None:
                    teleport = (
                        self._read_frontier(0).select(
                            F.col("host").alias("node")
                        ).distinct()
                        if self.cfg.link_rank_focus
                        else None
                    )
                    linkrank.pagerank(
                        edges,
                        src_col="src_host",
                        dst_col="dst_host",
                        iterations=self.cfg.link_rank_iterations,
                        eager=True,
                        teleport=teleport,
                    ).select(
                        F.col("node").alias("host"), "rank_micro"
                    ).write.mode("overwrite").parquet(
                        os.path.join(rd, "host_ranks")
                    )
                    rank_round = [k]
                    link_rank_recomputed = True
            ranks = self._read("host_ranks", rank_round)
            if ranks is not None:
                gated = linkrank.apply_link_rank(gated, ranks)
                link_rank_applied = True

        # 2. politeness batch selection (salted two-phase window, W5): the
        # ranked frame keeps every frontier row; the robots-blocked rows,
        # the batch and the carried remainder are three filters of it.
        # Persisted, or each filter would recompute the scan, the joins and
        # both windows.  At the 10^10 design point this spills
        # MEMORY_AND_DISK per executor rather than re-reading the frontier.
        ranked = politeness.rank_batch(gated, self.cfg.num_salts).persist()
        # round-scoped persists register at creation so a round that
        # raises mid-flight leaves them drainable (the next round's
        # commit drain, or release_caches()) instead of stranded
        caches.register(ranked)
        blocked = ranked.where(~F.col("allowed"))
        remainder = ranked.where(F.col("allowed") & ~F.col("_sel"))
        selected = politeness.global_fetch_sequence(
            ranked.where(F.col("_sel")), offset=int(prev["total_fetched"])
        )

        # 3. fetch-simulate (J2): left join against the page store
        batch = fetch_simulate(selected, self._pages).cache()
        caches.register(batch)

        # 4. extraction (vectorized kernel) over successfully "fetched" pages;
        # lineage columns ride through the kernel as passthrough — no
        # post-kernel re-join (which would shuffle the whole results table).
        to_extract = batch.where(F.col("fetch_status") == "ok").select(
            F.col("canonical_url").alias("url"), "html", "query", "fetch_seq", "depth"
        )
        results = extract_pages(
            to_extract.withColumn("mode", F.lit(self.cfg.mode).cast("string")),
            opts=self.cfg.extract_opts,
            passthrough=["fetch_seq", "depth"],
        )
        # lineage totals (A8) observed on the results write itself: exact
        # integer sums, so the record is the same under any partitioning
        extracted = write_counted(
            results, os.path.join(rd, "results"),
            content_chars=F.coalesce(F.sum(F.length("content")), F.lit(0)),
            links_found=F.coalesce(F.sum(F.size("out_links")), F.lit(0)),
        )
        results = self._read("results", [k])

        # 5. discovered links, canonicalized and validated once for both
        # the candidates and the host-graph delta
        links = (
            results.select(
                "url",
                "fetch_seq",
                "depth",
                F.posexplode("out_links").alias("link_position", "raw_url"),
            )
            .withColumn("canonical_url", urlops.canonical_url_col(F.col("raw_url")))
            .where(urlops.is_valid_url_col(F.col("canonical_url")))
        )
        # candidates: in-round dedup keeps the minimum priority per URL
        cand = _with_url_keys(
            _min_priority(
                links.where(F.col("canonical_url").rlike("^https?://")).select(
                    "canonical_url",
                    (F.col("depth") + 1).alias("depth"),
                    F.col("fetch_seq").alias("parent_seq"),
                    F.col("link_position").cast("int"),
                ),
                carry=[],
            )
        ).withColumn("query", F.lit(None).cast("string"))

        # 5b. host-graph delta for the link-rank feedback: distinct
        # src_host→dst_host pairs discovered this round.  Taken from the
        # links before the candidates' in-round dedup (which keeps one
        # parent per URL and would drop cross-host co-citations); each
        # results row carries its own URL, so src_host needs no join, and
        # the distinct output is host²-bounded.
        if self.cfg.link_rank_budget:
            links.select(
                urlops.host_col(F.col("url")).alias("src_host"),
                urlops.host_col(F.col("canonical_url")).alias("dst_host"),
            ).distinct().write.mode("overwrite").parquet(
                os.path.join(rd, "host_edges")
            )

        # 6. novelty: bloom pre-filter, exact anti-join only on maybe_seen (J1)
        prev_bloom = os.path.join(self._round_dir(k - 1), "bloom")
        flagged = self.bloom.flag_maybe_seen(cand, prev_bloom).cache()
        caches.register(flagged)
        definitely_new = flagged.where(~F.col("maybe_seen")).drop("maybe_seen")
        maybe = flagged.where(F.col("maybe_seen")).drop("maybe_seen")
        seen = self._read_seen(k - 1)
        if seen is not None:
            maybe = maybe.join(
                seen.select("canonical_url"), on="canonical_url", how="left_anti"
            )
        # exclude the round's own frontier: the ranked frame keeps every
        # frontier row, so selected ∪ remainder ∪ blocked is exactly its URL
        # set (fetched, still waiting, or robots-blocked)
        survivors = definitely_new.unionByName(maybe).join(
            frontier.select("canonical_url"), on="canonical_url", how="left_anti"
        )

        # 7. next frontier = politeness remainder ∪ new discoveries.  The
        # ``origin`` marker column lets the frontier write observe the
        # commit record's new_urls count (readers use the explicit
        # FRONTIER_SCHEMA, which simply ignores it).
        cols = [c.split()[0] for c in FRONTIER_SCHEMA.split(", ")]
        next_frontier = (
            remainder.select(*cols).withColumn("origin", F.lit("carried"))
            .unionByName(
                survivors.select(*cols).withColumn("origin", F.lit("discovered"))
            )
        )

        # 7b. crawl-trap guard: profile the next frontier's (host, template)
        # explosion counts and sample flagged templates down BEFORE the
        # frontier is persisted — a calendar/session-id trap discovered this
        # round must not snowball into round k+1's politeness/novelty work.
        # The profile is one map-side-combined aggregation; its flagged set
        # is template-cardinality (checkpointed, counted for the commit
        # record, then broadcast by prune_traps).
        n_trap_patterns = 0
        if self.cfg.trap_threshold > 0:
            suspects = (
                traps.url_pattern_profile(
                    next_frontier, threshold=self.cfg.trap_threshold
                )
                .where("trap_suspect")
                .select("host", "url_pattern")
                .localCheckpoint(eager=True)
            )
            n_trap_patterns = suspects.count()
            if n_trap_patterns:
                next_frontier = traps.prune_traps(
                    next_frontier,
                    threshold=self.cfg.trap_threshold,
                    keep_per_pattern=self.cfg.trap_keep_per_pattern,
                    suspects=suspects,
                )
        written = write_counted(
            next_frontier, os.path.join(rd, "frontier"),
            discovered=F.count_if(F.col("origin") == "discovered"),
        )

        # 8. seen delta: everything attempted this round + robots-blocked.
        # Doubles as the fetched-order log (fetched_log() filters/projects
        # it) — one write instead of two for the same rows.
        seen_delta = (
            batch.select(
                "canonical_url",
                "url_hash",
                "host",
                "fetch_seq",
                "depth",
                F.col("fetch_status"),
                F.lit(k).alias("round"),
                F.lit(True).alias("was_new"),
            )
            .unionByName(
                blocked.select(
                    "canonical_url",
                    "url_hash",
                    "host",
                    F.lit(None).cast("long").alias("fetch_seq"),
                    "depth",
                    F.lit("robots_blocked").alias("fetch_status"),
                    F.lit(k).alias("round"),
                    F.lit(True).alias("was_new"),
                )
            )
        )
        attempted = write_counted(
            seen_delta, os.path.join(rd, "seen_delta"),
            blocked=F.count_if(F.col("fetch_status") == "robots_blocked"),
        )
        seen_delta = self._read("seen_delta", [k])

        # 9. bloom segments for round k (executor-side, one file per task)
        self.bloom.update(
            seen_delta.select("canonical_url", "url_hash"),
            prev_dir=prev_bloom,
            out_dir=os.path.join(rd, "bloom"),
        )

        # 10. token-bucket state for round k: per eligible host, available
        #     - used.  Every eligible host has a batch row (its budget is
        #     ≥ 1), and tokens_available is per host, so one aggregate over
        #     the batch covers them (hosts absent from the frontier drop
        #     out and restart at one refill when rediscovered)
        batch.groupBy("host").agg(
            (F.max("tokens_available") - F.count(F.lit(1))).alias("tokens")
        ).write.mode("overwrite").parquet(os.path.join(rd, "host_tokens"))

        n_fetched = attempted["n"] - attempted["blocked"]
        record = {
            "round": k,
            "fetched": n_fetched,
            "blocked": attempted["blocked"],
            "new_urls": written["discovered"],
            "frontier_size": written["n"],
            "total_fetched": int(prev["total_fetched"]) + n_fetched,
            "pages_extracted": extracted["n"],
            "content_chars": extracted["content_chars"],
            "links_found": extracted["links_found"],
            # requeue batches folded into this round's frontier; recording
            # them here (atomically with the round) is what makes expire()
            # crash-safe — an uncommitted round simply re-consumes them
            "consumed_requeue": pending_requeue,
            # (host, template) pairs the trap guard flagged and sampled this
            # round (0 when the guard is disabled or nothing exploded)
            "trap_patterns": n_trap_patterns,
            # whether PageRank budget feedback rescaled this round's host
            # budgets (False until the first committed round writes edges),
            # and whether the rank table was recomputed this round or
            # reused under the link_rank_every cadence
            "link_rank_applied": link_rank_applied,
            "link_rank_recomputed": link_rank_recomputed,
        }
        # drain the session registry: the round's own persists (ranked /
        # batch / flagged, registered at creation so a round that raises
        # mid-flight leaves them drainable too) and any other intra-round
        # hand-off must not outlive the round — a long crawl would
        # otherwise strand one batch-sized cache per round.  Round commit
        # is a safe drain point: everything the round produced is on disk,
        # and registered caches are recomputable persists, never cuts.
        caches.release_all()
        # 11. atomic commit marker — written LAST
        self._write_commit(k, record)
        return record

    # ---------------------------------------------------------------- run
    def run(self, max_rounds: Optional[int] = None) -> List[dict]:
        """Run rounds until the frontier is exhausted (or max_rounds),
        resuming after the last committed round."""
        limit = max_rounds if max_rounds is not None else self.cfg.max_rounds
        records = []
        k = self.last_committed() + 1
        if k == 0:
            raise RuntimeError("call init_from_seeds() first")
        while len(records) < limit:
            rec = self.run_round(k)
            if rec is None:
                break
            records.append(rec)
            if (
                self.cfg.compact_every > 0
                and k - self.compacted_upto() >= self.cfg.compact_every
            ):
                self.compact_seen(k)
                if self.cfg.link_rank_budget:
                    self.compact_host_edges(k)
            k += 1
        return records

    # ------------------------------------------------------------ readers
    def fetched_log(self) -> DataFrame:
        """Fetched-order log (golden_crawl comparison surface) — a
        filter/projection of the per-round seen deltas."""
        return (
            self._read("seen_delta", self.committed_rounds())
            .where(F.col("fetch_status") != "robots_blocked")
            .select("round", "fetch_seq", "canonical_url", "host",
                    "fetch_status", "depth")
        )

    def results(self) -> DataFrame:
        return self._read("results", self.committed_rounds())

    def seen(self) -> Optional[DataFrame]:
        return self._read_seen(self.last_committed())
