"""Session-wide registry for internal persists handed across call
boundaries.

Several operators persist an intermediate (LSH candidate pairs, the
anchor pre-aggregate, pagerank's node/edge tables in non-eager mode) so
an expensive stage evaluates exactly once across a downstream
self-join, then RETURN a DataFrame built on top of that cache.  The
handle cannot be unpersisted in-function — the caller has not
materialized the result yet — and a handle riding on the returned
object as a Python attribute does not survive DataFrame
transformations.  So every such hand-off is ALSO recorded here, where
:func:`release_all` can free it at a safe point: between benchmark
reps, after a driver query is collected, at the end of a pipeline
stage.

Releasing is always safe: these are ``persist()`` caches with
recomputable lineage (never checkpoint cuts), so releasing early only
forfeits reuse — a consumer that runs afterwards recomputes the same
deterministic result.  Unreleased entries are individually small
(candidate-cardinality pairs, per-target aggregates), but a session
that invokes cache-handing operators in a loop — e.g. a crawl's rounds
or a benchmark's timed reps — accumulates one per call, so the loop
must drain the registry between iterations.
"""

from __future__ import annotations

#: Shared across modules — :mod:`operators.linkrank` aliases this list as
#: its ``_REGISTERED_CACHES`` so the two registries are one.
REGISTRY: list = []


def register(*handles) -> None:
    """Record persisted DataFrames for later draining.

    Idempotent by identity: operators register at persist-creation AND
    may re-announce the same handle at hand-off (``_own_caches``), so a
    duplicate entry must not survive — an exact-object ``forget`` would
    otherwise leave a stale twin behind.  Identity scan, not ``in``:
    DataFrame.__eq__ builds a Column.
    """
    for h in handles:
        if not any(r is h for r in REGISTRY):
            REGISTRY.append(h)


def forget(handle) -> None:
    """Drop one handle from the registry (caller released it directly).

    Identity scan, NOT list.remove: DataFrame.__eq__ returns a Column,
    so equality-based removal raises (or silently fails) as soon as a
    different DataFrame precedes the target.
    """
    for i, h in enumerate(REGISTRY):
        if h is handle:
            del REGISTRY[i]
            return


def release(handle) -> None:
    """Unpersist one handle and drop it from the registry — the
    in-function release path.  Operators register every persist at
    creation (not at hand-off), so a call that raises between its
    ``persist()`` and its in-function release leaves the cache
    drainable via :func:`release_all` instead of stranded with no
    reachable handle."""
    try:
        handle.unpersist()
    except Exception:
        pass
    forget(handle)


def release_all() -> int:
    """Unpersist every registered hand-off; returns how many were freed.

    Safe at any point (recomputable lineage — see module docstring);
    unpersisting an already-released DataFrame is a Spark no-op.
    """
    n = 0
    while REGISTRY:
        try:
            REGISTRY.pop().unpersist()
            n += 1
        except Exception:
            pass
    return n
