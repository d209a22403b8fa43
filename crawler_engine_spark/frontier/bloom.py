"""Partitioned URL-seen sets: the shared segment skeleton
(:class:`PartitionedSeenSet`) and its Bloom backend.

Design (north rule: "bloom/cuckoo URL-seen set keyed by
xxhash64(canonical_url)" at 10^10-URL scale): the key space is
hash-partitioned and each partition owns one segment file, built and probed
executor-side.  Both backends have no false negatives, so only the (small)
``maybe_seen = true`` subset of the candidates joins the exact seen-set
table to eliminate false positives.  That asymmetry is the whole point at
10^10: the expensive exact join sees a tiny fraction of the candidate
stream.

Sizing math (documented design point): 10^10 keys / 4096 partitions ≈ 2.4M
keys/segment; at 10 bits/key ≈ 3 MB/segment, 12 GB total, fpr ≈ 0.8%.
Sandbox default: 32 partitions × 2^20 bits (128 KiB) each.

Bit positions use the Kirsch-Mitzenmacher double-hashing scheme over two
64-bit halves of ``blake2b(canonical_url)`` — computed in Python on both the
build and probe side, so no cross-language hash agreement is needed (the
xxhash64 column only routes rows to partitions).
"""

from __future__ import annotations

import hashlib
import os
from typing import Any, Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_NUM_PARTITIONS = 32
DEFAULT_BITS_PER_SEGMENT = 1 << 20  # 128 KiB / segment in the sandbox
DEFAULT_NUM_HASHES = 7


def _bit_positions(url: str, m: int, k: int) -> np.ndarray:
    d = hashlib.blake2b(url.encode("utf-8"), digest_size=16).digest()
    h1 = int.from_bytes(d[:8], "little")
    h2 = int.from_bytes(d[8:], "little") | 1
    return np.fromiter(((h1 + i * h2) % m for i in range(k)), dtype=np.int64, count=k)


class PartitionedSeenSet:
    """A URL-seen set split into ``num_partitions`` segment files per round
    directory; the shared skeleton of the bloom and cuckoo backends.

    * Routing: ``pid = pmod(url_hash, P)`` (JVM-side); partition ``pid``
      owns the segment file ``<segment_prefix>_<pid>.bin``.
    * Build (:meth:`update`, and the cuckoo backend's ``delete``): one
      ``groupBy(pid).applyInPandas`` pass in which each task reads only its
      segment from ``prev_dir``, applies its keys, and writes the segment to
      ``out_dir``; one ``collect`` returns the touched pids.  The driver then
      copies each untouched segment from ``prev_dir`` (an empty segment when
      there is none), so every round directory holds all P segments.
    * Probe (:meth:`flag_maybe_seen`): candidates grouped by pid; each task
      loads one segment and appends ``maybe_seen``.  No false negatives, so
      ``maybe_seen = false`` rows are definitely new.

    Subclasses supply only the segment format: ``_empty``, ``_load``,
    ``_write``, ``_insert`` and ``_contains``.
    """

    segment_prefix: str

    def __init__(self, num_partitions: int) -> None:
        self.num_partitions = num_partitions

    # ------------------------------------------------------ segment files
    def _path(self, root: str, pid: int) -> str:
        return os.path.join(root, f"{self.segment_prefix}_{pid:05d}.bin")

    def _read(self, root: str | None, pid: int):
        """Partition ``pid``'s segment under ``root``; empty when missing."""
        path = self._path(root, pid) if root else None
        return self._load(path) if path and os.path.exists(path) else self._empty()

    def _store(self, seg, root: str, pid: int) -> None:
        os.makedirs(root, exist_ok=True)
        path = self._path(root, pid)
        self._write(seg, path + ".tmp")
        os.replace(path + ".tmp", path)

    def _routed(self, df: DataFrame, hash_col: str) -> DataFrame:
        pid = F.pmod(F.col(hash_col), F.lit(self.num_partitions)).cast("int")
        return df.withColumn("_pid", pid)

    # ------------------------------------------------------------- build
    def _build(
        self,
        urls: DataFrame,
        prev_dir: str | None,
        out_dir: str,
        apply: Callable[[Any, pd.Series, int], int],
        url_col: str,
        hash_col: str,
    ) -> int:
        """``apply(segment, urls, pid)`` to each touched partition's segment
        from ``prev_dir`` and write all P segments to ``out_dir``.  Returns
        the number of partitions the keys touched."""

        def build(pdf: pd.DataFrame) -> pd.DataFrame:
            pid = int(pdf["_pid"].iloc[0])
            seg = self._read(prev_dir, pid)
            n = apply(seg, pdf[url_col], pid)
            self._store(seg, out_dir, pid)
            return pd.DataFrame({"pid": [pid], "n": [n]})

        written = self._routed(urls, hash_col).groupBy("_pid").applyInPandas(
            build, "pid int, n long"
        )
        touched = {r["pid"] for r in written.collect()}
        for pid in range(self.num_partitions):
            if pid not in touched:
                self._store(self._read(prev_dir, pid), out_dir, pid)
        return len(touched)

    def update(
        self,
        new_urls: DataFrame,
        prev_dir: str | None,
        out_dir: str,
        url_col: str = "canonical_url",
        hash_col: str = "url_hash",
    ) -> int:
        """Insert the new keys into ``prev_dir``'s segments; write ``out_dir``."""
        return self._build(new_urls, prev_dir, out_dir, self._insert, url_col, hash_col)

    # ------------------------------------------------------------- probe
    def flag_maybe_seen(
        self,
        candidates: DataFrame,
        segments_dir: str,
        url_col: str = "canonical_url",
        hash_col: str = "url_hash",
    ) -> DataFrame:
        """Append a ``maybe_seen`` boolean column (no false negatives)."""
        out_schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in candidates.schema.fields
        ) + ", maybe_seen boolean"

        def probe(pdf: pd.DataFrame) -> pd.DataFrame:
            seg = self._read(segments_dir, int(pdf["_pid"].iloc[0]))
            out = pdf.drop(columns=["_pid"]).copy()
            out["maybe_seen"] = [self._contains(seg, url) for url in pdf[url_col]]
            return out

        return self._routed(candidates, hash_col).groupBy("_pid").applyInPandas(
            probe, out_schema
        )


class BloomSeenSet(PartitionedSeenSet):
    """Bloom segments: ``bits_per_segment`` bits each, packed on disk."""

    segment_prefix = "segment"

    def __init__(
        self,
        num_partitions: int = DEFAULT_NUM_PARTITIONS,
        bits_per_segment: int = DEFAULT_BITS_PER_SEGMENT,
        num_hashes: int = DEFAULT_NUM_HASHES,
    ) -> None:
        super().__init__(num_partitions)
        self.bits = bits_per_segment
        self.k = num_hashes

    def _empty(self) -> np.ndarray:
        return np.zeros(self.bits, dtype=bool)

    def _load(self, path: str) -> np.ndarray:
        return np.unpackbits(np.fromfile(path, dtype=np.uint8))[: self.bits].astype(bool)

    def _write(self, bits: np.ndarray, path: str) -> None:
        np.packbits(bits.astype(np.uint8)).tofile(path)

    def _insert(self, bits: np.ndarray, urls: pd.Series, pid: int) -> int:
        for url in urls:
            bits[_bit_positions(url, self.bits, self.k)] = True
        return len(urls)

    def _contains(self, bits: np.ndarray, url: str) -> bool:
        return bool(bits[_bit_positions(url, self.bits, self.k)].all())
