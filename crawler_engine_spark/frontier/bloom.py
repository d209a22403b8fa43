"""The partitioned Bloom URL-seen set.

Design (north rule: "bloom/cuckoo URL-seen set keyed by
xxhash64(canonical_url)" at 10^10-URL scale): the key space is
hash-partitioned and each partition owns one segment file, built and probed
executor-side.  A Bloom filter has no false negatives, so only the (small)
``maybe_seen = true`` subset of the candidates joins the exact seen-set
table to eliminate false positives.  That asymmetry is the whole point at
10^10: the expensive exact join sees a tiny fraction of the candidate
stream.  Expiry (recrawl/TTL) never clears bits: a stale ``maybe_seen``
only routes the URL through the exact anti-join.

Sizing math (documented design point): 10^10 keys / 4096 partitions ≈ 2.4M
keys/segment; at 10 bits/key ≈ 3 MB/segment, 12 GB total, fpr ≈ 0.8%.
Sandbox default: 32 partitions × 2^20 bits (128 KiB in memory) each.

On disk a segment is its packed bitmap, zlib-compressed.  A sparse filter
shrinks to a few hundred bytes per segment; one near its design fpr is about
half full and does not compress, so there the state is bounded by retention,
not by the encoding.

Bit positions use the Kirsch-Mitzenmacher double-hashing scheme over two
64-bit halves of ``blake2b(canonical_url)`` — computed in Python on both the
build and probe side, so no cross-language hash agreement is needed (the
xxhash64 column only routes rows to partitions).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_NUM_PARTITIONS = 32
DEFAULT_BITS_PER_SEGMENT = 1 << 20  # 128 KiB / segment in memory
NUM_HASHES = 7
ZLIB_LEVEL = 6


def _bit_positions(url: str, m: int) -> np.ndarray:
    d = hashlib.blake2b(url.encode("utf-8"), digest_size=16).digest()
    h1 = int.from_bytes(d[:8], "little")
    h2 = int.from_bytes(d[8:], "little") | 1
    return np.fromiter(
        ((h1 + i * h2) % m for i in range(NUM_HASHES)), dtype=np.int64, count=NUM_HASHES
    )


class BloomSeenSet:
    """A URL-seen set of ``num_partitions`` Bloom segments of
    ``bits_per_segment`` bits each, one zlib-compressed packed file per
    partition per round directory.  Rows carry ``canonical_url`` (the key)
    and ``url_hash`` (xxhash64 of it, for routing).

    * Routing: ``pid = pmod(url_hash, P)`` (JVM-side); partition ``pid``
      owns the segment file ``segment_<pid>.bin``.
    * Build (:meth:`update`): one ``groupBy(pid).applyInPandas`` pass in
      which each task reads only its segment from ``prev_dir``, inserts its
      keys, and writes the segment to ``out_dir``; one ``collect`` returns
      the touched pids.  The driver then copies each untouched segment file
      from ``prev_dir`` byte for byte (the empty segment when there is
      none), so every round directory holds all P segments.
    * Probe (:meth:`flag_maybe_seen`): candidates grouped by pid; each task
      loads one segment and appends ``maybe_seen``.  No false negatives, so
      ``maybe_seen = false`` rows are definitely new.
    """

    def __init__(self, num_partitions: int, bits_per_segment: int) -> None:
        self.num_partitions = num_partitions
        self.bits = bits_per_segment

    # ------------------------------------------------------ segment files
    def _path(self, root: str, pid: int) -> str:
        return os.path.join(root, f"segment_{pid:05d}.bin")

    def _read(self, root: str | None, pid: int) -> np.ndarray:
        """Partition ``pid``'s segment under ``root``; empty when missing."""
        path = self._path(root, pid) if root else None
        if path and os.path.exists(path):
            with open(path, "rb") as f:
                packed = np.frombuffer(zlib.decompress(f.read()), dtype=np.uint8)
            return np.unpackbits(packed)[: self.bits].astype(bool)
        return np.zeros(self.bits, dtype=bool)

    def _store(self, bits: np.ndarray, root: str, pid: int) -> None:
        self._put(zlib.compress(np.packbits(bits), ZLIB_LEVEL), root, pid)

    def _put(self, blob: bytes, root: str, pid: int) -> None:
        os.makedirs(root, exist_ok=True)
        path = self._path(root, pid)
        with open(path + ".tmp", "wb") as f:
            f.write(blob)
        os.replace(path + ".tmp", path)

    def _routed(self, df: DataFrame) -> DataFrame:
        pid = F.pmod(F.col("url_hash"), F.lit(self.num_partitions)).cast("int")
        return df.withColumn("_pid", pid)

    # ------------------------------------------------------------- build
    def update(self, new_urls: DataFrame, prev_dir: str | None, out_dir: str) -> int:
        """Insert the new keys into ``prev_dir``'s segments and write all P
        segments to ``out_dir``.  Returns the number of partitions the keys
        touched."""

        def build(pdf: pd.DataFrame) -> pd.DataFrame:
            pid = int(pdf["_pid"].iloc[0])
            bits = self._read(prev_dir, pid)
            for url in pdf["canonical_url"]:
                bits[_bit_positions(url, self.bits)] = True
            self._store(bits, out_dir, pid)
            return pd.DataFrame({"pid": [pid], "n": [len(pdf)]})

        written = self._routed(new_urls).groupBy("_pid").applyInPandas(
            build, "pid int, n long"
        )
        touched = {r["pid"] for r in written.collect()}
        empty = zlib.compress(np.packbits(np.zeros(self.bits, dtype=bool)), ZLIB_LEVEL)
        os.makedirs(out_dir, exist_ok=True)
        for pid in range(self.num_partitions):
            if pid in touched:
                continue
            src = self._path(prev_dir, pid) if prev_dir else None
            if src and os.path.exists(src):
                shutil.copyfile(src, self._path(out_dir, pid))
            else:
                self._put(empty, out_dir, pid)
        return len(touched)

    # ------------------------------------------------------------- probe
    def flag_maybe_seen(self, candidates: DataFrame, segments_dir: str) -> DataFrame:
        """Append a ``maybe_seen`` boolean column (no false negatives)."""
        out_schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in candidates.schema.fields
        ) + ", maybe_seen boolean"

        def probe(pdf: pd.DataFrame) -> pd.DataFrame:
            bits = self._read(segments_dir, int(pdf["_pid"].iloc[0]))
            out = pdf.drop(columns=["_pid"]).copy()
            out["maybe_seen"] = [
                bool(bits[_bit_positions(url, self.bits)].all())
                for url in pdf["canonical_url"]
            ]
            return out

        return self._routed(candidates).groupBy("_pid").applyInPandas(
            probe, out_schema
        )
