"""Partitioned cuckoo-filter URL-seen set — the deletable alternative to
the bloom backend (north rule: "bloom/cuckoo URL-seen set").  Routing,
build and probe are :class:`bloom.PartitionedSeenSet`'s; this module holds
only the segment format.

Why cuckoo in addition to bloom: **deletion**.  A bloom bit can never be
cleared, so a crawl that wants recrawl/TTL semantics ("this URL's snapshot
expired — fetch it again") would have to rebuild the whole filter.  A
cuckoo filter stores per-key fingerprints in one of two candidate buckets
and can remove them, so ``delete`` is O(1) per key and the filter stays
exact about everything still inserted.

Exactness contract (same as bloom): NO FALSE NEGATIVES for inserted keys.
Cuckoo insertion can fail under load (eviction loop exceeds its bound);
a failed insert silently dropped would create a false negative and a
double-fetch.  Segments therefore carry an overflow STASH — fingerprints
that lost the eviction fight are appended to a side list that lookups also
consult — so membership stays no-false-negative at any load, degrading to
a tiny linear scan instead of losing keys.

Layout per segment file (little-endian):
  [4 bytes n_buckets][4 bytes stash_len][table uint16 (n_buckets x 4)]
  [stash entries: (uint32 bucket_index, uint16 fingerprint) ...]
"""

from __future__ import annotations

import hashlib
from typing import List, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .bloom import PartitionedSeenSet

SLOTS = 4
MAX_KICKS = 500
DEFAULT_NUM_PARTITIONS = 32
DEFAULT_BUCKETS_PER_SEGMENT = 1 << 14  # 16k buckets x 4 slots = 64k keys/segment


def _key_hashes(url: str, n_buckets: int) -> Tuple[int, int, int]:
    """(fingerprint, bucket1, bucket2) — blake2b-derived like the bloom
    positions, fingerprint forced nonzero (0 marks an empty slot).
    n_buckets must be a power of two so the XOR partner relation is a
    bijection (i == i1 ^ H(fp) works from either bucket)."""
    d = hashlib.blake2b(url.encode("utf-8"), digest_size=16).digest()
    fp = (int.from_bytes(d[:2], "little") % 0xFFFF) + 1  # 1..65535
    i1 = int.from_bytes(d[2:10], "little") % n_buckets
    i2 = (i1 ^ _fp_hash(fp)) % n_buckets
    return fp, i1, i2


def _fp_hash(fp: int) -> int:
    return int.from_bytes(
        hashlib.blake2b(fp.to_bytes(2, "little"), digest_size=8).digest(), "little"
    )


class _Segment:
    def __init__(self, n_buckets: int):
        self.n_buckets = n_buckets
        self.table = np.zeros((n_buckets, SLOTS), dtype=np.uint16)
        self.stash: List[Tuple[int, int]] = []

    # -- persistence -------------------------------------------------------
    @classmethod
    def load(cls, path: str, n_buckets: int) -> "_Segment":
        seg = cls(n_buckets)
        with open(path, "rb") as f:
            raw = f.read()
        nb = int.from_bytes(raw[0:4], "little")
        stash_len = int.from_bytes(raw[4:8], "little")
        seg.n_buckets = nb
        tbl_bytes = nb * SLOTS * 2
        seg.table = np.frombuffer(
            raw[8 : 8 + tbl_bytes], dtype=np.uint16
        ).reshape(nb, SLOTS).copy()
        off = 8 + tbl_bytes
        for _ in range(stash_len):
            b = int.from_bytes(raw[off : off + 4], "little")
            fp = int.from_bytes(raw[off + 4 : off + 6], "little")
            seg.stash.append((b, fp))
            off += 6
        return seg

    def store(self, path: str) -> None:
        with open(path, "wb") as f:
            f.write(self.n_buckets.to_bytes(4, "little"))
            f.write(len(self.stash).to_bytes(4, "little"))
            f.write(self.table.tobytes())
            for b, fp in self.stash:
                f.write(int(b).to_bytes(4, "little"))
                f.write(int(fp).to_bytes(2, "little"))

    # -- operations --------------------------------------------------------
    def _try_slot(self, bucket: int, fp: int) -> bool:
        row = self.table[bucket]
        empty = np.where(row == 0)[0]
        if len(empty):
            row[empty[0]] = fp
            return True
        return False

    def insert(self, url: str, rng: np.random.RandomState) -> None:
        """Multiset insert: always stores a copy even when the fingerprint
        already appears — dedup-on-insert plus delete would let deleting key
        A drop the only copy of a colliding key B (a false negative).  The
        crawl engine never inserts the same canonical URL twice (the exact
        anti-join guarantees it), so copies only arise from true fp
        collisions."""
        fp, i1, i2 = _key_hashes(url, self.n_buckets)
        if self._try_slot(i1, fp) or self._try_slot(i2, fp):
            return
        # eviction loop
        bucket = i1 if rng.randint(2) else i2
        cur_fp = fp
        for _ in range(MAX_KICKS):
            slot = rng.randint(SLOTS)
            cur_fp, self.table[bucket, slot] = (
                int(self.table[bucket, slot]),
                cur_fp,
            )
            bucket = (bucket ^ _fp_hash(cur_fp)) % self.n_buckets
            if self._try_slot(bucket, cur_fp):
                return
        # saturated: stash keeps the no-false-negative contract
        self.stash.append((bucket, cur_fp))

    def contains_fp(self, fp: int, i1: int, i2: int) -> bool:
        if fp in self.table[i1] or fp in self.table[i2]:
            return True
        # stash is consulted fp-only (conservative: can only add false
        # positives, never false negatives)
        return any(s_fp == fp for _b, s_fp in self.stash)

    def contains(self, url: str) -> bool:
        fp, i1, i2 = _key_hashes(url, self.n_buckets)
        return self.contains_fp(fp, i1, i2)

    def delete(self, url: str) -> bool:
        """Remove one copy of the url's fingerprint; True when found."""
        fp, i1, i2 = _key_hashes(url, self.n_buckets)
        for b in (i1, i2):
            hits = np.where(self.table[b] == fp)[0]
            if len(hits):
                self.table[b, hits[0]] = 0
                return True
        for idx, (_b, s_fp) in enumerate(self.stash):
            if s_fp == fp:
                del self.stash[idx]
                return True
        return False


class CuckooSeenSet(PartitionedSeenSet):
    """Drop-in alternative to BloomSeenSet with the same update/probe API
    plus ``delete`` (recrawl/TTL support)."""

    segment_prefix = "cuckoo"

    def __init__(
        self,
        num_partitions: int = DEFAULT_NUM_PARTITIONS,
        buckets_per_segment: int = DEFAULT_BUCKETS_PER_SEGMENT,
    ) -> None:
        if buckets_per_segment < 1 or buckets_per_segment & (buckets_per_segment - 1):
            # a hard error (not assert: must hold under python -O too) —
            # the XOR partner relation is only an involution at powers of 2
            raise ValueError(
                f"buckets_per_segment must be a power of two, got {buckets_per_segment}"
            )
        super().__init__(num_partitions)
        self.n_buckets = buckets_per_segment

    def _empty(self) -> _Segment:
        return _Segment(self.n_buckets)

    def _load(self, path: str) -> _Segment:
        return _Segment.load(path, self.n_buckets)

    def _write(self, seg: _Segment, path: str) -> None:
        seg.store(path)

    def _insert(self, seg: _Segment, urls: pd.Series, pid: int) -> int:
        rng = np.random.RandomState(pid * 7919 + 17)
        for url in urls:
            seg.insert(url, rng)
        return len(urls)

    def _delete(self, seg: _Segment, urls: pd.Series, pid: int) -> int:
        return sum(seg.delete(url) for url in urls)

    def _contains(self, seg: _Segment, url: str) -> bool:
        return seg.contains(url)

    def delete(
        self,
        urls: DataFrame,
        prev_dir: str,
        out_dir: str,
        url_col: str = "canonical_url",
        hash_col: str = "url_hash",
    ) -> int:
        """Remove urls (recrawl/TTL): deleted keys become definitely-new to
        the prefilter again — something a bloom filter cannot express."""
        return self._build(urls, prev_dir, out_dir, self._delete, url_col, hash_col)
