"""Sharded cuckoo filter kernel: the deletion-capable URL-seen prefilter.

north_rule names "bloom/cuckoo" for the seen set. The bloom kernel
(operators/dedup.py) is the default — smaller and append-only. The cuckoo
filter (Fan et al., "Cuckoo Filter: Practically Better Than Bloom", 2014 —
public algorithm) supports DELETE, which a frontier needs for TTL /
eviction scenarios (re-crawl after expiry): remove the key, the URL
becomes admissible again, no rebuild.

This module holds only the per-shard numpy work. The sharded Spark
dataflow — build, insert/delete cogroup, broadcast-or-cogroup probe and
the exact ``left_anti`` confirm — is the one copy in operators/dedup.py,
which drives either kernel through the same ``CuckooParams`` /
``BloomParams`` interface (``EngineConfig.seen_filter`` picks the kind).

Per-shard layout: ``n_buckets × 4`` slots of 16-bit fingerprints
(0 = empty). Candidate buckets: i1 = h mod n_buckets,
i2 = i1 XOR (fp · 0x5bd1e995) mod n_buckets (the standard partial-key
cuckoo hashing, so i1 is recoverable from (i2, fp) and vice versa).
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import ClassVar

import numpy as np

_SLOTS = 4
_LOAD = 0.84  # target load factor
_MAX_KICKS = 500
_FP_MUL = np.uint64(0x5BD1E995)

# Sentinel token for kick-chain overflow. The epoch loop's recovery path
# (plans/epoch.py _advance_bloom) matches on THIS token in the Py4J-wrapped
# executor exception — never on prose wording, which could drift or appear
# coincidentally in an unrelated stack (ADVICE r03 low). Both sides import
# the constant and a test pins the link (tests/test_cuckoo.py).
CUCKOO_OVER_CAPACITY = "CUCKOO_OVER_CAPACITY"


@dataclass(frozen=True)
class CuckooParams:
    """Cuckoo sizing plus its per-shard kernel (see dedup.BloomParams for
    the interface the sharded dataflow drives)."""

    n_shards: int
    n_buckets: int  # per shard; power of two

    kind: ClassVar[str] = "cuckoo"
    payload: ClassVar[str] = "state"
    dtype: ClassVar[type] = np.uint16

    @staticmethod
    def bytes_per_key(fpp: float) -> float:
        """4 slots × 2 B per bucket at the target load, ~2.4 B/key. The
        16-bit fingerprint fixes the fpp (~8/2^16), so ``fpp`` is unused."""
        return 2 * _SLOTS / (_SLOTS * _LOAD)

    @staticmethod
    def size(expected_keys: int, fpp: float = 0.01, n_shards: int = 16) -> "CuckooParams":
        """Same call as ``BloomParams.size``; ``fpp`` is unused (see above)."""
        per_shard = max(64, expected_keys // max(1, n_shards))
        n_buckets = 1 << max(4, math.ceil(math.log2(per_shard / (_SLOTS * _LOAD))))
        return CuckooParams(n_shards=n_shards, n_buckets=n_buckets)

    @property
    def shape(self) -> tuple:
        return (self.n_buckets, _SLOTS)

    def insert(self, state: np.ndarray, url_hash: np.ndarray) -> None:
        """In-place insert (eviction loop per the cuckoo algorithm). Raises
        if the table is over capacity — sizing/rebuild policy prevents that."""
        fps, i1s, i2s = _fp_and_buckets(url_hash, self.n_buckets)
        for fp, i1, i2 in zip(fps, i1s, i2s):
            placed = False
            for b in (i1, i2):
                row = state[b]
                free = np.flatnonzero(row == 0)
                if len(free):
                    row[free[0]] = fp
                    placed = True
                    break
            if placed:
                continue
            b, f = int(i1), fp
            for _ in range(_MAX_KICKS):
                slot = int(np.random.RandomState(int(f) ^ b).randint(_SLOTS))
                f, state[b, slot] = state[b, slot], f
                b = int(_alt(np.array([b]), np.array([f], dtype=np.uint16), self.n_buckets)[0])
                row = state[b]
                free = np.flatnonzero(row == 0)
                if len(free):
                    row[free[0]] = f
                    break
            else:
                raise RuntimeError(
                    f"{CUCKOO_OVER_CAPACITY}: cuckoo filter over capacity — resize "
                    "(capacity policy should have rebuilt before this point)"
                )

    def delete(self, state: np.ndarray, url_hash: np.ndarray) -> int:
        """Remove one matching fingerprint per key; returns #removed."""
        fps, i1s, i2s = _fp_and_buckets(url_hash, self.n_buckets)
        removed = 0
        for fp, i1, i2 in zip(fps, i1s, i2s):
            for b in (i1, i2):
                hit = np.flatnonzero(state[b] == fp)
                if len(hit):
                    state[b, hit[0]] = 0
                    removed += 1
                    break
        return removed

    def contains(self, state: np.ndarray, url_hash: np.ndarray) -> np.ndarray:
        fps, i1s, i2s = _fp_and_buckets(url_hash, self.n_buckets)
        return ((state[i1s] == fps[:, None]).any(axis=1)) | (
            (state[i2s] == fps[:, None]).any(axis=1)
        )


def _mix(h: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer (same mixing discipline as the bloom layer)."""
    x = h.astype(np.uint64)
    x = x + np.uint64(0x9E3779B97F4A7C15)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _fp_and_buckets(url_hash: np.ndarray, n_buckets: int):
    u = _mix(url_hash.astype(np.int64))
    fp = ((u >> np.uint64(32)) & np.uint64(0xFFFF)).astype(np.uint16)
    fp = np.where(fp == 0, np.uint16(1), fp)  # 0 is the empty-slot marker
    mask = np.uint64(n_buckets - 1)
    i1 = (u & mask).astype(np.int64)
    i2 = (i1.astype(np.uint64) ^ (fp.astype(np.uint64) * _FP_MUL)) & mask
    return fp, i1, i2.astype(np.int64)


def _alt(bucket: np.ndarray, fp: np.ndarray, n_buckets: int) -> np.ndarray:
    mask = np.uint64(n_buckets - 1)
    return ((bucket.astype(np.uint64) ^ (fp.astype(np.uint64) * _FP_MUL)) & mask).astype(
        np.int64
    )
