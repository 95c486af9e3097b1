"""URL-seen dedup: sharded filter prefilter + exact anti-join (SURVEY J1).

The reference checks seen-ness with a SELECT-by-business-key before every
INSERT (store/xhs/xhs_store_impl.py:127-133, store/xhs/xhs_store_sql.py:23-37)
— one DB round-trip per record. At a 10^10-URL frontier that is the design
bottleneck, so the engine replaces it with:

1. a **sharded filter** over ``xxhash64(canonical_url)``: shard =
   ``pmod(url_hash, n_shards)``, one ``(shard int, <payload> binary)`` row
   per non-empty shard, built and updated executor-side (``applyInPandas``
   / shard-keyed cogroup) and persisted in the snapshot as the ``bloom``
   table — the snapshot's name for either filter kind;
2. a vectorized **probe** that splits candidates into *definitely-new*
   (bypass the join) and *maybe-seen*: small filters are broadcast,
   large ones cogroup-routed one shard per task;
3. an exact ``left_anti`` join of only the maybe-seen slice against the
   ``seen`` table — the filter is a prefilter ONLY; correctness is exact
   per north_rule ("URL-seen set must match").

This module holds the only copy of that dataflow. The per-shard numpy
work is a kernel carried by the params dataclass: :class:`BloomParams`
(default, append-only) or ``cuckoo.CuckooParams`` (supports DELETE for
TTL/eviction). A kernel declares its ``kind``, ``payload`` column name,
state ``dtype``/``shape`` (a shard's state is one numpy array, persisted
as its raw bytes), ``insert``/``contains`` (+ ``delete`` for cuckoo),
``bytes_per_key(fpp)`` and ``size(keys, fpp, n_shards)``; its dataclass
fields plus ``kind`` are its commit meta.

Sizing: 10^10 keys at 1% fpp ≈ 9.6 bits/key ≈ 12 GB of bitmap → ≥64 shards
of ≤200 MB, each shard fitting comfortably in executor memory. In the
sandbox the same code runs with small shards.

Bloom hashing uses Kirsch–Mitzenmacher double hashing derived from the
64-bit key itself (h1 = low32, h2 = high32|1), so the probe needs no
additional hash passes over the URL string.
"""

from __future__ import annotations

import math
from dataclasses import asdict, dataclass, fields
from typing import ClassVar

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# CUCKOO_OVER_CAPACITY is re-exported: the engine's insert recovery matches it
from mediacrawler_spark.operators.cuckoo import CUCKOO_OVER_CAPACITY, CuckooParams  # noqa: F401


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — makes the filter distribution-robust even if
    keys are not already uniform (url_hash is xxhash64, but don't rely on it)."""
    x = x.astype(np.uint64)
    x = (x + np.uint64(0x9E3779B97F4A7C15))
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _positions(url_hash: np.ndarray, k: int, m_bits: int) -> np.ndarray:
    """(n, k) bit positions via Kirsch–Mitzenmacher double hashing."""
    u = _mix64(url_hash.astype(np.int64))
    h1 = (u & np.uint64(0xFFFFFFFF)).astype(np.uint64)
    h2 = ((u >> np.uint64(32)) | np.uint64(1)).astype(np.uint64)
    i = np.arange(k, dtype=np.uint64)
    return ((h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(m_bits)).astype(
        np.int64
    )


@dataclass(frozen=True)
class BloomParams:
    """Bloom sizing plus its per-shard kernel (state: one bitmap)."""

    n_shards: int
    m_bits: int  # bits per shard
    k: int

    kind: ClassVar[str] = "bloom"
    payload: ClassVar[str] = "bitmap"
    dtype: ClassVar[type] = np.uint8

    @staticmethod
    def bytes_per_key(fpp: float) -> float:
        return -math.log(fpp) / (math.log(2) ** 2) / 8.0

    @staticmethod
    def size(expected_keys: int, fpp: float = 0.01, n_shards: int = 16) -> "BloomParams":
        per_shard = max(1024, expected_keys // max(1, n_shards))
        m = max(8 * 64, int(-per_shard * math.log(fpp) / (math.log(2) ** 2)))
        m = ((m + 63) // 64) * 64  # byte/word align
        k = max(1, round(m / per_shard * math.log(2)))
        return BloomParams(n_shards=n_shards, m_bits=m, k=min(k, 16))

    @property
    def shape(self) -> tuple:
        return (self.m_bits // 8,)

    def insert(self, state: np.ndarray, url_hash: np.ndarray) -> None:
        pos = _positions(url_hash, self.k, self.m_bits)
        np.bitwise_or.at(state, pos >> 3, (1 << (pos & 7)).astype(np.uint8))

    def contains(self, state: np.ndarray, url_hash: np.ndarray) -> np.ndarray:
        """(n,) bool: all k bits set."""
        pos = _positions(url_hash, self.k, self.m_bits)
        return ((state[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1).all(axis=1)


#: ``EngineConfig.seen_filter`` / commit-meta ``kind`` → kernel
SEEN_FILTERS = {p.kind: p for p in (BloomParams, CuckooParams)}


def filter_meta(params) -> dict:
    """Commit-meta sizing keys of a filter: ``kind`` plus its fields."""
    return {"kind": params.kind, **asdict(params)}


def filter_params_from_meta(meta: dict):
    """Inverse of :func:`filter_meta`; snapshots predating ``kind`` are bloom."""
    cls = SEEN_FILTERS[meta.get("kind", "bloom")]
    return cls(**{f.name: int(meta[f.name]) for f in fields(cls)})


def filter_schema(params) -> str:
    return f"shard int, {params.payload} binary"


def _load(params, b: bytes) -> np.ndarray:
    """Read-only view of one persisted shard state."""
    return np.frombuffer(b, dtype=params.dtype).reshape(params.shape)


def _sharded(keys: DataFrame, params, name: str = "shard") -> DataFrame:
    return keys.withColumn(
        name, F.pmod(F.col("url_hash"), F.lit(params.n_shards)).cast("int")
    )


def build_bloom_table(keys: DataFrame, params) -> DataFrame:
    """Distributed filter build → DataFrame(shard int, <payload> binary).

    ``bloom`` is the snapshot's name for either filter kind: ``params`` is
    a :class:`BloomParams` or ``CuckooParams``. Nothing is collected to the
    Spark driver; empty shards have no row (the probe treats a missing shard as
    all-absent).
    """

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        state = np.zeros(params.shape, dtype=params.dtype)
        params.insert(state, pdf["url_hash"].to_numpy(np.int64))
        return pd.DataFrame(
            {"shard": [int(pdf["shard"].iloc[0])], params.payload: [state.tobytes()]}
        )

    return (
        _sharded(keys.select("url_hash"), params)
        .groupBy("shard")
        .applyInPandas(build, schema=filter_schema(params))
    )


def update_filter(
    table: DataFrame, keys: DataFrame, params, op: str = "insert"
) -> DataFrame:
    """Insert (or, cuckoo only, ``op="delete"``) ``keys`` into the shards
    of ``table`` — the per-epoch incremental maintenance.

    One shard-keyed cogroup of the old shard rows with the raw keys, so
    each task rewrites exactly one shard: O(delta) kernel work plus one
    O(shard_bytes) state rewrite per touched shard, never O(|seen|). A
    bloom insert sets bits (idempotent, order-free), so the result is
    byte-identical to a full build over the union. Returns one row per
    shard present on either side; pass only the dirty shards of ``table``
    to rewrite only those.
    """
    apply = getattr(params, op)  # bloom has no delete: fails before any task runs

    def merge(key, old: pd.DataFrame, ks: pd.DataFrame) -> pd.DataFrame:
        state = (
            _load(params, old[params.payload].iloc[0]).copy()
            if len(old)
            else np.zeros(params.shape, dtype=params.dtype)
        )
        if len(ks):
            apply(state, ks["url_hash"].to_numpy(np.int64))
        return pd.DataFrame({"shard": [int(key[0])], params.payload: [state.tobytes()]})

    return (
        table.groupBy("shard")
        .cogroup(_sharded(keys.select("url_hash"), params).groupBy("shard"))
        .applyInPandas(merge, schema=filter_schema(params))
    )


def probe_filter(
    candidates: DataFrame,
    table: DataFrame,
    params,
    broadcast_max_bytes: int = 32 << 20,
) -> DataFrame:
    """``candidates`` + ``_maybe_seen`` boolean (false ⇒ definitely new).

    Picks the strategy by total filter bytes: a small filter is collected
    and broadcast (scalar pandas UDF, zero shuffle on candidates); a large
    one is cogroup-probed shard-wise — candidates co-partitioned by shard,
    one shard state per task, the only strategy that survives a 12 GB
    filter on a 1000-executor cluster. Verdicts are identical either way.
    """
    n_shards, payload = params.n_shards, params.payload
    shard_bytes = math.prod(params.shape) * np.dtype(params.dtype).itemsize
    if n_shards * shard_bytes <= broadcast_max_bytes:
        shards = {int(r["shard"]): _load(params, r[payload]) for r in table.collect()}
        bc = candidates.sparkSession.sparkContext.broadcast(shards)

        @F.pandas_udf(T.BooleanType())
        def maybe_seen(url_hash: pd.Series) -> pd.Series:
            h = url_hash.to_numpy(np.int64)
            sid = np.mod(h, n_shards)  # pmod semantics for a positive divisor
            out = np.zeros(len(h), dtype=bool)
            for s in np.unique(sid):
                state = bc.value.get(int(s))
                if state is not None:  # missing shard → nothing seen there
                    m = sid == s
                    out[m] = params.contains(state, h[m])
            return pd.Series(out)

        return candidates.withColumn("_maybe_seen", maybe_seen(F.col("url_hash")))

    cols = list(candidates.columns)
    out_schema = T.StructType(
        list(candidates.schema.fields) + [T.StructField("_maybe_seen", T.BooleanType())]
    )

    def probe(key, cand: pd.DataFrame, shard: pd.DataFrame) -> pd.DataFrame:
        res = cand[cols].copy() if len(cand) else pd.DataFrame(columns=cols)
        res["_maybe_seen"] = (
            params.contains(
                _load(params, shard[payload].iloc[0]), cand["url_hash"].to_numpy(np.int64)
            )
            if len(cand) and len(shard)
            else np.zeros(len(cand), dtype=bool)
        )
        return res

    return (
        _sharded(candidates, params, "_shard")
        .groupBy("_shard")
        .cogroup(table.groupBy("shard"))
        .applyInPandas(probe, schema=out_schema)
    )


def dedup_against_seen_bloom(
    candidates: DataFrame,
    seen: DataFrame,
    bloom_table: DataFrame,
    params,
    broadcast_max_bytes: int = 32 << 20,
) -> DataFrame:
    """Rows of ``candidates`` whose url_hash is NOT in ``seen`` — exactly.

    ``bloom_table``/``params`` are the persisted filter of either kind
    (``bloom`` is the snapshot's name for both). The filter splits the
    work: definitely-new rows skip the shuffle join entirely; only
    maybe-seen rows (true dups + false positives) pay the exact
    ``left_anti``, so correctness never depends on the filter. Probe
    strategy: :func:`probe_filter`.
    """
    probed = probe_filter(candidates, bloom_table, params, broadcast_max_bytes)
    definitely_new = probed.filter(~F.col("_maybe_seen")).drop("_maybe_seen")
    maybe = probed.filter(F.col("_maybe_seen")).drop("_maybe_seen")
    confirmed_new = maybe.join(seen.select("url_hash"), on="url_hash", how="left_anti")
    return definitely_new.unionByName(confirmed_new)


def _within_batch_exprs(cols: tuple) -> dict:
    """Static Column trees of :func:`dedup_within_batch` for one column
    layout, built once per session (functions/exprcache.py) — rebuilding
    the pack/unpack lists every epoch was ~500 py4j round-trips."""
    lead = ["priority", "seq", "url"]
    rest = [c for c in cols if c not in lead]
    return {
        "packed": F.struct(*[F.col(c) for c in lead], *[F.col(c) for c in rest]),
        "unpack": [F.col(f"r.{c}").alias(c) for c in cols if c != "url_hash"],
        "out": list(cols),
    }


def dedup_within_batch(candidates: DataFrame) -> DataFrame:
    """Deterministic intra-batch dedup: keep the (priority, seq, url)-minimal
    row per url_hash. The reference never enqueues the same URL twice within
    a run because its loops are sequential; the distributed engine must pick
    a deterministic winner instead of dropDuplicates' arbitrary one.

    Implemented as ``min(struct(ordering keys, rest...))`` — the struct
    comparator short-circuits on the leading keys, measured ~8× faster than
    ``min_by(struct(all), key)`` at 2M rows."""
    from mediacrawler_spark.functions.exprcache import cached_exprs

    d = cached_exprs(_within_batch_exprs, tuple(candidates.columns))
    # project the GROUP KEY itself (not r.url_hash): keeps Catalyst's
    # partitioning knowledge alive so the downstream anti-join on url_hash
    # reuses this exchange instead of re-shuffling the whole admitted set
    return (
        candidates.groupBy("url_hash")
        .agg(F.min(d["packed"]).alias("r"))
        .select("url_hash", *d["unpack"])
        .select(*d["out"])
    )
