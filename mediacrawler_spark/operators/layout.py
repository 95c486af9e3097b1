"""Z-order (Morton-curve) data layout assignment.

The multi-dimensional clustering step behind Delta/Iceberg
``OPTIMIZE ZORDER BY (a, b)``: quantize each clustering key to a fixed
number of bits, interleave the bits into a Morton code, and range-split
the code into output buckets. Files written in z-bucket order are
simultaneously clustered on BOTH keys, so min/max zone maps prune
two-dimensional range predicates — a sort on (a, b) alone clusters only
the leading key.

Everything is exact integer arithmetic (quantization uses one bigint
multiply + floor division against the broadcast min/max row), so the
assignment is bit-identical on any engine and any partitioning — the
property that lets the DuckDB oracle replay it and lets two independent
runs write byte-identical layouts (same contract as corpus.shard_assign).

Scale shape: ONE tiny min/max aggregate (single row, broadcast back via
cross join), then pure scan-side codegen column expressions — the
corpus itself never shuffles to get its assignment; the eventual write
is `repartitionByRange(z_bucket)`, the same one exchange any layout
rewrite pays.

Reference scope: the reference crawler has no layout optimizer; this is
a SURVEY §2 "beyond the reference" storage-layout primitive (the
seen-filter ptable clusters one key — url_hash — into shards; z-order is
the 2-D form).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _interleave(qa: Column, qb: Column, bits: int) -> Column:
    """Morton code: bit i of `qa` → bit 2i+1, bit i of `qb` → bit 2i.
    Built as a fixed sum of shift/mask terms — pure codegen, no UDF."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z
            + (F.shiftright(qa, i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i + 1)))
            + (F.shiftright(qb, i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i)))
        )
    return z


def zorder_assign(
    df: DataFrame,
    col_a: str,
    col_b: str,
    bits: int = 8,
    n_buckets: int = 64,
) -> DataFrame:
    """Assign every row a Morton z-value over (``col_a``, ``col_b``) and
    a range bucket ``z >> (2*bits - log2(n_buckets))``.

    Keys are quantized to ``bits`` bits by exact integer range scaling
    ``q = (v - min) * (2^bits - 1) div max(max - min, 1)`` (min/max from
    one broadcast single-row aggregate; a constant column quantizes to
    0 everywhere). ``n_buckets`` must be a power of two ≤ 4^bits.
    Output: the input columns plus ``z`` and ``z_bucket`` (both bigint).
    """
    n_buckets = int(n_buckets)
    bits = int(bits)
    if n_buckets & (n_buckets - 1) or not 0 < n_buckets <= 4**bits:
        raise ValueError("n_buckets must be a power of two <= 4^bits")
    shift = 2 * bits - (n_buckets.bit_length() - 1)
    mm = df.select(
        F.min(F.col(col_a)).cast("long").alias("_min_a"),
        F.max(F.col(col_a)).cast("long").alias("_max_a"),
        F.min(F.col(col_b)).cast("long").alias("_min_b"),
        F.max(F.col(col_b)).cast("long").alias("_max_b"),
    )
    top = (1 << bits) - 1

    def _q(col: str, lo: str, hi: str) -> Column:
        # bigint multiply + DIV keeps the scaling exact at ANY key range
        # (a double division would lose exactness past 2^53)
        return F.expr(
            f"CAST((CAST(`{col}` AS BIGINT) - {lo}) * {top} DIV "
            f"greatest({hi} - {lo}, CAST(1 AS BIGINT)) AS BIGINT)"
        )

    out = df.crossJoin(F.broadcast(mm))
    z = _interleave(
        _q(col_a, "_min_a", "_max_a"), _q(col_b, "_min_b", "_max_b"), bits
    )
    return out.withColumn("z", z.cast("bigint")).withColumn(
        "z_bucket", F.shiftright(F.col("z"), shift).cast("bigint")
    ).drop("_min_a", "_max_a", "_min_b", "_max_b")
