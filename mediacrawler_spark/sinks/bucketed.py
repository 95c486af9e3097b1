"""Bucketed parquet tables — pay the shuffle once at write time.

At 100 TB the dominant recurring cost of a join-heavy pipeline is
re-shuffling the same fact table on the same key every run (documents by
doc_id, seen by url_hash, comments by note_id). Spark's bucketed tables
fix the layout at write time instead: ``bucketBy(N, key)`` routes each
row to ``pmod(hash(key), N)`` inside every write task, and the catalog
records the bucket spec. A later equi-join (or aggregation) on the
bucket key between two tables bucketed with the SAME key and bucket
count reads co-located buckets directly — Catalyst drops BOTH Exchange
operators from the SortMergeJoin (plan-asserted in
tests/test_bucketed.py), so the join scales with scan bandwidth alone.
``sortBy(key)`` additionally pre-orders rows inside each bucket file so
the merge phase can skip its sort when one file per bucket is read.

This is the saveAsTable face of the engine's own co-location strategy:
the snapshot's seen-filter ptable keeps each ``pmod(url_hash, n_shards)``
shard in its own leaf dir, with the shard count pinned in the snapshot
(sinks/snapshot.py) — same idea, custom commit protocol. Use bucketed
tables when downstream consumers are plain SQL/DataFrame readers that
should inherit the layout through the catalog rather than through engine
code.

Bucket-count sizing at the 100 TB design point: target 128-512 MB of
parquet per bucket file per write task's output, i.e. N ≈ table_bytes /
(tasks × 256 MB), rounded to a power of two (as the filter's shard count
is) so doubling data doubles buckets without remixing keys across old
bucket boundaries more than necessary.

Environment note: the sandbox's in-memory catalog keeps bucket metadata
for the session only — on a real deployment the same calls write
through a persistent metastore (Hive/Glue/Unity) and the layout
survives across jobs, which is where the write-once/join-many payoff
actually accrues.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int,
    path: str | None = None,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as a parquet table bucketed by ``key`` into
    ``n_buckets`` buckets (optionally sorted within each bucket).

    ``path`` makes the table external (data at ``path``, metadata in the
    session catalog) — required in environments without a configured
    warehouse directory. Joins between tables written through this
    function with the same (key, n_buckets) run shuffle-free.
    """
    w = df.write.mode(mode).format("parquet").bucketBy(n_buckets, key)
    if sort:
        w = w.sortBy(key)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, key: str
) -> DataFrame:
    """Equi-join two same-spec bucketed tables on their bucket key.

    Reads through the catalog so Catalyst sees both bucket specs and
    plans the SortMergeJoin with zero Exchange operators. The caller is
    responsible for having written both sides with the same
    (key, n_buckets); mismatched specs still produce correct results,
    just with the usual shuffle re-inserted on the mismatched side.
    """
    return spark.table(left_table).join(spark.table(right_table), key)
