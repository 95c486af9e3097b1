"""Schema evolution on snapshot append tables (sinks/snapshot.py
stage_append / _read_dirs — the Iceberg add/drop-column
schema-evolution analog): every increment records its schema as
``_schema.json`` beside the data (metadata, not footer scans); reads
over increments that disagree align by name with nulls for missing
columns, so a column added mid-crawl surfaces as NULL on pre-evolution
rows, exactly like Iceberg. Renames/type changes are unsupported and
fail loudly. Replace tables need no machinery: each version is a full
rewrite, so read_at on an old version naturally returns its own schema.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from mediacrawler_spark.sinks.snapshot import SnapshotCatalog, TimeTravelError


def _cat(spark, tmp_path, name="se"):
    return SnapshotCatalog(spark, str(tmp_path / name))


def _jobs_in(spark, group, fn):
    """(fn(), number of Spark jobs fn issued) under a fresh job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def _commit_epochs(cat, spark):
    """Epochs 0-1 write (id), epoch 2 adds a `lang` column."""
    for ep in (0, 1):
        cat.stage_append(spark.createDataFrame([(ep,)], ["id"]), "log", ep)
        cat.commit(ep)
    cat.stage_append(
        spark.createDataFrame([(2, "en")], ["id", "lang"]), "log", 2
    )
    cat.commit(2)


def test_added_column_reads_null_on_old_rows(spark, tmp_path):
    cat = _cat(spark, tmp_path)
    _commit_epochs(cat, spark)
    df = cat.read("log")
    assert sorted(df.columns) == ["id", "lang"]
    rows = {r["id"]: r["lang"] for r in df.collect()}
    assert rows == {0: None, 1: None, 2: "en"}
    # dropped-column increments align the same way (epoch 3 drops lang)
    cat.stage_append(spark.createDataFrame([(3,)], ["id"]), "log", 3)
    cat.commit(3)
    rows = {r["id"]: r["lang"] for r in cat.read("log").collect()}
    assert rows == {0: None, 1: None, 2: "en", 3: None}
    # a reopened catalog (fresh pin cache) sees the same union schema
    rows2 = {
        r["id"]: r["lang"]
        for r in SnapshotCatalog(spark, cat.root).read("log").collect()
    }
    assert rows2 == rows


def test_uniform_schema_stays_plain_read(spark, tmp_path):
    """The fast path: agreeing increments produce the exact plain
    multi-dir scan (one Scan parquet node, no Union in the plan)."""
    cat = _cat(spark, tmp_path)
    for ep in range(3):
        cat.stage_append(spark.createDataFrame([(ep,)], ["id"]), "log", ep)
        cat.commit(ep)
    plan = cat.read("log")._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan
    assert cat.read("log").count() == 3


def test_time_travel_sees_epoch_local_schema(spark, tmp_path):
    """read_at before the evolution returns the OLD schema (its pins
    only cover agreeing increments); at/after it, the union schema."""
    cat = _cat(spark, tmp_path)
    _commit_epochs(cat, spark)
    assert cat.read_at("log", 1).columns == ["id"]
    assert sorted(cat.read_at("log", 2).columns) == ["id", "lang"]
    # incremental scan of just the evolved window reads the new schema
    inc = cat.read_appends_since("log", 1)
    assert sorted(inc.columns) == ["id", "lang"]
    assert inc.collect()[0]["id"] == 2


def test_changelog_aligns_evolved_replace_schemas(spark, tmp_path):
    """Generic changelog path: a replace table whose schema gained a
    column between the two epochs diffs on the name-union with typed
    nulls (pre-evolution rows read NULL for the added column)."""
    cat = _cat(spark, tmp_path)
    cat.stage(spark.createDataFrame([(1,), (2,)], ["id"]), "state")
    cat.commit(0)
    cat.stage(
        spark.createDataFrame([(2, None), (3, "en")], "id long, lang string"),
        "state",
    )
    cat.commit(1)
    ch = cat.changelog("state", 0, 1)
    got = {(r["id"], r["lang"], r["_change_type"]) for r in ch.collect()}
    assert got == {
        (1, None, "delete"),
        (3, "en", "insert"),
        # id=2 changed representation: (2) -> (2, NULL) is identical
        # after alignment, so it must NOT appear in the diff
    }


def test_compaction_preserves_union_schema(spark, tmp_path):
    """Size-tiered compaction over evolved increments writes the merged
    dir with the union schema (and its own _schema.json), so evolution
    survives rewrite_data_files."""
    cat = _cat(spark, tmp_path)
    for ep in range(5):
        cat.stage_append(spark.createDataFrame([(ep,)], ["id"]), "log", ep)
        cat.commit(ep)
    cat.stage_append(
        spark.createDataFrame([(5, "en")], ["id", "lang"]), "log", 5
    )
    cat.commit(5)
    assert cat.compact_appends("log", max_dirs=2)
    merged = [
        lab for lab in cat._appends["log"] if str(lab).startswith("c")
    ]
    assert merged
    schema_file = os.path.join(cat.root, "log", f"e={merged[0]}", "_schema.json")
    names = [f["name"] for f in json.load(open(schema_file))["fields"]]
    assert sorted(names) == ["id", "lang"]
    rows = {r["id"]: r["lang"] for r in cat.read("log").collect()}
    assert rows == {0: None, 1: None, 2: None, 3: None, 4: None, 5: "en"}
    assert cat.fsck() == []


def test_legacy_dirs_without_schema_file_keep_plain_read(spark, tmp_path):
    """Increments written before this feature have no _schema.json;
    reads over them behave exactly as before (plain multi-dir scan with
    schema inference, a job at read time) — alone, or next to recorded
    increments of the same schema."""
    cat = _cat(spark, tmp_path)
    for ep in range(2):
        cat.stage_append(spark.createDataFrame([(ep,)], ["id"]), "log", ep)
        cat.commit(ep)
        os.remove(os.path.join(cat.root, "log", f"e={ep}", "_schema.json"))
    df, jobs = _jobs_in(spark, "legacy", lambda: cat.read("log"))
    assert jobs >= 1
    assert df.columns == ["id"] and df.count() == 2
    cat.stage_append(spark.createDataFrame([(2,)], ["id"]), "log", 2)
    cat.commit(2)
    mixed, jobs = _jobs_in(spark, "legacy-mixed", lambda: cat.read("log"))
    assert jobs >= 1
    assert mixed.columns == ["id"] and _rows(mixed) == [(0,), (1,), (2,)]
    assert "Union" not in mixed._jdf.queryExecution().executedPlan().toString()


def test_type_conflict_fails_loudly(spark, tmp_path):
    """Same-name type change is NOT silent: the union raises instead of
    guessing a cast (rename/retype evolution is out of scope)."""
    cat = _cat(spark, tmp_path)
    cat.stage_append(spark.createDataFrame([(1, 7)], ["id", "v"]), "log", 0)
    cat.commit(0)
    cat.stage_append(spark.createDataFrame([(2, "x")], ["id", "v"]), "log", 1)
    cat.commit(1)
    with pytest.raises(Exception, match="[Uu]nion|[Cc]ast|incompatible|INCOMPATIBLE"):
        cat.read("log").collect()


def test_recorded_schema_reads_are_pinned_and_equal_inferred(spark, tmp_path):
    """Every dir the catalog writes records its schema, and a read of
    dirs that all agree passes it to the reader: no schema-inference job
    at read time, and the same schema (Spark makes a user schema
    nullable, as inference does) and rows as the inferred read. Covers a
    replace version, an append dir, a compacted dir, and ptable leaves
    drawn from two versions."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("tags", T.ArrayType(T.StringType(), False), False),
        T.StructField("s", T.StructType([T.StructField("a", T.IntegerType(), False)]), True),
    ])

    def frame(lo, hi):
        return spark.createDataFrame(
            [(i, [f"t{i}"], (i * 2,) if i % 3 else None) for i in range(lo, hi)], schema
        )

    cat = _cat(spark, tmp_path)
    cat.stage(frame(0, 5), "state")
    for ep in range(3):
        cat.stage_append(frame(10 * ep, 10 * ep + 4), "log", ep)
    cat.stage_parts(
        frame(0, 40).withColumn("_part", F.pmod("id", F.lit(4)).cast("int")), "pt", 4,
        [0, 1, 2, 3],
    )
    cat.commit(0)
    cat.stage_append(frame(100, 104), "clog", 0)
    cat.stage_parts(
        frame(40, 60).withColumn("_part", F.pmod("id", F.lit(4)).cast("int"))
        .where("_part < 2"),
        "pt", 4, [0, 1],
    )
    cat.commit(1)
    for ep in (2, 3):
        cat.stage_append(frame(100 * ep, 100 * ep + 4), "clog", ep)
        cat.commit(ep)
    assert cat.compact_appends("clog", max_dirs=2)
    assert len({int(v) for v in cat.ptable_meta("pt")["parts"].values()}) == 2

    head = cat.last_commit()
    for table in ("state", "log", "clog", "pt"):
        pinned, jobs = _jobs_in(spark, f"pinned-{table}", lambda: cat.read(table))
        assert jobs == 0, (table, jobs)
        inferred = spark.read.parquet(*cat._pin_paths(table, cat._rec_pins(head, table)))
        assert pinned.schema == inferred.schema, table
        assert _rows(pinned) == _rows(inferred), table

