"""Mimic the driver's correctness harness: every queries() entry runs at
sf0.001 (fast) and, where an oracle exists, matches DuckDB row-for-row
(order-insensitive, column names sorted — the driver's comparison)."""

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def _normalize(v):
    if isinstance(v, float):
        return round(v, 6)
    return v


def _rows_to_set(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    # sort on repr keys: a total order even when a column carries NULLs
    # (None < int comparisons raise); equality below still uses ==, so
    # 5 == 5.0 keeps matching across engines. repr keys are
    # order-isomorphic across sides as long as each side's column type
    # is uniform — the dtype-kind check below pins exactly that.
    return sorted(
        (tuple(_normalize(row[i]) for i in idx) for row in rows),
        key=lambda t: tuple(repr(x) for x in t),
    )


@pytest.mark.parametrize("name", sorted(entry_mod.queries()))
def test_query_runs_and_matches_oracle(spark, duck, name):
    q = entry_mod.queries()[name]
    df = q(spark, SF_DIR)
    rows = df.collect()
    cols = df.columns
    assert rows is not None  # query executes

    sql = entry_mod.oracle_sql().get(name)
    if sql is None:
        return  # rows-only check
    want = duck.execute(sql).fetchall()
    want_cols = [d[0] for d in duck.execute(sql).description]
    assert sorted(cols) == sorted(want_cols), f"{name}: column names differ"
    assert len(rows) == len(want), f"{name}: row count {len(rows)} vs {len(want)}"
    got_n = _rows_to_set(cols, [[r[c] for c in cols] for r in rows])
    want_n = _rows_to_set(want_cols, want)
    assert got_n == want_n, f"{name}: values differ, e.g. {got_n[:2]} vs {want_n[:2]}"

    # Type-rendering parity: the driver hashes pandas-rendered values, so a
    # DuckDB HUGEINT (sum of BIGINT) surfacing as float64 vs Spark's int64
    # is a hash mismatch even when the Python values compare equal
    # (VERDICT r01: j2/f7/f14/sessionize). Compare dtype *kinds*.
    want_pd = duck.execute(sql).df()
    spark_kind = {}
    for f in df.schema.fields:
        t = f.dataType.simpleString()
        if t in ("bigint", "int", "smallint", "tinyint"):
            spark_kind[f.name] = "i"
        elif t in ("double", "float") or t.startswith("decimal"):
            spark_kind[f.name] = "f"
        else:
            spark_kind[f.name] = "O"
    for c in want_pd.columns:
        k = want_pd[c].dtype.kind
        duck_kind = "i" if k in "iu" else ("f" if k == "f" else "O")
        assert duck_kind == spark_kind[c], (
            f"{name}.{c}: oracle renders as {want_pd[c].dtype} but Spark type "
            f"kind is {spark_kind[c]!r} — driver hash would mismatch"
        )


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["word", "n"]


@pytest.mark.slow
def test_page_of_props_matches_json_path(spark):
    """Grammar probe for the regexp shortcut behind ``_page_of_props``: on
    every sf0.1 ``events`` row it must equal the real JSON-path parse
    ``get_json_object(props, '$.k')`` cast to long — NULLs included. A
    generator change to the single-key ``{"k": N}`` props grammar fails
    here instead of silently skewing the clickstream queries."""
    import os

    from pyspark.sql import functions as F

    sf01 = os.path.join(os.path.dirname(SF_DIR), "sf0.1")
    events = spark.read.parquet(f"{sf01}/events.parquet")
    probed = events.select(
        entry_mod._page_of_props().alias("fast"),
        F.get_json_object("props", "$.k").cast("long").alias("json"),
    )
    assert probed.count() > 0
    assert probed.filter(~F.col("fast").eqNullSafe(F.col("json"))).count() == 0
