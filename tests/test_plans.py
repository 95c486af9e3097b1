"""Physical-plan assertions: the optimizations we rely on at 100 TB must
actually appear in the plan — broadcast joins for dims/robots, parquet
filter pushdown, column pruning, whole-stage codegen."""

from pyspark.sql import functions as F

from mediacrawler_spark.operators.politeness import apply_robots
from mediacrawler_spark.schemas import FRONTIER_SCHEMA

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_robots_gate_broadcasts(spark):
    frontier = spark.createDataFrame([], FRONTIER_SCHEMA)
    robots = spark.createDataFrame(
        [("a", "/", True, 1.0, 4_000_000_000)],
        "host string, path_prefix string, allow boolean, crawl_delay double, expires_at long",
    )
    plan = _plan(apply_robots(frontier, robots, 0))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_dim_join_broadcasts(spark):
    import __spark_entry__ as e

    plan = _plan(e.queries()["j2_broadcast_dim_join"](spark, SF))
    assert "BroadcastHashJoin" in plan


def test_parquet_filter_pushdown_and_pruning(spark):
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .filter(F.col("l_orderkey") == 42)
        .select("l_orderkey", "l_quantity")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_orderkey), EqualTo(l_orderkey,42)]" in plan
    # column pruning: ReadSchema carries only the 2 projected columns
    assert "l_extendedprice" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_wordcount_plan_shape(spark):
    """Top-k word count must be: pruned scan → partial agg (map-side
    combine) → single exchange → final agg → TakeOrderedAndProject (top-k
    without a global sort)."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["a1_wordcount_top20"](spark, SF))
    assert "ReadSchema: struct<text:string>" in plan  # column pruning
    assert "partial_count" in plan  # map-side combine
    assert "TakeOrderedAndProject" in plan  # top-k, not global sort
    assert plan.count("Exchange") <= 2  # one shuffle (+AQE reads)


def test_cosine_topk_broadcasts_queries(spark):
    import __spark_entry__ as e

    plan = _plan(e.queries()["sim_cosine_topk"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_text_query_scans_prune_columns(spark):
    """The corpus text queries must reach the parquet scan with ONLY the
    columns they project (a quality/stats scan reading the whole
    documents schema is wrong at 100 TB)."""
    import __spark_entry__ as entry

    for name in ("txt_quality", "txt_stats", "txt_fingerprint"):
        plan = _plan(entry.queries()[name](spark, SF))
        read = plan.split("ReadSchema")[1].splitlines()[0]
        assert "doc_id" in read and "text" in read, (name, read)
        # full schema also carries lang/source/n_chars — none may be read
        for col in ("lang", "source", "n_chars"):
            assert col not in read, (name, col, read)


def test_epoch_job_count_bounded_and_flat(spark, udfs, tmp_path):
    """Scheduler round-trips are the per-epoch fixed cost at the
    10^4-epoch design point: the number of Spark jobs one epoch issues
    must be BOUNDED and must not grow with the epoch index (a lazy-plan
    leak or a per-epoch re-scan of history shows up here first).
    Measured 27-37 jobs/epoch on this universe (writes, persist,
    filter-shard collect, footer-free counts and schema-pinned snapshot
    reads keep it flat; the merge-on-read frontier only appends between
    folds); the bound keeps the 13-job slack above that."""
    import tempfile

    from mediacrawler_spark.plans.epoch import CrawlEngine, EngineConfig
    from mediacrawler_spark.sinks.snapshot import SnapshotCatalog

    sc = spark.sparkContext
    eng = CrawlEngine(
        spark,
        SnapshotCatalog(spark, str(tmp_path / "snap_jobs")),
        udfs["pages"], udfs["robots"], udfs["politeness"],
        EngineConfig(max_comments_per_note=25),
    )
    counts = []
    for k in range(7):
        sc.setJobGroup(f"epoch{k}", f"epoch {k}")
        st = eng.run(udfs["seeds"] if k == 0 else None, max_epochs=1)
        counts.append(len(sc.statusTracker().getJobIdsForGroup(f"epoch{k}")))
        e = st.epochs[-1]
        if e.fetched == 0 and e.admitted == 0 and e.emitted == 0:
            break
    sc.setJobGroup(None, None)
    assert max(counts) <= 50, counts
    # flat: later epochs issue no more jobs than early ones (+ slack)
    assert counts[-1] <= counts[1] + 8, counts
