"""Physical-plan assertions: the optimizations we rely on at 100 TB must
actually appear in the plan — broadcast joins for dims/robots, parquet
filter pushdown, column pruning, whole-stage codegen."""

import pytest
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
    Measured 22/35/35/35/35/35/35 jobs over epochs 0-6 on this universe
    (27/37 before the batch and winner-set counts left the epoch), the
    same with the epoch's writes overlapped on pool threads as issued
    one after another (writes, persist, filter-shard collect, footer-free
    counts and schema-pinned snapshot reads keep it flat; the
    merge-on-read frontier only appends between folds); the bound keeps
    a 5-job slack above that."""
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
    assert max(counts) <= 40, counts
    # flat: later epochs issue no more jobs than early ones (+ slack)
    assert counts[-1] <= counts[1] + 8, counts


# ------------------------------------- the overlapped post-fetch writes ----
def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _all_job_ids(sc) -> set[int]:
    """Every job the status store knows, whatever its group — after the
    listener bus has delivered every event posted so far."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    return {jobs.apply(i).jobId() for i in range(jobs.size())}


@pytest.fixture(scope="module")
def overlap_crawl(spark, udfs, tmp_path_factory):
    """Three epochs, one ``run(max_epochs=1)`` each under its own job
    group, on a catalog that records the plans of the span_rows and
    candidates writes. Returns the engine, the plans, and per epoch the
    job ids the run started vs those its job group holds."""
    from mediacrawler_spark.plans.epoch import CrawlEngine, EngineConfig
    from mediacrawler_spark.sinks.snapshot import SnapshotCatalog

    class PlanCatalog(SnapshotCatalog):
        def __init__(self, spark, root):
            super().__init__(spark, root)
            self.plans: dict = {}

        def stage_append(self, df, table, epoch):
            if table == "span_rows":
                self.plans[(table, epoch)] = _executed(df)
            super().stage_append(df, table, epoch)

        def stage(self, df, table):
            if table == "candidates":
                self.plans[(table, self.committed_epoch() + 1)] = _executed(df)
            super().stage(df, table)

    sc = spark.sparkContext
    cat = PlanCatalog(spark, str(tmp_path_factory.mktemp("overlap") / "cat"))
    eng = CrawlEngine(
        spark, cat, udfs["pages"], udfs["robots"], udfs["politeness"],
        EngineConfig(max_comments_per_note=25),
    )
    jobs = []
    for k in range(3):
        before = _all_job_ids(sc)
        sc.setJobGroup(f"overlap{k}", f"overlap epoch {k}")
        try:
            eng.run(udfs["seeds"] if k == 0 else None, max_epochs=1)
        finally:
            sc.setJobGroup(None, None)
        started = _all_job_ids(sc) - before
        jobs.append((started, set(sc.statusTracker().getJobIdsForGroup(f"overlap{k}"))))
    assert cat.committed_epoch() == 2
    return {"eng": eng, "plans": cat.plans, "jobs": jobs}


def test_every_epoch_job_lands_in_callers_job_group(overlap_crawl):
    """The post-fetch writes run on pool threads; each is wrapped with
    ``inheritable_thread_target``, so every job an epoch starts carries
    the caller's job group (a worker without it would start jobs in no
    group, or in a stale one)."""
    for started, grouped in overlap_crawl["jobs"]:
        assert started, "the epoch started no job"
        assert started == grouped, (sorted(started - grouped), sorted(grouped - started))


def test_post_fetch_writes_scan_fetched_once(overlap_crawl):
    """Span extraction and successor emission are one projection each
    over the fetched rows: the plan of each write holds exactly one
    parquet scan (of this epoch's ``fetched`` increment) and no Union."""
    plans = overlap_crawl["plans"]
    assert sorted(plans) == sorted(
        (t, e) for t in ("span_rows", "candidates") for e in range(3)
    )
    for (table, epoch), plan in plans.items():
        assert plan.count("FileScan") == 1, (table, epoch, plan)
        assert "FileScan parquet" in plan and f"/fetched/e={epoch}" in plan, (table, plan)
        assert "Union" not in plan, (table, epoch, plan)


def test_multi_increment_fetched_read_is_one_scan(spark, overlap_crawl):
    """The epoch-0 ``fetched`` increment (seed-born rows) records its
    columns in another order than later increments; the recorded schemas
    still agree by name and type, so the frontier's delete-log read over
    epochs 0-2 is one parquet scan, with the rows of the per-dir reads."""
    from functools import reduce

    cat = overlap_crawl["eng"].catalog
    log = overlap_crawl["eng"]._frontier_fold()["log"]
    assert log == [0, 1, 2]
    df = cat.read_increments("fetched", log)
    plan = _executed(df)
    assert plan.count("FileScan") == 1 and "Union" not in plan, plan
    per_dir = reduce(
        lambda a, b: a.unionByName(b), [cat.read_increments("fetched", [e]) for e in log]
    )
    assert df.columns == per_dir.columns
    assert df.exceptAll(per_dir).count() == 0 and per_dir.exceptAll(df).count() == 0
    assert df.count() == per_dir.count() > 0


# --------------------------------------- no job whose answer is known ----
def _engine(spark, udfs, root):
    from mediacrawler_spark.plans.epoch import CrawlEngine, EngineConfig
    from mediacrawler_spark.sinks.snapshot import SnapshotCatalog

    return CrawlEngine(
        spark, SnapshotCatalog(spark, root),
        udfs["pages"], udfs["robots"], udfs["politeness"],
        EngineConfig(max_comments_per_note=25),
    )


def _execution_actions(spark, group: str) -> list[str]:
    """The action that started each SQL execution holding a job of
    ``group`` — the top frame of its call site, e.g.
    ``org.apache.spark.sql.classic.Dataset.count(Dataset.scala:1521)``."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    group_jobs = set(sc.statusTracker().getJobIdsForGroup(group))
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    actions = []
    for i in range(execs.size()):
        x = execs.apply(i)
        jobs = x.jobs().keys().iterator()
        ids = set()
        while jobs.hasNext():
            ids.add(jobs.next())
        if ids & group_jobs:
            actions.append(x.details().splitlines()[0])
    return actions


def test_epoch_zero_runs_no_count(spark, udfs, tmp_path):
    """An epoch-0 run asks Spark for no count: the admission batch's size
    is the admitted footer count (nothing is seen yet, so every unique
    candidate is admitted), and the frontier's footer bound is under the
    broadcast limit, so the winner set is broadcast without a count."""
    sc = spark.sparkContext
    eng = _engine(spark, udfs, str(tmp_path / "snap"))
    sc.setJobGroup("no_count", "epoch 0 without counts")
    try:
        st = eng.run(udfs["seeds"], max_epochs=1).epochs[-1]
    finally:
        sc.setJobGroup(None, None)
    assert st.fetched > 0 and st.emitted > 0
    actions = _execution_actions(spark, "no_count")
    assert any("DataFrameWriter.parquet(" in a for a in actions), actions
    assert not [a for a in actions if "Dataset.count(" in a], actions


def test_run_leaves_nothing_persisted(spark, udfs, tmp_path, monkeypatch):
    """After ``run`` returns, Spark's CacheManager holds nothing the
    engine persisted: not the probe path's admission batch (epoch 1
    probes the seen filter), and not the winner set of the counted
    rejoin, forced here by a broadcast limit under every footer bound."""
    from functools import partial

    from mediacrawler_spark.operators.politeness import select_fetch_set
    from mediacrawler_spark.plans import epoch as epoch_mod

    monkeypatch.setattr(
        epoch_mod, "select_fetch_set", partial(select_fetch_set, winner_broadcast_max_rows=0)
    )
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    eng = _engine(spark, udfs, str(tmp_path / "snap"))
    for k in range(2):
        st = eng.run(udfs["seeds"] if k == 0 else None, max_epochs=1).epochs[-1]
        assert st.epoch == k and st.fetched > 0
        assert cache.isEmpty(), f"epoch {k} left a frame cached"
    assert st.deduped > 0, "epoch 1 must take the probe path"


def test_warm_epoch_py4j_commands_bounded(spark, udfs, tmp_path, py4j_commands):
    """The epoch's static Column trees are built once per session: a
    second epoch-0 run (fresh engine and catalog, same session) sent 1,538
    py4j commands (901 calls, 572 reflection lookups) on this universe,
    2,679 when the per-epoch trees were rebuilt. The bound is the
    measured value plus 25%, so a tree rebuilt every epoch fails here."""
    for k in range(2):
        eng = _engine(spark, udfs, str(tmp_path / f"snap{k}"))
        with py4j_commands.counting() as n:
            eng.run(udfs["seeds"], max_epochs=1)
    assert n.total <= 1538 * 5 // 4, (n.total, n.calls, n.reflections)
