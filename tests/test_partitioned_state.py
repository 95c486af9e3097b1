"""Partitioned delta-commits (VERDICT r02 item 1): replace-style state
tables must rewrite only the partitions an epoch touched, never the full
table. Covers the SnapshotCatalog ptable mechanism directly, then the
engine-level 'done' criterion on the merge-on-read frontier — an epoch
only appends its logs, so bytes written per epoch are O(delta); the fold
is the only frontier rewrite, one replace version — with unchanged e2e
results."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mediacrawler_spark.fixtures import UniverseParams, build_universe
from mediacrawler_spark.operators.frontier import FRONTIER_COLS
from mediacrawler_spark.plans.epoch import _FRONTIER_LOGS as _LOGS
from mediacrawler_spark.plans.epoch import CrawlEngine, EngineConfig
from mediacrawler_spark.oracle import CrawlOracle
from mediacrawler_spark.schemas import (
    PAGES_SCHEMA,
    POLITENESS_SCHEMA,
    ROBOTS_SCHEMA,
    SEEDS_SCHEMA,
)
from mediacrawler_spark.sinks.snapshot import SnapshotCatalog


def _pdf(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("val"),
        F.pmod(F.col("id"), F.lit(8)).cast("int").alias("_part"),
    )


def test_stage_parts_roundtrip_partial_rewrite_and_drop(spark, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path / "snap_pt"))
    cat.stage_parts(_pdf(spark, 0, 100), "t", 8, list(range(8)))
    cat.commit(0)
    assert cat.has("t")
    assert cat.read("t").count() == 100
    assert cat.rows("t") == 100

    # partial rewrite: new content for parts {2,3} only — doubled vals
    delta = _pdf(spark, 0, 100).where(F.col("_part").isin([2, 3])).withColumn(
        "val", F.col("val") * 2
    )
    cat.stage_parts(delta, "t", 8, [2, 3])
    cat.commit(1)
    rows = {r["k"]: r["val"] for r in cat.read("t").collect()}
    assert len(rows) == 100
    for k, v in rows.items():
        assert v == (k * 20 if k % 8 in (2, 3) else k * 10), k

    # a dirty partition with no rows drops out of the pin map entirely
    cat.stage_parts(
        _pdf(spark, 0, 0), "t", 8, [5]
    )
    cat.commit(2)
    rows2 = {r["k"] for r in cat.read("t").collect()}
    assert rows2 == {k for k in range(100) if k % 8 != 5}
    meta = cat.ptable_meta("t")
    assert meta["n"] == 8 and "5" not in meta["parts"]
    # pins span multiple versions — old clean partitions were never rewritten
    assert len({int(v) for v in meta["parts"].values()}) >= 2
    assert cat.fsck() == []


def test_stage_parts_pending_view_and_resume(spark, tmp_path):
    root = str(tmp_path / "snap_pt2")
    cat = SnapshotCatalog(spark, root)
    cat.stage_parts(_pdf(spark, 0, 40), "t", 8, list(range(8)))
    cat.commit(0)
    # staged-but-uncommitted delta is visible via read_staged_parts only
    delta = _pdf(spark, 100, 110)
    cat.stage_parts(delta, "t", 8, sorted({r["_part"] for r in delta.collect()}))
    staged_keys = {r["k"] for r in cat.read_staged_parts("t").collect()}
    assert set(range(100, 110)) <= staged_keys
    # crash before commit: a reopened catalog sees only the committed state
    cat2 = SnapshotCatalog(spark, root)
    assert {r["k"] for r in cat2.read("t").collect()} == set(range(40))
    assert cat2.fsck() == []


def test_expire_keeps_pinned_leaves_across_versions(spark, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path / "snap_pt3"))
    cat.stage_parts(_pdf(spark, 0, 80), "t", 8, list(range(8)))
    cat.commit(0)
    # five successive partial rewrites of the same two partitions
    for e in range(1, 6):
        delta = (
            _pdf(spark, 0, 80)
            .where(F.col("_part").isin([0, 1]))
            .withColumn("val", F.col("val") + e)
        )
        cat.stage_parts(delta, "t", 8, [0, 1])
        cat.commit(e)
    removed = cat.expire_versions(keep_last=2)
    assert removed > 0  # stale leaves of parts 0/1 from old versions
    # the table still reads in full: parts 2..7 keep their v=0 leaves
    # (pinned since the first commit — leaf-level expiry must not drop them)
    rows = {r["k"]: r["val"] for r in cat.read("t").collect()}
    assert len(rows) == 80
    for k, v in rows.items():
        assert v == (k * 10 + 5 if k % 8 in (0, 1) else k * 10), k
    assert cat.fsck() == []


# ---- the merge-on-read frontier on a wide-frontier crawl ------------------
# 240 notes on 3 hosts at budget 2: the frontier stays far wider than any
# epoch's fetch set, and some per-epoch delta is wider than _WIDE_DELTA rows.
_WIDE = UniverseParams(
    n_notes=240,
    n_hosts=3,
    n_singleton_hosts=0,
    n_keywords=1,
    search_pages_per_keyword=1,
    max_comments_per_note=10,
    budget_hot=2,
    budget_warm=2,
)
_WIDE_DELTA = 8
_WIDE_EPOCHS = 10  # crosses the maintenance fold at epoch 7
_WIDE_COPIES = (4,)  # snapshot copies kept mid-cycle, before the fold


def _du(path) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def _wide_cfg(seen_filter="bloom", **kw) -> EngineConfig:
    return EngineConfig(
        default_budget=2,
        max_comments_per_note=10,
        seen_filter=seen_filter,
        **kw,
    )


class _StageSpy(SnapshotCatalog):
    """Records every ``(method, table)`` of ``stage``/``stage_parts``, in
    call order, and the executed plan of every frontier version staged."""

    def __init__(self, spark, root):
        super().__init__(spark, root)
        self.calls: list[tuple[str, str]] = []
        self.frontier_plans: list[str] = []

    def stage(self, df, table):
        self.calls.append(("stage", table))
        super().stage(df, table)
        if table == "frontier":
            self.frontier_plans.append(df._jdf.queryExecution().executedPlan().toString())

    def stage_parts(self, df, table, n_parts, dirty, part_col="_part"):
        self.calls.append(("stage_parts", table))
        super().stage_parts(df, table, n_parts, dirty, part_col)


def _base_pin(cat: SnapshotCatalog) -> int | None:
    """Committed version of the frontier base (None before the first fold)."""
    return (cat.last_commit() or {}).get("tables", {}).get("frontier")


def _frontier_bytes(cat: SnapshotCatalog, log: list[int]) -> int:
    """Live frontier bytes: the base version plus the log increments on
    top of it."""
    v = _base_pin(cat)
    base = 0 if v is None else _du(os.path.join(cat.root, "frontier", f"v={v}"))
    return base + sum(_du(os.path.join(cat.root, t, f"e={e}")) for t in _LOGS for e in log)


def crawl_wide(spark, uni, root, seen_filter, n_epochs=_WIDE_EPOCHS, copies=()):
    """Crawl the wide universe one epoch per ``run`` call and record, per
    epoch: its stats, the frontier stages it made, the base pin before and
    after, the ``frontier/v=`` dirs and bytes it wrote (new base versions)
    and the bytes of its log increments, the live frontier bytes, the
    footer row count and the merged read's row count. ``copies`` names
    epochs after which the snapshot dir is copied to ``<root>_at<epoch>``."""
    import shutil

    pages = spark.createDataFrame(uni.pages, PAGES_SCHEMA)
    robots = spark.createDataFrame(uni.robots, ROBOTS_SCHEMA)
    politeness = spark.createDataFrame(uni.politeness, POLITENESS_SCHEMA)
    seeds = spark.createDataFrame(uni.seeds, SEEDS_SCHEMA)
    cat = _StageSpy(spark, root)
    eng = CrawlEngine(spark, cat, pages, robots, politeness, _wide_cfg(seen_filter))
    fdir = os.path.join(root, "frontier")

    def base_dirs():
        if not os.path.isdir(fdir):
            return {}
        return {e: _du(os.path.join(fdir, e)) for e in os.listdir(fdir) if e.startswith("v=")}

    records = []
    for k in range(n_epochs):
        before_dirs, n_calls = base_dirs(), len(cat.calls)
        pin_before = _base_pin(cat)
        st = eng.run(seeds if k == 0 else None, max_epochs=1).epochs[-1]
        assert st.epoch == k
        fold = eng._frontier_fold()
        new_dirs = {d: b for d, b in base_dirs().items() if d not in before_dirs}
        rec = {
            "stats": st,
            "folded": fold["folded_through"] == k,
            "frontier_stages": [m for m, t in cat.calls[n_calls:] if t == "frontier"],
            "pin_before": pin_before,
            "pin_after": _base_pin(cat),
            "new_base_dirs": sorted(new_dirs),
            "base_written": sum(new_dirs.values()),
            "live": _frontier_bytes(cat, fold["log"]),
            "footer_rows": eng._frontier_rows(),
            "candidates_rows": cat.rows("candidates"),
            "merged_rows": eng._frontier().count(),
        }
        if not rec["folded"]:
            rec["written"] = {
                t: _du(os.path.join(root, t, f"e={k}")) for t in ("admitted", "retries")
            }
        records.append(rec)
        if k in copies:
            shutil.copytree(root, f"{root}_at{k}")
    return eng, records


def _wide_oracle(uni, cfg, n_epochs):
    return CrawlOracle(
        uni.pages,
        uni.robots,
        uni.politeness,
        default_budget=cfg.default_budget,
        comments_per_page=cfg.comments_per_page,
        max_comments_per_note=cfg.max_comments_per_note,
        epoch_ts=cfg.epoch_ts,
    ).run(uni.seeds, max_epochs=n_epochs)


def _crawl_state(eng) -> dict:
    """Comparable crawl state: seen set, per-host fetch order (the
    oracle's shape), document spans and the frontier's rows."""
    order: dict[str, list] = {}
    for r in eng.fetch_log().orderBy("host", "epoch", "host_rank").collect():
        order.setdefault(r["host"], []).append((r["url"], r["epoch"], r["kind"]))
    return {
        "epoch": eng.catalog.committed_epoch(),
        "seen": {r["url"] for r in eng.catalog.read("seen").collect()},
        "order": order,
        "docs": {
            r["doc_id"]: [
                (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]
            ]
            for r in eng.documents().collect()
        },
        "frontier": sorted(tuple(r) for r in eng._frontier().select(*FRONTIER_COLS).collect()),
    }


@pytest.fixture(scope="session")
def wide_universe():
    return build_universe(_WIDE)


@pytest.fixture(scope="session")
def wide_crawl(spark, wide_universe, tmp_path_factory):
    """ONE wide-frontier crawl per filter kind, made on first use and
    shared by the tests below (the delta-write, fold-plan, footer-count and
    resume checks all read the same run instead of each crawling the
    universe again)."""
    crawls: dict[str, dict] = {}

    def get(kind: str) -> dict:
        if kind not in crawls:
            root = str(tmp_path_factory.mktemp(f"wide_{kind}") / "cat")
            eng, records = crawl_wide(
                spark, wide_universe, root, kind, copies=_WIDE_COPIES
            )
            crawls[kind] = {"eng": eng, "records": records, "root": root}
        return crawls[kind]

    return get


@pytest.mark.parametrize("seen_filter", ["bloom", "cuckoo"])
def test_epoch_writes_are_delta_not_full_state(wide_crawl, wide_universe, seen_filter):
    """The 'done' criterion, for a wide epoch delta: between folds an
    epoch stages no frontier version, leaves the base pin unchanged and
    writes no ``frontier/v=`` dir — the frontier bytes it writes are its
    retries increment, so they never exceed its admitted + retries
    increments, and stay under half the live frontier's bytes (base +
    logs). Only the maintenance fold (epoch 7) rewrites the base: once,
    in full, as one replace version through ``stage`` (never as
    partitions). The crawl's seen set and per-host fetch order equal the
    oracle's."""
    crawl = wide_crawl(seen_filter)
    recs = crawl["records"]
    assert [r["folded"] for r in recs] == [k % 8 == 7 for k in range(_WIDE_EPOCHS)]
    between = [r for r in recs if not r["folded"]]
    assert any(
        r["stats"].admitted + r["stats"].fetched > _WIDE_DELTA for r in between[1:]
    ), "some epoch between folds must carry a wide delta"
    for r in between:
        e = r["stats"].epoch
        assert r["frontier_stages"] == [], (e, r["frontier_stages"])
        assert r["pin_after"] == r["pin_before"], e
        assert r["new_base_dirs"] == [], (e, r["new_base_dirs"])
        frontier_written = r["base_written"] + r["written"]["retries"]
        assert frontier_written <= r["written"]["admitted"] + r["written"]["retries"]
        # and a small fraction of the live frontier (the old partitioned
        # rewrite wrote ~all of it every epoch)
        assert frontier_written < r["live"] / 2, (e, frontier_written, r["live"])
    fold = recs[7]
    assert fold["frontier_stages"] == ["stage"]
    assert fold["new_base_dirs"] == [f"v={fold['pin_after']}"]
    assert fold["base_written"] > 0
    # the fold pruned every folded increment; the log restarts after it
    cat = crawl["eng"].catalog
    assert cat.ptable_meta("frontier") is None
    for t in _LOGS:
        assert sorted(int(x) for x in cat._appends[t]) == list(range(8, _WIDE_EPOCHS)), t
    assert cat.fsck() == []

    want = _wide_oracle(wide_universe, _wide_cfg(), _WIDE_EPOCHS)
    got = _crawl_state(crawl["eng"])
    assert got["seen"] == want.seen
    assert got["order"] == want.fetch_order
    assert got["frontier"], "the frontier must outlive the crawl window"


@pytest.mark.parametrize("seen_filter", ["bloom", "cuckoo"])
def test_lineage_counts_match_committed_state(wide_crawl, seen_filter):
    """The lineage write counts the epoch's successors in its own job,
    beside the ``candidates`` write: at every epoch, the fold included,
    the summary row's ``emitted_count`` equals the rows of the committed
    ``candidates`` version, and the per-partition ``fetch_count``s sum
    to the epoch's fetches. ``fsck`` stays clean."""
    crawl = wide_crawl(seen_filter)
    cat = crawl["eng"].catalog
    lin = cat.read("lineage")
    emitted = {
        r["frontier_epoch"]: r["emitted_count"]
        for r in lin.filter("partition_id = -1").collect()
    }
    fetched = {
        r["frontier_epoch"]: r["n"]
        for r in lin.filter("partition_id >= 0")
        .groupBy("frontier_epoch")
        .agg(F.sum("fetch_count").alias("n"))
        .collect()
    }
    recs = crawl["records"]
    assert len(recs) >= 8
    for r in recs:
        st = r["stats"]
        assert emitted[st.epoch] == r["candidates_rows"] == st.emitted, st
        assert fetched.get(st.epoch, 0) == st.fetched, st
    assert any(r["candidates_rows"] > 0 for r in recs)
    assert cat.fsck() == []


def test_fold_plan_has_no_repartition(wide_crawl):
    """The fold writes the merged view as planned: its executed plan has
    no ``REPARTITION_BY_NUM`` exchange (the partitioned base's full
    ``repartition(n, "_part")`` shuffle is gone)."""
    plans = wide_crawl("bloom")["eng"].catalog.frontier_plans
    assert len(plans) == 1
    assert "LeftAnti" in plans[0], plans[0]  # the merge itself is in the plan
    assert "REPARTITION_BY_NUM" not in plans[0], plans[0]


def test_frontier_footer_count_equals_merged_read(wide_crawl):
    """The drain check's footer count — rows(base) + Σadmitted +
    Σretries − Σfetched, no Spark job — equals the merged read's row
    count at every epoch, fold included."""
    counts = [(r["footer_rows"], r["merged_rows"]) for r in wide_crawl("bloom")["records"]]
    assert all(f == m for f, m in counts), counts
    assert all(m > 0 for _, m in counts[1:]), counts


def test_resume_mid_cycle_matches_uninterrupted(spark, wide_crawl, wide_universe):
    """Fresh engine and catalog objects resumed from the epoch-4 snapshot
    (log [0..4], no base yet) run through the epoch-7 fold to the same
    end state as the uninterrupted crawl: seen set, fetch order, spans
    and the frontier's rows."""
    import shutil

    crawl = wide_crawl("bloom")
    root = crawl["root"] + "_resume"
    shutil.copytree(crawl["root"] + "_at4", root)
    cat = SnapshotCatalog(spark, root)
    assert cat.meta()["frontier"] == {"folded_through": -1, "log": [0, 1, 2, 3, 4]}
    eng = CrawlEngine(
        spark,
        cat,
        spark.createDataFrame(wide_universe.pages, PAGES_SCHEMA),
        spark.createDataFrame(wide_universe.robots, ROBOTS_SCHEMA),
        spark.createDataFrame(wide_universe.politeness, POLITENESS_SCHEMA),
        _wide_cfg(),
    )
    eng.run(None, max_epochs=_WIDE_EPOCHS - 5)
    assert _crawl_state(eng) == _crawl_state(crawl["eng"])
    assert cat.fsck() == []


def test_missing_log_increment_raises(spark, wide_crawl, wide_universe):
    """A log increment gone between the fold and the head (pruned by
    another maintenance pass, whether or not expiry has deleted its dir
    yet) makes the frontier read raise — it never silently shrinks the
    frontier."""
    import shutil

    crawl = wide_crawl("bloom")
    root = crawl["root"] + "_pruned"
    shutil.copytree(crawl["root"] + "_at4", root)
    cat = SnapshotCatalog(spark, root)
    assert cat.prune_appends("admitted", min_epoch=2) == 2
    assert os.path.isdir(os.path.join(root, "admitted", "e=0"))  # not expired yet
    eng = CrawlEngine(
        spark,
        cat,
        spark.createDataFrame(wide_universe.pages, PAGES_SCHEMA),
        spark.createDataFrame(wide_universe.robots, ROBOTS_SCHEMA),
        spark.createDataFrame(wide_universe.politeness, POLITENESS_SCHEMA),
        _wide_cfg(),
    )
    with pytest.raises(LookupError, match=r"increments \[0, 1\] of 'admitted'"):
        eng._frontier()
    with pytest.raises(LookupError, match="not pinned"):
        eng.run(None, max_epochs=1)
    assert cat.committed_epoch() == 4
    cat.expire_versions(keep_last=1)
    assert not os.path.isdir(os.path.join(root, "admitted", "e=0"))
    with pytest.raises(LookupError, match="not pinned"):
        eng._frontier()


from hypothesis import given, settings
from hypothesis import strategies as st


@st.composite
def _ops(draw):
    """A short random life of a ptable: partial rewrites over 4 partitions
    with occasional commits/reopens/expiries."""
    n_steps = draw(st.integers(min_value=3, max_value=7))
    steps = []
    for _ in range(n_steps):
        kind = draw(st.sampled_from(["stage", "stage", "stage", "commit", "reopen", "expire"]))
        if kind == "stage":
            dirty = sorted(draw(st.sets(st.integers(0, 3), min_size=1, max_size=4)))
            rows = {
                k: draw(st.lists(st.integers(0, 99), max_size=4, unique=True))
                for k in dirty
            }
            steps.append(("stage", dirty, rows))
        else:
            steps.append((kind,))
    return steps


def test_ptable_staged_empty_partition_drops_rows(spark, tmp_path_factory):
    """Pinned regression (VERDICT r05 #1 falsifying example): stage a row
    into partition 0, commit, stage partition 0 EMPTY, commit — the
    engine's own semantics ('a dirty partition with no rows drops out of
    the pin map') delete the row. The Hypothesis model used to mispredict
    this via dict-truthiness staging tracking."""
    root = str(tmp_path_factory.mktemp("snap_empty_stage"))
    cat = SnapshotCatalog(spark, root)
    cat.stage_parts(
        spark.createDataFrame([(0, 0)], "val long, _part int"), "t", 4, [0]
    )
    cat.commit(cat.committed_epoch() + 1)
    empty = spark.createDataFrame([], "val long, _part int")
    cat.stage_parts(empty, "t", 4, [0])
    cat.commit(cat.committed_epoch() + 1)
    df = cat.read("t")
    got = [] if df is None else df.collect()
    assert got == []
    assert cat.fsck() == []


@settings(max_examples=12, deadline=None, derandomize=True)
@given(_ops())
def test_ptable_state_machine_matches_dict_model(spark, tmp_path_factory, ops):
    """Model check: an arbitrary interleaving of partial stage_parts,
    commits, crash-reopens and expiries must always read back exactly what
    a python dict-of-partitions model predicts (committed view = model at
    last commit; reopen discards pending)."""
    root = str(tmp_path_factory.mktemp("snap_hyp"))
    cat = SnapshotCatalog(spark, root)
    model: dict[int, list[int]] = {}     # committed
    pending: dict[int, list[int]] = {}   # staged-on-top view
    # Explicit staged flag, NOT dict truthiness: a stage sequence that
    # legitimately empties the staged view (stage rows, commit, stage the
    # partition empty) must still commit as "staged" — the empty dict IS
    # the prediction (VERDICT r05 "What's wrong" #1).
    staged = False

    def make_df(rows_by_part):
        data = [
            (int(v * 7 + k), int(k))
            for k, vals in rows_by_part.items()
            for v in vals
        ]
        return spark.createDataFrame(data or [], "val long, _part int")

    for step in ops:
        if step[0] == "stage":
            _, dirty, rows = step
            cat.stage_parts(make_df(rows), "t", 4, dirty)
            if not staged:
                pending = dict(model)
                staged = True
            for k in dirty:
                vals = [v * 7 + k for v in rows.get(k, [])]
                if vals:
                    pending[k] = vals
                else:
                    pending.pop(k, None)
        elif step[0] == "commit":
            cat.commit(cat.committed_epoch() + 1)
            if staged:
                model = pending
            pending = {}
            staged = False
        elif step[0] == "reopen":
            cat = SnapshotCatalog(spark, root)
            pending = {}
            staged = False
        elif step[0] == "expire":
            if not (cat._pending or cat._pending_appends or cat._pending_parts):
                cat.expire_versions(keep_last=2)

    # committed view == model
    df = cat.read("t")
    got = sorted(r["val"] for r in df.collect()) if df is not None else []
    want = sorted(v for vals in model.values() for v in vals)
    assert got == want, (got, want, ops)
    assert cat.fsck() == []
