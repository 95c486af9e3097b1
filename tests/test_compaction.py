"""Append-table compaction (Iceberg rewrite_data_files analog): per-epoch
dirs get rewritten into one, content and resume are unaffected, and dead
dirs are collected."""

import os

import pytest

from mediacrawler_spark.fixtures import UniverseParams, build_universe
from mediacrawler_spark.plans.epoch import CrawlEngine, EngineConfig
from mediacrawler_spark.schemas import (
    PAGES_SCHEMA,
    POLITENESS_SCHEMA,
    ROBOTS_SCHEMA,
    SEEDS_SCHEMA,
)
from mediacrawler_spark.sinks.snapshot import SnapshotCatalog


def _run(spark, u, root, compact_after):
    cfg = EngineConfig(
        max_comments_per_note=10, max_epochs=80, compact_appends_after=compact_after
    )
    cat = SnapshotCatalog(spark, root)
    eng = CrawlEngine(
        spark, cat,
        spark.createDataFrame(u.pages, PAGES_SCHEMA),
        spark.createDataFrame(u.robots, ROBOTS_SCHEMA),
        spark.createDataFrame(u.politeness, POLITENESS_SCHEMA),
        cfg,
    )
    eng.run(spark.createDataFrame(u.seeds, SEEDS_SCHEMA))
    return eng, cat


def _state(cat):
    seen = frozenset(r["url"] for r in cat.read("seen").collect())
    log = sorted(
        (r["host"], r["url"], r["epoch"], r["host_rank"])
        for r in cat.read("fetch_log").collect()
    )
    return seen, log


@pytest.mark.slow
def test_compaction_preserves_content_and_bounds_dirs(spark, tmp_path):
    u = build_universe(
        UniverseParams(n_notes=40, n_hosts=4, n_keywords=2,
                       search_pages_per_keyword=2, max_comments_per_note=10,
                       budget_hot=4, budget_warm=3)
    )
    _, cat_plain = _run(spark, u, str(tmp_path / "plain"), compact_after=10_000)
    _, cat_comp = _run(spark, u, str(tmp_path / "comp"), compact_after=4)

    assert _state(cat_plain) == _state(cat_comp)

    def n_dirs(root, table):
        d = os.path.join(root, table)
        return len([e for e in os.listdir(d) if e.startswith("e=")]) if os.path.isdir(d) else 0

    n_epochs = cat_comp.committed_epoch() + 1
    assert n_epochs > 8, "universe must run enough epochs to trigger maintenance"
    for t in ("seen", "fetch_log", "span_rows"):
        assert n_dirs(str(tmp_path / "comp"), t) < n_dirs(str(tmp_path / "plain"), t), t
        # bounded: at most threshold + dirs accrued since the last maintenance
        assert n_dirs(str(tmp_path / "comp"), t) <= 4 + 8, t


def test_resume_after_compaction(spark, tmp_path):
    u = build_universe(
        UniverseParams(n_notes=40, n_hosts=4, n_keywords=2,
                       search_pages_per_keyword=2, max_comments_per_note=10,
                       budget_hot=4, budget_warm=3)
    )
    root = str(tmp_path / "resume")
    cfg = EngineConfig(max_comments_per_note=10, compact_appends_after=4)
    cat = SnapshotCatalog(spark, root)
    eng = CrawlEngine(
        spark, cat,
        spark.createDataFrame(u.pages, PAGES_SCHEMA),
        spark.createDataFrame(u.robots, ROBOTS_SCHEMA),
        spark.createDataFrame(u.politeness, POLITENESS_SCHEMA),
        cfg,
    )
    # run long enough that at least one maintenance+compaction happened
    eng.run(spark.createDataFrame(u.seeds, SEEDS_SCHEMA), max_epochs=10)
    assert cat.committed_epoch() >= 7, "maintenance (epoch 7) must have run"
    # compaction actually happened: seen has fewer dirs than epochs
    seen_dirs = [e for e in os.listdir(os.path.join(root, "seen")) if e.startswith("e=")]
    assert any(e.startswith("e=c") for e in seen_dirs), seen_dirs
    assert not cat.fsck()

    eng2 = CrawlEngine(
        spark, SnapshotCatalog(spark, root),
        spark.createDataFrame(u.pages, PAGES_SCHEMA),
        spark.createDataFrame(u.robots, ROBOTS_SCHEMA),
        spark.createDataFrame(u.politeness, POLITENESS_SCHEMA),
        cfg,
    )
    eng2.run(None)

    _, cat_plain = _run(spark, u, str(tmp_path / "plain"), compact_after=10_000)
    assert _state(eng2.catalog) == _state(cat_plain)


def test_compact_refuses_with_pending_stages(spark, tmp_path):
    """ADVICE r02: compact_appends commits a metadata swap — running it
    mid-epoch would publish half-finished pending state, so it must refuse
    outright while anything is staged."""
    import pytest
    from pyspark.sql import functions as F

    from mediacrawler_spark.sinks.snapshot import SnapshotCatalog

    cat = SnapshotCatalog(spark, str(tmp_path / "snap_guard"))
    df = spark.range(5).select(F.col("id").alias("x"))
    for e in range(3):
        cat.stage_append(df, "t", e)
    cat.commit(2)
    cat.stage(df, "other")  # mid-epoch: a pending replace-table stage
    with pytest.raises(RuntimeError, match="half-finished"):
        cat.compact_appends("t", max_dirs=1)
    cat.commit(3)
    assert cat.compact_appends("t", max_dirs=1)  # clean state: compacts fine


def test_compact_appends_tiered_avoids_full_rewrites(spark, tmp_path):
    """Size-tiered compaction: merging EVERYTHING on every trigger
    rewrites the whole table every ~max_dirs epochs (O(E²) cumulative).
    Tiered merges must (a) leave earlier compacted dirs untouched until a
    tier merge, (b) bound dir counts, (c) preserve content exactly."""
    import os

    from pyspark.sql import functions as F

    from mediacrawler_spark.sinks.snapshot import SnapshotCatalog

    root = str(tmp_path / "snap_tier")
    cat = SnapshotCatalog(spark, root)

    def append_epochs(lo, hi):
        for e in range(lo, hi):
            cat.stage_append(
                spark.range(e * 10, (e + 1) * 10).select(F.col("id").alias("x")),
                "t",
                e,
            )
            cat.commit(e)

    def content_ok(hi):
        got = sorted(r["x"] for r in cat.read("t").collect())
        assert got == list(range(hi * 10)), (len(got), hi * 10)

    append_epochs(0, 5)
    assert cat.compact_appends("t", max_dirs=4, tier_fanout=4)
    first_c = [lab for lab in cat._appends["t"] if lab.startswith("c")]
    assert len(first_c) == 1
    first_c = first_c[0]
    first_c_mtime = os.path.getmtime(os.path.join(root, "t", f"e={first_c}"))
    content_ok(5)

    # second batch: compaction must NOT rewrite the first compacted dir
    append_epochs(5, 10)
    assert cat.compact_appends("t", max_dirs=4, tier_fanout=4)
    labs = list(cat._appends["t"])
    assert first_c in labs, labs
    assert os.path.getmtime(os.path.join(root, "t", f"e={first_c}")) == first_c_mtime
    assert len([x for x in labs if x.startswith("c")]) == 2
    content_ok(10)

    # keep going until a tier merge fires (compacted count would exceed 4)
    hi = 10
    for _ in range(4):
        append_epochs(hi, hi + 5)
        hi += 5
        cat.compact_appends("t", max_dirs=4, tier_fanout=4)
        content_ok(hi)
    c_count = len([x for x in cat._appends["t"] if x.startswith("c")])
    assert c_count <= 4, cat._appends["t"]
    assert not cat.fsck()
    # expiry collects the swapped-out small dirs; content still intact
    cat.expire_versions(keep_last=2)
    content_ok(hi)


def test_prune_appends_drops_old_single_epoch_artifacts(spark, tmp_path):
    """VERDICT r03 #3: admitted/fetched are single-epoch materialization
    artifacts — prune_appends drops increments older than min_epoch from
    the pin map, expiry collects the dirs, resume + fsck stay green."""
    root = str(tmp_path / "snap_prune_app")
    cat = SnapshotCatalog(spark, root)
    df = spark.createDataFrame([(1, "x")], "k int, v string")
    for e in range(10):
        cat.stage_append(df, "admitted", e)
        cat.commit(e)
    assert cat.prune_appends("admitted", min_epoch=8) == 8
    assert [str(x) for x in cat._appends["admitted"]] == ["8", "9"]
    cat.expire_versions(keep_last=2)
    left = sorted(os.listdir(os.path.join(root, "admitted")))
    assert left == ["e=8", "e=9"]
    assert cat.fsck() == []
    # resume sees the pruned pin map; no-op below the floor
    cat2 = SnapshotCatalog(spark, root)
    assert [str(x) for x in cat2._appends["admitted"]] == ["8", "9"]
    assert cat2.prune_appends("admitted", min_epoch=8) == 0
    # compacted dirs prune by their creation epoch
    cat2.compact_appends("admitted", max_dirs=1)
    labs = [str(x) for x in cat2._appends["admitted"]]
    assert any(lab.startswith("c") for lab in labs)
    assert cat2.prune_appends("admitted", min_epoch=100) == len(labs)
    assert cat2._appends["admitted"] == []
    cat2.expire_versions(keep_last=1)
    assert not any(
        e.startswith("e=") for e in os.listdir(os.path.join(root, "admitted"))
    )
    assert cat2.fsck() == []


def test_engine_maintenance_prunes_admitted_fetched(full_crawl):
    """After an e2e run whose maintenance cycle fired, only the frontier
    log increments committed after the last fold survive — exactly the
    log epochs of the fold meta — and the folded ones are gone from disk
    (inspects the shared canonical run — read-only assertions)."""
    import os

    cat = full_crawl["eng"].catalog
    last = full_crawl["epochs"][-1].epoch
    assert last >= 7, "run must cross a maintenance cycle (epoch 7)"
    folded = last - (last + 1) % 8  # the last epoch ≡ 7 mod 8
    fold = cat.meta()["frontier"]
    assert fold["folded_through"] == folded
    assert fold["log"] == list(range(folded + 1, last + 1))
    for t in ("admitted", "retries", "fetched"):
        labs = sorted(int(x) for x in cat._appends[t])
        assert labs == fold["log"], (t, labs)
        on_disk = os.listdir(os.path.join(cat.root, t))
        assert all(int(d[2:]) > folded for d in on_disk if d.startswith("e=")), (t, on_disk)
    assert cat.fsck() == []
