"""Resuming snapshots written before the current frontier layout.

Pre-ptable (ADVICE r03 medium): rounds ≤2 committed ``frontier`` and
``bloom`` as FULL replace tables (``tables`` pins); the sharded bloom
reads only ``ptables`` pins. Resuming an old-format snapshot must move the
bloom into the partitioned layout BEFORE the first epoch — otherwise
clean bloom shards are dropped (stage_parts base=None), re-admitting
already-seen URLs through the definitely-new fast path. Its frontier is
already a replace version, the layout the fold writes, and is read as is.

Pre-merge-on-read: the frontier ptable alone was the full frontier, and
the ``admitted``/``fetched`` increments of the last epochs stayed pinned
beside it. Such a snapshot has no fold meta; it counts as folded through
its head, so those retained increments must never be applied again.

Partitioned base: until the fold wrote one replace version, the base was
a ptable of ``pmod(url_hash, P)`` leaves. The first fold of such a
snapshot moves it to a replace version numbered past every leaf.
"""

import json
import os

from pyspark.sql import functions as F

from mediacrawler_spark.plans.epoch import CrawlEngine
from mediacrawler_spark.sinks.snapshot import SnapshotCatalog

_P = 4  # partition count of a forged ptable frontier base


def _engine(spark, udfs, cfg, cat):
    return CrawlEngine(spark, cat, udfs["pages"], udfs["robots"], udfs["politeness"], cfg)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _append_pre_change_record(root: str, rec: dict) -> None:
    """Commit ``rec`` as a snapshot written before merge-on-read: no fold
    meta and no ``retries`` log (admitted/fetched pins stay retained)."""
    rec["meta"].pop("frontier")
    rec["appends"].pop("retries")
    with open(os.path.join(root, "_commits.jsonl"), "a") as f:
        f.write(json.dumps(rec) + "\n")


def _forge_legacy(spark, udfs, cfg, root: str) -> list:
    """Rewrite a new-format snapshot into the pre-ptable format: the
    merged frontier and the bloom as full ``v=<n>`` dirs, pinned in
    ``tables`` by a commit record that carries no ptable entries, no fold
    meta and no retries pins — byte-level what a round-2 engine would
    have committed. Returns the frontier's rows."""
    cat = SnapshotCatalog(spark, root)
    frontier = _engine(spark, udfs, cfg, cat)._frontier()
    want = _rows(frontier)
    assert want, "cut point must leave deferred rows"
    assert cat.rows("bloom") > 0
    frontier.write.parquet(os.path.join(root, "frontier", "v=900"))
    cat.read("bloom").write.parquet(os.path.join(root, "bloom", "v=900"))
    rec = cat.last_commit()
    rec["tables"]["frontier"] = 900
    rec["tables"]["bloom"] = 900
    rec["ptables"].pop("frontier", None)
    rec["ptables"].pop("bloom")
    _append_pre_change_record(root, rec)
    return want


def _stage_ptable_base(cat, frontier) -> None:
    """Stage ``frontier`` as a ptable base of ``_P`` partitions, the
    layout the fold wrote before it wrote one replace version."""
    cat.stage_parts(
        frontier.withColumn("_part", F.pmod(F.col("url_hash"), F.lit(_P)).cast("int")),
        "frontier",
        _P,
        list(range(_P)),
    )


def test_resume_from_legacy_snapshot_matches_reference(
    spark, udfs, crawl_cfg, partial_crawl, mid_crawl_ref, snapshot_state, tmp_path
):
    """Resume over a forged pre-ptable snapshot: migration must move the
    legacy bloom into the partitioned layout BEFORE the first epoch, the
    v=900 frontier stays the pinned base with no migration, and the next
    epochs must land in the byte-identical state an unmigrated resume
    reaches (state equality at epoch 3 pins full-run equality —
    deterministic engine; the unperturbed arm is oracle-matched to
    completion by the e2e suite)."""
    import shutil

    root = str(tmp_path / "snap_legacy")
    shutil.copytree(partial_crawl["root"], root)
    _forge_legacy(spark, udfs, crawl_cfg, root)

    cat2 = SnapshotCatalog(spark, root)
    assert cat2.legacy_version("frontier") == 900  # really old-format now
    assert cat2.legacy_version("bloom") == 900
    eng2 = _engine(spark, udfs, crawl_cfg, cat2)
    eng2.run(None, max_epochs=2)

    # the frontier base is still the forged version; the epochs only
    # appended its logs. The bloom moved into the partitioned layout.
    assert cat2.last_commit()["tables"]["frontier"] == 900
    assert cat2.ptable_meta("frontier") is None
    assert cat2.meta()["frontier"] == {"folded_through": 1, "log": [2, 3]}
    assert cat2.legacy_version("bloom") is None
    assert cat2.ptable_meta("bloom") is not None

    assert snapshot_state(eng2) == mid_crawl_ref
    # the forged bloom dir is unpinned after expiry, the pinned frontier
    # base is kept, and fsck stays clean
    cat2.expire_versions(keep_last=1)
    assert not os.path.isdir(os.path.join(root, "bloom", "v=900"))
    assert os.path.isdir(os.path.join(root, "frontier", "v=900"))
    assert cat2.fsck() == []


def test_resume_from_pre_merge_on_read_snapshot_applies_nothing_twice(
    spark, udfs, crawl_cfg, partial_crawl, mid_crawl_ref, snapshot_state, tmp_path
):
    """Resume over a forged pre-merge-on-read snapshot: the frontier
    ptable holds the full frontier, the epoch-0/1 admitted and fetched
    increments are still pinned, and there is no fold meta. The frontier
    read is the ptable alone (the retained admitted rows are not added
    again, the fetched rows delete nothing more), and two resumed epochs
    land in the reference state."""
    import shutil

    root = str(tmp_path / "snap_pre_mor")
    shutil.copytree(partial_crawl["root"], root)
    cat = SnapshotCatalog(spark, root)
    frontier = _engine(spark, udfs, crawl_cfg, cat)._frontier()
    want = _rows(frontier)
    assert want, "cut point must leave deferred rows"
    _stage_ptable_base(cat, frontier)
    cat.commit(cat.committed_epoch())
    _append_pre_change_record(root, cat.last_commit())

    cat2 = SnapshotCatalog(spark, root)
    assert "frontier" not in cat2.meta()
    assert [str(x) for x in cat2._appends["admitted"]] == ["0", "1"]
    assert [str(x) for x in cat2._appends["fetched"]] == ["0", "1"]
    assert cat2.read("admitted").count() > 0
    eng2 = _engine(spark, udfs, crawl_cfg, cat2)
    assert eng2._frontier_fold() == {"folded_through": 1, "log": []}
    assert _rows(eng2._frontier()) == want
    assert eng2._frontier_rows() == len(want)

    eng2.run(None, max_epochs=2)
    assert cat2.meta()["frontier"] == {"folded_through": 1, "log": [2, 3]}
    assert snapshot_state(eng2) == mid_crawl_ref
    assert cat2.fsck() == []


def test_first_fold_moves_ptable_base_to_one_version(
    spark, udfs, crawl_cfg, partial_crawl, mid_crawl_ref, snapshot_state, tmp_path
):
    """A snapshot whose base is a ptable (what the fold committed while
    it wrote partitions): the first fold writes the merged frontier as
    one replace version numbered past every leaf — never over the leaves
    it reads —, unpins the ptable, leaves the rows unchanged, and two
    resumed epochs land in the reference state."""
    import shutil

    root = str(tmp_path / "snap_ptable_base")
    shutil.copytree(partial_crawl["root"], root)
    cat = SnapshotCatalog(spark, root)
    frontier = _engine(spark, udfs, crawl_cfg, cat)._frontier()
    want = _rows(frontier)
    assert want, "cut point must leave deferred rows"
    epoch = cat.committed_epoch()
    _stage_ptable_base(cat, frontier)
    cat.commit(epoch, meta={"frontier": {"folded_through": epoch, "log": []}})
    for t in ("admitted", "retries", "fetched"):
        cat.prune_appends(t, min_epoch=epoch + 1)

    cat = SnapshotCatalog(spark, root)
    leaves = cat._ptable_paths(cat.ptable_meta("frontier"), "frontier")
    assert leaves
    eng = _engine(spark, udfs, crawl_cfg, cat)
    assert _rows(eng._frontier()) == want
    eng._fold_frontier(epoch)

    assert cat.ptable_meta("frontier") is None
    v = cat.last_commit()["tables"]["frontier"]
    leaf_versions = {int(os.path.basename(os.path.dirname(p))[2:]) for p in leaves}
    assert v > max(leaf_versions)
    vdir = os.path.join(root, "frontier", f"v={v}")
    assert not [e for e in os.listdir(vdir) if e.startswith("_part=")]
    assert all(os.path.isdir(p) for p in leaves)  # expiry's job, not the fold's
    assert eng._frontier_fold() == {"folded_through": epoch, "log": []}
    assert _rows(eng._frontier()) == want
    assert eng._frontier_rows() == len(want)
    assert cat.fsck() == []

    cat2 = SnapshotCatalog(spark, root)
    eng2 = _engine(spark, udfs, crawl_cfg, cat2)
    eng2.run(None, max_epochs=2)
    assert snapshot_state(eng2) == mid_crawl_ref
    assert cat2.fsck() == []
