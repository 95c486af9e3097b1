"""Persistent-bloom lifecycle (VERDICT r01 items 2+3): sized by |seen|,
O(delta) per-epoch maintenance, geometric rebuilds, resume from snapshot."""

import math

import pytest
from pyspark.sql import functions as F

from mediacrawler_spark.operators.dedup import probe_filter
from mediacrawler_spark.plans.epoch import CrawlEngine, EngineConfig
from mediacrawler_spark.sinks.snapshot import SnapshotCatalog


def _keys(spark, lo, hi, stride=1):
    return spark.createDataFrame(
        [(h * 2_654_435_761 + 17,) for h in range(lo, hi, stride)], "url_hash long"
    ).withColumn("url", F.concat(F.lit("u"), F.col("url_hash")))


def _maybe_seen(keys, bloom):
    """``keys`` + boolean column ``m`` from the engine filter's probe."""
    return probe_filter(keys, bloom["df"], bloom["params"]).withColumnRenamed(
        "_maybe_seen", "m"
    )


def test_bloom_fill_rebuild_and_fpp_over_many_epochs(spark, tmp_path):
    """Drive the engine's bloom policy for 40 epochs of 400 new keys each.

    Asserts the three scale properties the per-batch sizing broke:
    1. fp pass-through rate on fresh keys stays near the configured fpp for
       the WHOLE crawl (a batch-sized filter saturates to ~1.0);
    2. rebuilds are geometric — O(log n) of them, so cumulative rebuild
       work is O(|seen|), not O(|seen| x epochs);
    3. no false negatives ever (every seen key probes maybe-seen).
    """
    cfg = EngineConfig(bloom_fpp=0.01, bloom_shards=8)
    cat = SnapshotCatalog(spark, str(tmp_path / "snap_bloom"))
    # engine used only for its bloom policy methods — no crawl tables needed
    eng = CrawlEngine(spark, cat, None, None, None, cfg)

    per_epoch, n_epochs = 400, 40
    bloom, seen = None, _keys(spark, 0, 0)
    capacities = []
    for e in range(n_epochs):
        batch = _keys(spark, e * per_epoch, (e + 1) * per_epoch)
        bloom = eng._update_bloom(bloom, seen, batch, per_epoch, per_epoch)
        if not capacities or capacities[-1] != bloom["capacity"]:
            capacities.append(bloom["capacity"])
        seen = seen.unionByName(batch)

    total = n_epochs * per_epoch
    assert bloom["n_inserted"] == total

    # 2. geometric growth: rebuild count ~ log2(total/1024), never per-epoch
    assert len(capacities) <= int(math.log2(total / 1024)) + 3, capacities
    assert capacities == sorted(capacities)

    # 3. zero false negatives over every inserted key
    misses = _maybe_seen(seen, bloom).filter("NOT m").count()
    assert misses == 0

    # 1. fp rate on 5000 fresh keys: near fpp even though |seen| >> any batch
    fresh = _keys(spark, total, total + 5000).join(
        seen, on="url_hash", how="left_anti"
    )
    n_fresh = fresh.count()
    fp = _maybe_seen(fresh, bloom).filter("m").count()
    assert fp / n_fresh < 0.05, f"bloom saturated: fp rate {fp}/{n_fresh}"


def test_bloom_state_survives_catalog_reopen(spark, tmp_path):
    """Resume: bloom table + sizing meta reload from the committed snapshot,
    so a resumed crawl pays zero rebuild cost."""
    cfg = EngineConfig(bloom_fpp=0.01, bloom_shards=4)
    root = str(tmp_path / "snap_reopen")
    cat = SnapshotCatalog(spark, root)
    eng = CrawlEngine(spark, cat, None, None, None, cfg)

    batch = _keys(spark, 0, 2000)
    bloom = eng._update_bloom(None, None, batch, 2000, 2000)
    cat.commit(0, meta={"bloom": eng._bloom_meta(bloom)})

    eng2 = CrawlEngine(
        spark, SnapshotCatalog(spark, root), None, None, None, cfg
    )
    re = eng2._load_bloom()
    assert re is not None
    assert re["n_inserted"] == 2000
    assert re["params"] == bloom["params"]
    misses = _maybe_seen(batch, re).filter("NOT m").count()
    assert misses == 0


def test_ensure_bloom_accounts_for_incoming_batch(spark, tmp_path):
    """ADVICE r02 (medium): the headroom check must include the epoch's
    incoming batch, not just n_inserted — otherwise a cuckoo table admits a
    delta past its remaining headroom and overflows mid-insert."""
    from mediacrawler_spark.plans.epoch import CrawlEngine, EngineConfig

    cfg = EngineConfig(seen_filter="cuckoo", bloom_shards=2)
    cat = SnapshotCatalog(spark, str(tmp_path / "snap_headroom"))
    eng = CrawlEngine(spark, cat, None, None, None, cfg)
    seen = _keys(spark, 0, 900)
    none = _keys(spark, 0, 0)
    bloom = eng._update_bloom(None, seen, none, 900, 0)
    cap0 = bloom["capacity"]
    assert bloom["n_inserted"] == 900

    # batch exactly one over the remaining headroom → proactive rebuild
    # (here every batch row is a duplicate: nothing is admitted)
    n_batch = cap0 - 900 + 1
    grown = eng._update_bloom(bloom, seen, none, n_batch, 0)
    assert grown["capacity"] > cap0
    assert grown["capacity"] >= 900 + n_batch

    # batch that fits → untouched (no rebuild churn)
    assert eng._update_bloom(grown, seen, none, 1, 0) is grown


def test_cuckoo_overflow_recovers_by_rebuild(spark, tmp_path):
    """Belt-and-braces for the same ADVICE item: even when headroom
    accounting is defeated (capacity meta lies), a kick-chain overflow
    during the delta insert rebuilds at doubled capacity from seen ∪ delta
    instead of aborting the epoch."""
    from mediacrawler_spark.operators.dedup import CuckooParams, build_bloom_table

    cfg = EngineConfig(seen_filter="cuckoo", bloom_shards=2)
    cat = SnapshotCatalog(spark, str(tmp_path / "snap_over"))
    eng = CrawlEngine(spark, cat, None, None, None, cfg)
    seen = _keys(spark, 0, 10)
    tiny = CuckooParams(n_shards=2, n_buckets=16)  # 128 slots total
    eng._stage_bloom(build_bloom_table(seen, tiny), 2, [0, 1])
    bloom = {
        "params": tiny,
        "capacity": 1_000_000,  # lie: forces the insert to hit overflow
        "n_inserted": 10,
        "df": cat.read_staged_parts("bloom"),
    }
    batch = _keys(spark, 10, 1510)
    grown = eng._advance_bloom(bloom, batch, 1500, seen)
    assert grown["n_inserted"] == 1510
    assert grown["params"].n_buckets > tiny.n_buckets
    # recovery preserves zero-false-negatives over ALL keys (old + delta)
    misses = _maybe_seen(seen.unionByName(batch), grown).filter("NOT m").count()
    assert misses == 0


def test_adaptive_shard_count_grows_with_capacity(spark, tmp_path):
    """VERDICT-r03-class scale hardening: shard count is chosen at
    rebuild time so one shard's state stays near the byte target — a
    fixed 16 shards at the 10^10-key design point would mean ~750 MB
    rewrites per dirty shard. Asserts growth across rebuilds, the
    per-shard byte bound, zero false negatives after the grown rebuild,
    and that resume restores the grown count from the commit meta."""
    cfg = EngineConfig(
        bloom_fpp=0.01, bloom_shards=2, filter_shard_target_bytes=2048
    )
    root = str(tmp_path / "snap_adaptive")
    cat = SnapshotCatalog(spark, root)
    eng = CrawlEngine(spark, cat, None, None, None, cfg)

    # small first build: floor applies
    seen0 = _keys(spark, 0, 200)
    b = eng._update_bloom(None, None, seen0, 200, 200)
    assert b["params"].n_shards == 2
    cat.commit(0, meta={"bloom": eng._bloom_meta(b)})

    # big rebuild: capacity ~2x40k keys -> ~12 KB of bitmap -> >2 shards
    seen1, none = _keys(spark, 0, 40_000), _keys(spark, 0, 0)
    b2 = eng._update_bloom({**b, "n_inserted": 40_000}, seen1, none, 40_000, 0)
    p = b2["params"]
    assert p.n_shards > 2, p
    assert p.n_shards & (p.n_shards - 1) == 0  # power of two
    # per-shard serialized bytes near the target (x2 slack: sizing
    # doubles capacity ahead of demand)
    assert p.m_bits // 8 <= 2 * 2048, p
    cat.commit(1, meta={"bloom": eng._bloom_meta(b2)})

    # zero false negatives through the probe on the grown layout
    misses = _maybe_seen(seen1, b2).filter("NOT m").count()
    assert misses == 0

    # resume restores the grown shard count from meta
    eng2 = CrawlEngine(spark, SnapshotCatalog(spark, root), None, None, None, cfg)
    b3 = eng2._load_bloom()
    assert b3 is not None and b3["params"].n_shards == p.n_shards

    # cuckoo path sizes shards the same way
    cfgc = EngineConfig(
        seen_filter="cuckoo", bloom_shards=2, filter_shard_target_bytes=2048
    )
    engc = CrawlEngine(
        spark, SnapshotCatalog(spark, str(tmp_path / "snap_adaptive_c")),
        None, None, None, cfgc,
    )
    bc = engc._update_bloom(None, _keys(spark, 0, 40_000), none, 40_000, 0)
    pc = bc["params"]
    assert pc.n_shards > 2, pc
    assert 8 * pc.n_buckets <= 4 * 2048, pc  # per-shard state bound (x4 slack: pow2 bucket rounding)


class _SpyCatalog(SnapshotCatalog):
    """Counts ``stage_parts("bloom")`` calls per committed epoch."""

    def __init__(self, spark, root):
        super().__init__(spark, root)
        self.bloom_stages: dict[int, int] = {}
        self._staged = 0

    def stage_parts(self, df, table, *args, **kw):
        self._staged += table == "bloom"
        super().stage_parts(df, table, *args, **kw)

    def commit(self, epoch, meta=None):
        super().commit(epoch, meta)
        self.bloom_stages[epoch] = self.bloom_stages.get(epoch, 0) + self._staged
        self._staged = 0


class _TightEngine(CrawlEngine):
    """Reports every rebuilt filter as full, so each later epoch with a
    non-empty batch is a capacity rebuild (the sizing itself is real)."""

    def __init__(self, *args, **kw):
        super().__init__(*args, **kw)
        self.rebuilds: list[int] = []  # n_inserted of each rebuild

    def _rebuild_bloom(self, keys, capacity, n_inserted):
        self.rebuilds.append(n_inserted)
        return {**super()._rebuild_bloom(keys, capacity, n_inserted), "capacity": n_inserted}


def _crawl_state(eng):
    cat = eng.catalog
    order: dict = {}
    for r in eng.fetch_log().orderBy("host", "epoch", "host_rank").collect():
        order.setdefault(r["host"], []).append((r["url"], r["epoch"], r["kind"]))
    docs = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in eng.documents().collect()
    }
    return {r["url"] for r in cat.read("seen").collect()}, order, docs


def _oracle(universe, cfg, n_epochs):
    from mediacrawler_spark.oracle import CrawlOracle

    return CrawlOracle(
        universe.pages, universe.robots, universe.politeness,
        default_budget=cfg.default_budget,
        comments_per_page=cfg.comments_per_page,
        max_comments_per_note=cfg.max_comments_per_note,
        epoch_ts=cfg.epoch_ts,
    ).run(universe.seeds, max_epochs=n_epochs)


def test_fresh_epoch_builds_filter_once_as_build_then_insert(spark, udfs, tmp_path):
    """A fresh epoch 0 stages the filter exactly once (no empty build
    before admission), and its bitmaps are byte-identical to the old
    two-step path: an empty build, then the admitted keys inserted."""
    from mediacrawler_spark.operators.dedup import (
        build_bloom_table,
        filter_params_from_meta,
        update_filter,
    )

    cfg = EngineConfig(max_comments_per_note=25)
    cat = _SpyCatalog(spark, str(tmp_path / "snap_fresh"))
    eng = CrawlEngine(spark, cat, udfs["pages"], udfs["robots"], udfs["politeness"], cfg)
    res = eng.run(udfs["seeds"], max_epochs=1)
    assert res.epochs[0].admitted > 0
    assert cat.bloom_stages == {0: 1}

    params = filter_params_from_meta(cat.meta()["bloom"])
    keys = cat.read("seen").select("url_hash")
    want = update_filter(build_bloom_table(keys.limit(0), params), keys, params)
    as_dict = lambda df: {r["shard"]: bytes(r["bitmap"]) for r in df.collect()}  # noqa: E731
    assert as_dict(cat.read("bloom")) == as_dict(want)


@pytest.mark.parametrize("seen_filter", ["bloom", "cuckoo"])
def test_capacity_rebuild_after_admission_matches_oracle(
    spark, universe, udfs, tmp_path, seen_filter
):
    """Every epoch ≥ 1 with a non-empty batch is forced into a capacity
    rebuild: admission probes with the previous (full) filter, then one
    build over seen ∪ admitted replaces it. Each such epoch stages the
    filter exactly once, and the crawl still equals the oracle's."""
    n_epochs = 4
    cfg = EngineConfig(max_comments_per_note=25, seen_filter=seen_filter)
    cat = _SpyCatalog(spark, str(tmp_path / f"snap_tight_{seen_filter}"))
    eng = _TightEngine(spark, cat, udfs["pages"], udfs["robots"], udfs["politeness"], cfg)
    res = eng.run(udfs["seeds"], max_epochs=n_epochs)
    assert len(res.epochs) == n_epochs

    batches = [e.admitted + e.deduped for e in res.epochs]
    assert all(batches), batches
    assert cat.bloom_stages == {e: 1 for e in range(n_epochs)}
    assert len(eng.rebuilds) == n_epochs
    assert eng.rebuilds[-1] == sum(e.admitted for e in res.epochs)
    # the later probes really ran against a filter (not the empty-seen skip)
    assert sum(e.deduped for e in res.epochs[1:]) > 0

    want = _oracle(universe, cfg, n_epochs)
    seen, order, docs = _crawl_state(eng)
    assert seen == want.seen
    assert order == want.fetch_order
    assert docs == want.documents
