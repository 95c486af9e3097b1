"""Persistent-bloom lifecycle (VERDICT r01 items 2+3): sized by |seen|,
O(delta) per-epoch maintenance, geometric rebuilds, resume from snapshot."""

import math

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
        bloom = eng._ensure_bloom(bloom, seen, per_epoch)
        if not capacities or capacities[-1] != bloom["capacity"]:
            capacities.append(bloom["capacity"])
        bloom = eng._advance_bloom(bloom, batch, per_epoch, seen)
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

    seen0 = _keys(spark, 0, 0)
    batch = _keys(spark, 0, 2000)
    bloom = eng._ensure_bloom(None, seen0, 2000)
    bloom = eng._advance_bloom(bloom, batch, 2000, seen0)
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
    bloom = eng._ensure_bloom(None, seen, 900)
    cap0 = bloom["capacity"]
    assert bloom["n_inserted"] == 900

    # batch exactly one over the remaining headroom → proactive rebuild
    n_batch = cap0 - 900 + 1
    grown = eng._ensure_bloom(bloom, seen, n_batch)
    assert grown["capacity"] > cap0
    assert grown["capacity"] >= 900 + n_batch

    # batch that fits → untouched (no rebuild churn)
    assert eng._ensure_bloom(grown, seen, 1) is grown


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
    b = eng._ensure_bloom(None, seen0, 200)
    assert b["params"].n_shards == 2
    cat.commit(0, meta={"bloom": eng._bloom_meta(b)})

    # big rebuild: capacity ~2x40k keys -> ~12 KB of bitmap -> >2 shards
    seen1 = _keys(spark, 0, 40_000)
    b2 = eng._ensure_bloom({**b, "n_inserted": 40_000}, seen1, 40_000)
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
    bc = engc._ensure_bloom(None, _keys(spark, 0, 40_000), 40_000)
    pc = bc["params"]
    assert pc.n_shards > 2, pc
    assert 8 * pc.n_buckets <= 4 * 2048, pc  # per-shard state bound (x4 slack: pow2 bucket rounding)
