"""Cuckoo seen-filter kernel (north_rule bloom/cuckoo): delete+reinsert,
fpp bound, exact dedup, overflow sentinel, and engine equivalence with
the bloom kernel. Shared pipeline behaviour (probe paths, incremental
insert) is covered for both kernels in tests/test_dedup.py."""

from mediacrawler_spark.operators.dedup import (
    CuckooParams,
    build_bloom_table,
    dedup_against_seen_bloom,
    probe_filter,
    update_filter,
)


def _keys(spark, hashes):
    return spark.createDataFrame([(h,) for h in hashes], "url_hash long")


def _seen(spark, hashes):
    return spark.createDataFrame(
        [(h, f"u{h}") for h in hashes], "url_hash long, url string"
    )


def _maybe_seen(spark, table, params, hashes):
    probed = probe_filter(_keys(spark, hashes), table, params)
    return {r["url_hash"]: r["_maybe_seen"] for r in probed.collect()}


def test_no_false_negatives_and_fpp(spark):
    present = [h * 2_654_435_761 - 3 for h in range(4000)]
    absent = [h * 6_271 + 500_000_001 for h in range(4000)]
    absent = [a for a in absent if a not in set(present)]
    params = CuckooParams.size(4000, n_shards=8)
    table = build_bloom_table(_keys(spark, present), params)
    got = _maybe_seen(spark, table, params, present)
    assert all(got.values()), "cuckoo must never miss a present key"
    fp = sum(_maybe_seen(spark, table, params, absent).values())
    # 16-bit fingerprints, 2 buckets x 4 slots: fpp ~ 8/2^16 ~ 0.00012
    assert fp / len(absent) < 0.01, f"fpp too high: {fp}/{len(absent)}"


def test_delete_then_reinsert(spark):
    """THE cuckoo property: deleting a key makes it absent (re-admissible
    after TTL eviction), reinserting makes it present again — no rebuild."""
    keys = [h * 7_919 + 11 for h in range(2000)]
    evict = keys[::10]
    params = CuckooParams.size(2000, n_shards=4)
    table = build_bloom_table(_keys(spark, keys), params)

    after_del = update_filter(table, _keys(spark, evict), params, op="delete")
    got = _maybe_seen(spark, after_del, params, keys)
    kept = [k for k in keys if k not in set(evict)]
    assert all(got[k] for k in kept), "non-evicted keys must stay present"
    # evicted keys are gone modulo fingerprint collisions with survivors
    still = sum(got[k] for k in evict)
    assert still / len(evict) < 0.05, f"deletion ineffective: {still}/{len(evict)}"

    back = update_filter(after_del, _keys(spark, evict), params)
    got2 = _maybe_seen(spark, back, params, keys)
    assert all(got2.values()), "reinserted keys must be present"


def test_dedup_exactness_matches_plain_antijoin(spark):
    seen_hashes = list(range(0, 3000, 3))
    cand_hashes = list(range(0, 2000))
    params = CuckooParams.size(len(seen_hashes), n_shards=8)
    seen = _seen(spark, seen_hashes)
    table = build_bloom_table(seen, params)
    got = sorted(
        r["url_hash"]
        for r in dedup_against_seen_bloom(
            _seen(spark, cand_hashes), seen, table, params
        ).collect()
    )
    assert got == sorted(set(cand_hashes) - set(seen_hashes))


def test_engine_equivalence_bloom_vs_cuckoo(spark, udfs, tmp_path):
    """The filter is a prefilter only: running the whole engine with
    seen_filter='cuckoo' must produce the identical seen set, documents,
    and fetch log as the bloom default."""
    from mediacrawler_spark.plans.epoch import CrawlEngine, EngineConfig
    from mediacrawler_spark.sinks.snapshot import SnapshotCatalog

    outs = {}
    for kind in ("bloom", "cuckoo"):
        cfg = EngineConfig(max_comments_per_note=25, seen_filter=kind, max_epochs=80)
        cat = SnapshotCatalog(spark, str(tmp_path / f"snap_{kind}"))
        eng = CrawlEngine(
            spark, cat, udfs["pages"], udfs["robots"], udfs["politeness"], cfg
        )
        eng.run(udfs["seeds"])
        seen = frozenset(r["url"] for r in cat.read("seen").collect())
        log = tuple(
            (r["host"], r["url"], r["epoch"], r["host_rank"])
            for r in eng.fetch_log().orderBy("host", "epoch", "host_rank").collect()
        )
        assert cat.meta()["bloom"]["kind"] == kind
        outs[kind] = (seen, log)
    assert outs["bloom"] == outs["cuckoo"]


def test_overflow_sentinel_token_links_both_sides():
    """The overflow exception carries the CUCKOO_OVER_CAPACITY sentinel and
    the epoch loop's recovery matches on that exact token (ADVICE r03 low:
    matching prose wording silently flips abort vs rebuild on a reword).
    Pins the raise side here; the match side is pinned by the import in
    plans/epoch.py being the SAME symbol object."""
    import numpy as np
    import pytest

    import mediacrawler_spark.plans.epoch as epoch_mod
    from mediacrawler_spark.operators.cuckoo import CUCKOO_OVER_CAPACITY

    assert epoch_mod.CUCKOO_OVER_CAPACITY is CUCKOO_OVER_CAPACITY
    params = CuckooParams(n_shards=1, n_buckets=4)
    state = np.zeros(params.shape, dtype=params.dtype)
    with pytest.raises(RuntimeError, match=CUCKOO_OVER_CAPACITY):
        # far more keys than slots: the kick chain must exhaust
        params.insert(state, np.arange(1, 200, dtype=np.int64))
