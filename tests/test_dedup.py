"""Sharded seen-filter pipeline (J1) over both kernels, exact anti-join
dedup, and intra-batch dedup."""

import numpy as np

from mediacrawler_spark.operators.dedup import (
    BloomParams,
    CuckooParams,
    build_bloom_table,
    dedup_against_seen_bloom,
    dedup_within_batch,
    probe_filter,
    update_filter,
)

BROADCAST, COGROUP = 1 << 30, 0  # probe_filter thresholds forcing each path


def _params(kind, n_keys, n_shards=8):
    if kind == "bloom":
        return BloomParams.size(n_keys, fpp=0.01, n_shards=n_shards)
    return CuckooParams.size(n_keys, n_shards=n_shards)


def _seen(spark, hashes):
    return spark.createDataFrame(
        [(h, f"u{h}") for h in hashes], "url_hash long, url string"
    )


def _cands(spark, hashes):
    rows = [
        (f"https://h/{h}", h, "h", "xhs", "detail", 0, 0, None, "", -1, 0, 0, 0, 0)
        for h in hashes
    ]
    return spark.createDataFrame(
        rows,
        "url string, url_hash long, host string, platform string, kind string,"
        "priority int, seq long, parent_id string, cursor string, parent_seq long,"
        "empty_streak int, attempt int, not_before_epoch int, epoch int",
    )


def _maybe_seen(spark, table, params, hashes, threshold=BROADCAST):
    """{url_hash: maybe-seen verdict} through the generic probe."""
    keys = spark.createDataFrame([(h,) for h in hashes], "url_hash long")
    return {
        r["url_hash"]: r["_maybe_seen"]
        for r in probe_filter(keys, table, params, threshold).collect()
    }


def test_bloom_no_false_negatives(spark):
    hashes = [h * 2_654_435_761 - 3 for h in range(2000)]
    params = _params("bloom", 2000)
    table = build_bloom_table(_seen(spark, hashes), params)
    got = _maybe_seen(spark, table, params, hashes)
    assert all(got.values()), "bloom must never miss a present key"


def test_bloom_fpp_bound(spark):
    present = [h * 7_919 + 1 for h in range(5000)]
    absent = [h * 6_271 + 500_000_001 for h in range(5000)]
    absent = [a for a in absent if a not in set(present)]
    params = _params("bloom", 5000)
    table = build_bloom_table(_seen(spark, present), params)
    fp = sum(_maybe_seen(spark, table, params, absent).values())
    assert fp / len(absent) < 0.05, f"fpp too high: {fp}/{len(absent)}"


def test_dedup_exactness_matches_plain_antijoin(spark):
    seen_hashes = list(range(0, 3000, 3))
    cand_hashes = list(range(0, 2000))
    seen = _seen(spark, seen_hashes)
    cands = _cands(spark, cand_hashes)
    want = sorted(set(cand_hashes) - set(seen_hashes))
    for kind in ("bloom", "cuckoo"):
        params = _params(kind, len(seen_hashes))
        table = build_bloom_table(seen, params)
        got = sorted(
            r["url_hash"]
            for r in dedup_against_seen_bloom(cands, seen, table, params).collect()
        )
        assert got == want, kind


def _states(table, params):
    return {
        int(r["shard"]): np.frombuffer(r[params.payload], dtype=np.uint8)
        for r in table.collect()
    }


def test_incremental_or_merge_equals_full_build(spark):
    """Folding per-epoch deltas through the generic cogroup insert gives a
    bloom filter bit-identical to one full build over the union — the
    invariant that makes the O(delta) per-epoch maintenance sound — and a
    cuckoo filter with the same membership (its slot layout depends on
    insertion order, so only the verdicts are compared)."""
    all_hashes = [h * 7_919 + 1 for h in range(5000)]
    absent = [h * 6_271 + 500_000_001 for h in range(2000)]
    chunks = [all_hashes[i::5] for i in range(5)]
    for kind in ("bloom", "cuckoo"):
        params = _params(kind, 5000)
        acc = build_bloom_table(_seen(spark, chunks[0]), params)
        for c in chunks[1:]:
            acc = update_filter(acc, _seen(spark, c), params)
        got = _states(acc, params)
        want = _states(build_bloom_table(_seen(spark, all_hashes), params), params)
        assert set(got) == set(want), kind
        if kind == "bloom":
            for s in want:
                assert np.array_equal(got[s], want[s])
        assert all(_maybe_seen(spark, acc, params, all_hashes).values()), kind
        inc = _maybe_seen(spark, acc, params, absent)
        # cuckoo false positives may differ by slot layout; both are rare
        assert sum(inc.values()) / len(absent) < 0.05, kind


def test_cogroup_probe_matches_broadcast_probe(spark):
    """Shard-wise cogroup probe (scale path: one shard per task, no
    all-shards broadcast) returns the same _maybe_seen verdicts as the
    broadcast probe, for both kernels."""
    seen_hashes = list(range(0, 3000, 3))
    cand_hashes = list(range(0, 2000))
    seen = _seen(spark, seen_hashes)
    for kind in ("bloom", "cuckoo"):
        params = _params(kind, 3000)
        table = build_bloom_table(seen, params)
        want = _maybe_seen(spark, table, params, cand_hashes, BROADCAST)
        got = _maybe_seen(spark, table, params, cand_hashes, COGROUP)
        assert got == want, kind


def test_dedup_against_seen_bloom_exact_both_paths(spark):
    """Both probe strategies produce the exact anti-join answer, for both
    kernels."""
    seen_hashes = list(range(0, 3000, 3))
    cand_hashes = list(range(0, 2000))
    seen, cands = _seen(spark, seen_hashes), _cands(spark, cand_hashes)
    want = sorted(set(cand_hashes) - set(seen_hashes))
    for kind in ("bloom", "cuckoo"):
        params = _params(kind, 3000)
        table = build_bloom_table(seen, params)
        for threshold in (BROADCAST, COGROUP):
            got = sorted(
                r["url_hash"]
                for r in dedup_against_seen_bloom(
                    cands, seen, table, params, broadcast_max_bytes=threshold
                ).collect()
            )
            assert got == want, f"{kind} threshold={threshold}"


def test_dedup_within_batch_deterministic(spark):
    rows = [
        ("https://h/x", 7, "h", "xhs", "detail", 1, 5, None, "", -1, 0, 0, 0, 0),
        ("https://h/x", 7, "h", "xhs", "detail", 0, 9, None, "", -1, 0, 0, 0, 0),
        ("https://h/x", 7, "h", "xhs", "detail", 0, 2, None, "", -1, 0, 0, 0, 0),
    ]
    df = spark.createDataFrame(rows, _cands(spark, [1]).schema)
    out = dedup_within_batch(df).collect()
    assert len(out) == 1
    assert (out[0]["priority"], out[0]["seq"]) == (0, 2)
