"""Priority/politeness window (W1/J6) + robots gate (S8/J5)."""

from pyspark.sql import functions as F

from mediacrawler_spark.operators.politeness import (
    apply_robots,
    merge_quarantine,
    select_fetch_set,
)
from mediacrawler_spark.schemas import FRONTIER_SCHEMA


def _frontier(spark, rows):
    """rows: (url, url_hash, host, kind, priority, seq, not_before)"""
    full = [
        (u, h, host, "xhs", kind, pr, seq, None, "", -1, 0, 0, nb, 0)
        for (u, h, host, kind, pr, seq, nb) in rows
    ]
    return spark.createDataFrame(full, FRONTIER_SCHEMA)


def _deferred(fr, sel):
    """The frontier rows an epoch does not fetch: they stay in the
    frontier for a later epoch."""
    return fr.join(sel, "url_hash", "left_anti")


def _pol(spark, budgets, quarantined=()):
    q = dict(quarantined)
    return spark.createDataFrame(
        [(h, b, q.get(h, 0)) for h, b in budgets.items()],
        "host string, budget_per_epoch int, quarantined_until int",
    )


def test_budget_and_priority_order(spark):
    # 6 rows on one host, budget 3: the three (priority, seq)-smallest win
    rows = [
        (f"https://a/{i}", i, "a", "detail" if p == 0 else "comment_page", p, s, 0)
        for i, (p, s) in enumerate([(1, 0), (0, 2), (0, 0), (1, 1), (0, 1), (1, 2)])
    ]
    fr = _frontier(spark, rows)
    sel = select_fetch_set(fr, _pol(spark, {"a": 3}), epoch=0)
    got = [(r["priority"], r["seq"], r["host_rank"]) for r in sel.orderBy("host_rank").collect()]
    assert got == [(0, 0, 1), (0, 1, 2), (0, 2, 3)]
    assert _deferred(fr, sel).count() == 3


def test_budget_is_per_host(spark):
    rows = [(f"https://{h}/{i}", h_i * 100 + i, h, "detail", 0, i, 0)
            for h_i, h in enumerate(["a", "b"]) for i in range(5)]
    fr = _frontier(spark, rows)
    sel = select_fetch_set(fr, _pol(spark, {"a": 2, "b": 4}), epoch=0)
    counts = {r["host"]: r["n"] for r in sel.groupBy("host").agg(F.count("*").alias("n")).collect()}
    assert counts == {"a": 2, "b": 4}


def test_not_before_defers(spark):
    rows = [("https://a/1", 1, "a", "detail", 0, 0, 5), ("https://a/2", 2, "a", "detail", 0, 1, 0)]
    fr = _frontier(spark, rows)
    sel = select_fetch_set(fr, _pol(spark, {"a": 10}), epoch=0)
    assert [r["url"] for r in sel.collect()] == ["https://a/2"]
    assert [r["url"] for r in _deferred(fr, sel).collect()] == ["https://a/1"]


def test_quarantine_defers_whole_host(spark):
    rows = [("https://a/1", 1, "a", "detail", 0, 0, 0), ("https://b/1", 2, "b", "detail", 0, 0, 0)]
    fr = _frontier(spark, rows)
    sel = select_fetch_set(
        fr, _pol(spark, {"a": 5, "b": 5}, quarantined={"a": 3}), epoch=1
    )
    assert [r["host"] for r in sel.collect()] == ["b"]
    assert [r["host"] for r in _deferred(fr, sel).collect()] == ["a"]


def test_merge_quarantine_keeps_hosts_absent_from_politeness(spark):
    """Regression (ADVICE r01): a dynamically quarantined host with no
    politeness row must survive the merge, with a NULL budget so
    select_fetch_set falls through to default_budget."""
    pol = _pol(spark, {"a": 5}, quarantined={"a": 2})
    quar = spark.createDataFrame(
        [("b", 7), ("a", 9)], "host string, quarantined_until int"
    )
    got = {r["host"]: r for r in merge_quarantine(pol, quar).collect()}
    assert set(got) == {"a", "b"}
    assert got["a"]["budget_per_epoch"] == 5
    assert got["a"]["quarantined_until"] == 9  # max(static 2, dynamic 9)
    assert got["b"]["budget_per_epoch"] is None  # → default downstream
    assert got["b"]["quarantined_until"] == 7


def test_quarantine_only_host_deferred(spark):
    """End shape of the same regression: host 'b' has no politeness row but
    a live quarantine — it must be deferred, not fetched with defaults."""
    rows = [("https://a/1", 1, "a", "detail", 0, 0, 0), ("https://b/1", 2, "b", "detail", 0, 0, 0)]
    fr = _frontier(spark, rows)
    pol = merge_quarantine(
        _pol(spark, {"a": 5}),
        spark.createDataFrame([("b", 3)], "host string, quarantined_until int"),
    )
    sel = select_fetch_set(fr, pol, epoch=1)
    assert [r["host"] for r in sel.collect()] == ["a"]
    assert [r["host"] for r in _deferred(fr, sel).collect()] == ["b"]


def test_selection_deterministic_across_runs(spark):
    rows = [(f"https://a/{i}", i * 977, "a", "detail", 0, 0, 0) for i in range(50)]
    fr = _frontier(spark, rows).repartition(7)
    sel1 = select_fetch_set(fr, _pol(spark, {"a": 10}), epoch=0)
    sel2 = select_fetch_set(fr.repartition(3), _pol(spark, {"a": 10}), epoch=0)
    a = sorted(r["url"] for r in sel1.collect())
    b = sorted(r["url"] for r in sel2.collect())
    assert a == b


def test_winner_rejoin_shuffle_fallback_same_result(spark):
    """Above winner_broadcast_max_rows the rejoin must switch to a shuffle
    join (broadcast of hosts x budget rows dies at millions of hosts) and
    produce the identical selection."""
    rows = [
        (f"https://h{i % 40}/{i}", i * 977 + 13, f"h{i % 40}", "detail", 0, i, 0)
        for i in range(400)
    ]
    fr = _frontier(spark, rows)
    pol = _pol(spark, {f"h{i}": 3 for i in range(40)})
    sel_b = select_fetch_set(fr, pol, epoch=0)  # broadcast path
    sel_s = select_fetch_set(fr, pol, epoch=0, winner_broadcast_max_rows=0)
    got_b = sorted((r["url"], r["host_rank"]) for r in sel_b.collect())
    got_s = sorted((r["url"], r["host_rank"]) for r in sel_s.collect())
    assert got_b == got_s and len(got_b) == 40 * 3
    assert sorted(r["url"] for r in _deferred(fr, sel_b).collect()) == sorted(
        r["url"] for r in _deferred(fr, sel_s).collect()
    )
    # plan check: forcing the fallback removes the winner-set broadcast
    plan_b = sel_b._jdf.queryExecution().executedPlan().toString()
    plan_s = sel_s._jdf.queryExecution().executedPlan().toString()
    assert plan_b.count("BroadcastExchange") > plan_s.count("BroadcastExchange")


def test_winner_rejoin_with_known_bound_broadcasts_uncached(spark):
    """A frontier-row bound within the broadcast limit picks the broadcast
    rejoin with no winner-set persist or count: the plan joins through a
    BroadcastHashJoin and caches nothing, and the rows equal the counted
    path's. A bound past the limit falls back to the counted path."""
    rows = [
        (f"https://h{i % 40}/{i}", i * 977 + 13, f"h{i % 40}", "detail", 0, i, 0)
        for i in range(400)
    ]
    fr = _frontier(spark, rows)
    pol = _pol(spark, {f"h{i}": 3 for i in range(40)})
    bound_cache, counted_cache = {}, {}
    sel_k = select_fetch_set(fr, pol, epoch=0, cache=bound_cache, frontier_rows=len(rows))
    got_k = sorted((r["url"], r["host_rank"]) for r in sel_k.collect())
    # planned before the counted path caches the same winner plan, which
    # Spark's CacheManager would substitute into any plan built later
    plan = sel_k._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "InMemoryRelation" not in plan, plan
    assert bound_cache == {}
    sel_c = select_fetch_set(fr, pol, epoch=0, cache=counted_cache)
    got_c = sorted((r["url"], r["host_rank"]) for r in sel_c.collect())
    assert got_k == got_c and len(got_k) == 40 * 3
    assert counted_cache["winners"].storageLevel.useMemory
    over = select_fetch_set(
        fr, pol, epoch=0, cache=bound_cache, frontier_rows=len(rows),
        winner_broadcast_max_rows=len(rows) - 1,
    )
    assert bound_cache["winners"].storageLevel.useMemory
    assert sorted((r["url"], r["host_rank"]) for r in over.collect()) == got_c
    for c in (bound_cache, counted_cache):
        c["winners"].unpersist()


def test_robots_longest_prefix_wins(spark):
    fr = _frontier(
        spark,
        [
            ("https://a/ok/1", 1, "a", "detail", 0, 0, 0),
            ("https://a/private/1", 2, "a", "detail", 0, 0, 0),
            ("https://a/private/pub/1", 3, "a", "detail", 0, 0, 0),
            ("https://norules/x", 4, "norules", "detail", 0, 0, 0),
        ],
    )
    robots = spark.createDataFrame(
        [
            ("a", "/", True, 1.0, 4_000_000_000),
            ("a", "/private", False, 1.0, 4_000_000_000),
            ("a", "/private/pub", True, 1.0, 4_000_000_000),
        ],
        "host string, path_prefix string, allow boolean, crawl_delay double, expires_at long",
    )
    got = sorted(r["url"] for r in apply_robots(fr, robots, 0).collect())
    assert got == ["https://a/ok/1", "https://a/private/pub/1", "https://norules/x"]


def test_robots_expired_rule_ignored(spark):
    fr = _frontier(spark, [("https://a/private/1", 1, "a", "detail", 0, 0, 0)])
    robots = spark.createDataFrame(
        [("a", "/private", False, 1.0, 100)],
        "host string, path_prefix string, allow boolean, crawl_delay double, expires_at long",
    )
    assert apply_robots(fr, robots, epoch_ts=200).count() == 1


def test_winner_cache_is_caller_scoped(spark):
    """ADVICE r02: two engines interleaving selections in one process must
    each keep their own persisted winner set — a shared module-global slot
    made caller A's second call unpersist caller B's live cache."""
    rows = [(f"https://a/{i}", i * 977, "a", "detail", 0, i, 0) for i in range(30)]
    fr_a = _frontier(spark, rows)
    # B's frontier must be a DIFFERENT plan — Spark's CacheManager dedupes
    # identical plans into one cache entry, which is not the engine case
    fr_b = _frontier(spark, rows[:20])
    pol = _pol(spark, {"a": 5})
    cache_a, cache_b = {}, {}
    sel_a = select_fetch_set(fr_a, pol, epoch=0, cache=cache_a)
    sel_b = select_fetch_set(fr_b, pol, epoch=0, cache=cache_b)
    # B's selection must NOT have evicted A's persisted winner set
    assert cache_a["winners"].storageLevel.useMemory
    assert cache_b["winners"].storageLevel.useMemory
    # next call through A's slot drops only A's previous winners
    prev_a = cache_a["winners"]
    select_fetch_set(fr_a, pol, epoch=1, cache=cache_a)
    assert not prev_a.storageLevel.useMemory
    assert cache_b["winners"].storageLevel.useMemory
    assert sorted(r["url"] for r in sel_a.collect()) == sorted(
        r["url"] for r in sel_b.collect()
    )
    for c in (cache_a, cache_b):
        c["winners"].unpersist()
