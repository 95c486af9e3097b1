"""End-to-end: Spark engine vs the single-threaded Python oracle.

The three BASELINE.json correctness criteria:
1. crawl-ordering match rate == 1.0 (per-host fetch sequences),
2. final URL-seen set exactly equal,
3. span-sequence equality per document (the per-row invariant).
Plus: resume-from-snapshot equivalence — asserted STRUCTURALLY: the
shared ``full_crawl`` fixture (conftest) is constructed by resuming a
2-epoch prefix with fresh engine/catalog objects, so every oracle
comparison below runs over the resume path.
"""

import shutil
import time

import pytest
from pyspark.sql import functions as F

from mediacrawler_spark.oracle import CrawlOracle
from mediacrawler_spark.plans.epoch import CrawlEngine, EngineConfig
from mediacrawler_spark.sinks.snapshot import SnapshotCatalog

CFG = EngineConfig(max_comments_per_note=25, max_epochs=80)


@pytest.fixture(scope="module")
def oracle_result(universe):
    o = CrawlOracle(
        universe.pages,
        universe.robots,
        universe.politeness,
        default_budget=CFG.default_budget,
        comments_per_page=CFG.comments_per_page,
        max_comments_per_note=CFG.max_comments_per_note,
        epoch_ts=CFG.epoch_ts,
    )
    return o.run(universe.seeds)


def test_seen_set_exact_equality(full_crawl, oracle_result):
    got = {r["url"] for r in full_crawl["eng"].catalog.read("seen").collect()}
    assert got == oracle_result.seen


def test_crawl_ordering_match(full_crawl, oracle_result):
    log = (
        full_crawl["eng"].fetch_log()
        .orderBy("host", "epoch", "host_rank")
        .select("host", "url", "epoch", "kind")
        .collect()
    )
    got: dict[str, list] = {}
    for r in log:
        got.setdefault(r["host"], []).append((r["url"], r["epoch"], r["kind"]))
    assert set(got) == set(oracle_result.fetch_order)
    mismatches = {
        h: (got[h], oracle_result.fetch_order[h])
        for h in got
        if got[h] != oracle_result.fetch_order[h]
    }
    assert not mismatches, f"ordering mismatch on {len(mismatches)} hosts: " + str(
        dict(list(mismatches.items())[:1])
    )


def test_span_sequence_equality(full_crawl, oracle_result):
    got = {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]
        ]
        for r in full_crawl["eng"].documents().collect()
    }
    assert set(got) == set(oracle_result.documents)
    for doc_id, want in oracle_result.documents.items():
        assert got[doc_id] == want, f"span mismatch in {doc_id}"


def test_fetch_counts_match(full_crawl, oracle_result):
    assert full_crawl["total_fetched"] == oracle_result.total_fetched


def test_mandatory_cases_exercised(oracle_result, universe):
    """The universe actually contains the FIXTURES.md mandatory cases."""
    all_fetches = [u for fs in oracle_result.fetch_order.values() for (u, _, _) in fs]
    assert any("/comments/" in u for u in all_fetches)
    assert any("/subcomments/" in u for u in all_fetches)
    assert any("/search?" in u for u in all_fetches)
    # two-strike rule: the extra empty page (page=3 of last keyword) never fetched
    assert any(u.endswith("page=2") for u in all_fetches)
    assert not any(u.endswith("page=3") for u in all_fetches)
    # robots-denied private seed never fetched, never seen
    assert not any("/private/" in u for u in all_fetches)
    assert not any("/private/" in u for u in oracle_result.seen)
    # denied comments host: comment pages never fetched there
    from mediacrawler_spark.fixtures import DENIED_COMMENTS_HOST
    assert not any(
        "/comments/" in u
        for (u, _, _) in oracle_result.fetch_order.get(DENIED_COMMENTS_HOST, [])
    )


def test_resume_equivalence(partial_crawl, full_crawl, oracle_result):
    """Kill-after-epoch-1 equivalence. The shared full_crawl IS the
    resumed run (fresh engine + catalog over a copy of the 2-epoch
    prefix — only the on-disk snapshot carries over), so this pins the
    construction: the prefix committed exactly epochs 0-1, the resumed
    engine continued from epoch 2, and the combined result equals the
    uninterrupted oracle (seen/docs equality is asserted above over the
    same resumed engine)."""
    prefix_epochs = [st.epoch for st in partial_crawl["res"].epochs]
    assert prefix_epochs == [0, 1]
    resumed = [st.epoch for st in full_crawl["resumed_epochs"]]
    assert resumed and resumed[0] == 2
    assert full_crawl["total_fetched"] == oracle_result.total_fetched


# ----------------------------------------- quarantine lifecycle (471) ----
@pytest.fixture(scope="module")
def quarantine_run(spark, tmp_path_factory):
    """ONE 102-note crawl exercising BOTH quarantine regressions
    (previously two separate full runs): the 471 page's host has NO
    politeness row (ADVICE r01: the left-join pol build used to drop such
    quarantine rows) and the run continues past every quarantine's expiry
    so the commit-time prune can be asserted (VERDICT r03 #2). The 471
    note sits beyond the 1-page search listings, so it is seeded directly
    (S2 specified-URL seed)."""
    import pandas as pd

    from mediacrawler_spark.fixtures import UniverseParams, build_universe
    from mediacrawler_spark.schemas import (
        PAGES_SCHEMA, POLITENESS_SCHEMA, ROBOTS_SCHEMA, SEEDS_SCHEMA,
    )

    # n_notes > 101 so the i%101==100 blocked-471 page exists
    u = build_universe(
        UniverseParams(
            n_notes=102, n_hosts=6, n_keywords=2,
            search_pages_per_keyword=1, max_comments_per_note=10,
        )
    )
    blocked_urls = list(u.pages[u.pages["status"] == 471]["url"])
    blocked_hosts = {url.split("/")[2] for url in blocked_urls}
    assert blocked_hosts, "fixture must contain a 471 page"
    pol_pruned = u.politeness[~u.politeness["host"].isin(blocked_hosts)]
    assert len(pol_pruned) < len(u.politeness)
    seeds = pd.concat(
        [
            u.seeds,
            pd.DataFrame(
                [
                    {"url": url, "platform": "xhs", "kind": "detail",
                     "keyword": None, "priority": 0, "seq": 0}
                    for url in blocked_urls
                ]
            ),
        ],
        ignore_index=True,
    )
    cfg = EngineConfig(max_comments_per_note=10, max_epochs=80)
    cat = SnapshotCatalog(spark, str(tmp_path_factory.mktemp("snap_quar") / "cat"))
    eng = CrawlEngine(
        spark, cat,
        spark.createDataFrame(u.pages, PAGES_SCHEMA),
        spark.createDataFrame(u.robots, ROBOTS_SCHEMA),
        spark.createDataFrame(pol_pruned, POLITENESS_SCHEMA),
        cfg,
    )
    res = eng.run(spark.createDataFrame(seeds, SEEDS_SCHEMA))
    oracle = CrawlOracle(
        u.pages, u.robots, pol_pruned,
        default_budget=cfg.default_budget,
        comments_per_page=cfg.comments_per_page,
        max_comments_per_note=cfg.max_comments_per_note,
        epoch_ts=cfg.epoch_ts,
    ).run(seeds)

    # state at completion (before the expiry-drive below)
    fetch_log = [
        (r["host"], r["url"], r["epoch"], r["kind"], r["status"])
        for r in eng.fetch_log()
        .orderBy("host", "epoch", "host_rank")
        .select("host", "url", "epoch", "kind", "status")
        .collect()
    ]
    q = cat.read("quarantine")
    quarantine_rows = q.collect() if q is not None else []
    seen_done = {r["url"] for r in cat.read("seen").collect()}

    # drive a few empty epochs past the last quarantine's expiry
    for _ in range(3):
        eng.run(None, max_epochs=1)
    final_q = cat.read("quarantine")
    final_hosts = (
        {r["host"] for r in final_q.collect()} if final_q is not None else set()
    )
    seen_final = {r["url"] for r in cat.read("seen").collect()}

    return {
        "blocked_urls": set(blocked_urls),
        "res": res,
        "oracle": oracle,
        "fetch_log": fetch_log,
        "quarantine_rows": quarantine_rows,
        "seen_done": seen_done,
        "final_hosts": final_hosts,
        "seen_final": seen_final,
        "last_epoch": res.epochs[-1].epoch,
    }


def test_quarantine_on_host_without_politeness_row(quarantine_run):
    """Regression (ADVICE r01, medium): a 471 on a host absent from the
    politeness table must still quarantine that host — the engine's
    fetch order/seen set must match the oracle, which defers the host."""
    r = quarantine_run
    blocked_fetch_epochs = [
        ep
        for fs in r["oracle"].fetch_order.values()
        for (url, ep, _k) in fs
        if url in r["blocked_urls"]
    ]
    assert blocked_fetch_epochs, "471 page must be exercised for this test to bite"
    assert r["seen_done"] == r["oracle"].seen
    got: dict[str, list] = {}
    for host, url, ep, kind, _status in r["fetch_log"]:
        got.setdefault(host, []).append((url, ep, kind))
    assert got == r["oracle"].fetch_order
    assert r["res"].total_fetched == r["oracle"].total_fetched


def test_quarantine_table_pruned_to_active(quarantine_run):
    """VERDICT r03 #2: the committed quarantine table holds only ACTIVE
    rows (until > last epoch) — hosts quarantined early in the crawl must
    not be carried and rewritten forever after expiry."""
    r = quarantine_run
    blocked = {h for (h, _u, _e, _k, status) in r["fetch_log"] if status in (471, 461)}
    assert blocked, "universe must exercise the quarantine path"
    # every committed row is ACTIVE (expired ones were dropped at commit)
    assert all(row["quarantined_until"] > r["last_epoch"] for row in r["quarantine_rows"])
    # after the expiry drive the blocked host's row is gone
    assert not r["final_hosts"] & blocked
    # prune is mirrored on both sides: seen set still matches the oracle
    assert r["seen_final"] == r["oracle"].seen


def test_max_pages_per_chain_boundary(spark, tmp_path):
    """Regression (ADVICE r01): the cursor-chain safety valve must exist on
    BOTH engine and oracle sides, or a chain reaching the cap diverges.
    Pins the boundary with a tiny cap against a deep search chain: pages
    up to seq == cap fetch, seq == cap+1 never does, and the full
    fetch-order/seen invariants still hold."""
    from mediacrawler_spark.fixtures import UniverseParams, build_universe
    from mediacrawler_spark.schemas import (
        PAGES_SCHEMA,
        POLITENESS_SCHEMA,
        ROBOTS_SCHEMA,
        SEEDS_SCHEMA,
    )

    cap = 2
    u = build_universe(
        UniverseParams(
            n_notes=30, n_hosts=3, n_keywords=2,
            search_pages_per_keyword=6, max_comments_per_note=10,
        )
    )
    cfg = EngineConfig(max_comments_per_note=10, max_pages_per_chain=cap, max_epochs=60)
    cat = SnapshotCatalog(spark, str(tmp_path / "snap_cap"))
    eng = CrawlEngine(
        spark, cat,
        spark.createDataFrame(u.pages, PAGES_SCHEMA),
        spark.createDataFrame(u.robots, ROBOTS_SCHEMA),
        spark.createDataFrame(u.politeness, POLITENESS_SCHEMA),
        cfg,
    )
    res = eng.run(spark.createDataFrame(u.seeds, SEEDS_SCHEMA))
    oracle = CrawlOracle(
        u.pages, u.robots, u.politeness,
        default_budget=cfg.default_budget,
        comments_per_page=cfg.comments_per_page,
        max_comments_per_note=cfg.max_comments_per_note,
        max_pages_per_chain=cap,
        epoch_ts=cfg.epoch_ts,
    ).run(u.seeds)

    got_seen = {r["url"] for r in cat.read("seen").collect()}
    assert got_seen == oracle.seen
    assert res.total_fetched == oracle.total_fetched
    # the cap actually bit: a search page at seq == cap fetched, none past it
    search_pages = [u for u in got_seen if "/search?" in u]
    pages_fetched = {int(u.rsplit("page=", 1)[1]) for u in search_pages}
    assert cap in pages_fetched, "fixture must reach the cap boundary"
    assert max(pages_fetched) == cap, f"chain ran past the cap: {pages_fetched}"


def test_lineage_written(full_crawl):
    lin = full_crawl["eng"].catalog.read("lineage")
    assert lin is not None
    total = lin.agg(F.sum("fetch_count").alias("s")).collect()[0]["s"]
    assert total == full_crawl["total_fetched"]


def test_lineage_per_partition_attribution(full_crawl):
    """VERDICT r03 #7: fetch_count sums are meaningful per partition;
    dedup/emitted are epoch-level facts on exactly one partition_id=-1
    summary row per epoch, matching the engine's own EpochStats."""
    eng = full_crawl["eng"]
    lin = eng.catalog.read("lineage")
    per_epoch = {
        r["frontier_epoch"]: r
        for r in lin.filter("partition_id >= 0")
        .groupBy("frontier_epoch")
        .agg(F.sum("fetch_count").alias("fetched"))
        .collect()
    }
    summaries = lin.filter("partition_id = -1").collect()
    by_epoch = {}
    for r in summaries:
        by_epoch.setdefault(r["frontier_epoch"], []).append(r)
    for st in full_crawl["epochs"]:
        got = per_epoch.get(st.epoch)
        assert (got["fetched"] if got else 0) == st.fetched, st
        srows = by_epoch.get(st.epoch, [])
        assert len(srows) == 1, (st.epoch, srows)
        assert srows[0]["dedup_count"] == st.deduped
        assert srows[0]["emitted_count"] == st.emitted
        assert srows[0]["fetch_count"] is None
    # per-partition rows never carry epoch-level counts
    assert (
        lin.filter(
            "partition_id >= 0 and "
            "(dedup_count is not null or emitted_count is not null)"
        ).count()
        == 0
    )
    assert eng.catalog.fsck() == []


# ------------------------------------ a failing overlapped epoch write ----
class _FailingSpansCatalog(SnapshotCatalog):
    """Raises in the ``span_rows`` write of epoch 2 and slows its sibling
    ``fetch_log`` write, recording when each epoch-2 write returned."""

    def __init__(self, spark, root):
        super().__init__(spark, root)
        self.returned: dict[str, float] = {}

    def stage_append(self, df, table, epoch):
        if epoch == 2 and table == "span_rows":
            raise RuntimeError("span_rows write failed")
        if epoch == 2 and table == "fetch_log":
            time.sleep(1.0)  # still running when the span write fails
        super().stage_append(df, table, epoch)
        if epoch == 2:
            self.returned[table] = time.perf_counter()

    def stage(self, df, table):
        super().stage(df, table)
        if self.committed_epoch() + 1 == 2:
            self.returned[table] = time.perf_counter()


def test_failed_overlapped_write_commits_nothing_and_resumes(
    spark, udfs, partial_crawl, oracle_result, tmp_path
):
    """A write that fails on a pool thread fails the epoch only after its
    sibling writes returned, commits nothing, and a fresh engine resumed
    from the last commit still reaches the oracle's crawl."""
    root = str(tmp_path / "cat")
    shutil.copytree(partial_crawl["root"], root)
    cat = _FailingSpansCatalog(spark, root)
    dims = (udfs["pages"], udfs["robots"], udfs["politeness"])
    with pytest.raises(RuntimeError, match="span_rows write failed"):
        CrawlEngine(spark, cat, *dims, CFG).run(None)
    raised_at = time.perf_counter()
    siblings = {"seen", "retries", "quarantine", "fetch_log", "candidates", "lineage"}
    assert siblings <= set(cat.returned), sorted(cat.returned)
    assert max(cat.returned.values()) < raised_at
    assert cat.committed_epoch() == 1
    assert SnapshotCatalog(spark, root).committed_epoch() == 1

    eng = CrawlEngine(spark, SnapshotCatalog(spark, root), *dims, CFG)
    res = eng.run(None)
    assert res.epochs[0].epoch == 2
    assert {r["url"] for r in eng.catalog.read("seen").collect()} == oracle_result.seen
    order: dict[str, list] = {}
    for r in eng.fetch_log().orderBy("host", "epoch", "host_rank").collect():
        order.setdefault(r["host"], []).append((r["url"], r["epoch"], r["kind"]))
    assert order == oracle_result.fetch_order
    docs = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in eng.documents().collect()
    }
    assert docs == oracle_result.documents
