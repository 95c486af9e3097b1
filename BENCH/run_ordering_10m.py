#!/usr/bin/env python
"""Crawl-ordering + seen-set oracle at the 10^7-URL bench scale.

BASELINE.json's metric is "crawl-ordering match rate on a 10^7-URL
synthetic seed list with reference politeness budget". The full
CrawlOracle replays successor emission row-by-row in Python — fine at
10^4, hopeless at 10^7 — so this oracle vectorizes the admission +
selection semantics (the part the 10^7 seed-list metric exercises) in
numpy/pandas:

  canonicalize → intra-batch dedup (deterministic winner) →
  seen anti-join → per-host (priority, seq, url_hash) budget-prefix
  selection with host_rank

Independence: the oracle derives canonical URLs ANALYTICALLY from the
generator formula (never calling the engine's canonicalizer) and
re-implements dedup/selection with numpy sorts. The only shared
primitive is xxhash64 — computed by Spark on canonical strings the
oracle constructed itself, and pinned Spark↔pure-python by
tests/test_scalars.py.

Checks:
  1. engine canonical URL multiset == analytic canonical multiset
  2. admitted url_hash set == oracle admitted set (exact)
  3. (host, host_rank → url_hash) selection == oracle budget prefixes
     → per-host ordering match rate (the metric; must be 1.0)

Usage: python BENCH/run_ordering_10m.py [n_urls]   (default 10_000_000)
Writes the result section into BENCH/BASELINE.md.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import numpy as np
import pandas as pd

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

N_HOSTS = 100
BUDGET = 5_000


def _spark():
    from mediacrawler_spark.session import get_spark

    return get_spark(app_name="ordering_10m", cpus=32, shuffle_partitions=32)


def run(n_urls: int, spark=None, seen_filter: str = "bloom") -> dict:
    from pyspark.sql import functions as F

    from mediacrawler_spark.bench_workloads import synthetic_seed_urls, synthetic_seen
    from mediacrawler_spark.functions.urls import canonicalize_urls, host_of
    from mediacrawler_spark.operators.dedup import (
        SEEN_FILTERS,
        build_bloom_table,
        dedup_against_seen_bloom,
        dedup_within_batch,
    )
    from mediacrawler_spark.operators.politeness import select_fetch_set

    spark = spark or _spark()
    t0 = time.perf_counter()

    # ---- engine side --------------------------------------------------------
    raw = synthetic_seed_urls(spark, n_urls, N_HOSTS)
    cand = (
        raw.withColumn("url", canonicalize_urls(F.col("url")))
        .withColumn("url_hash", F.xxhash64("url"))
        .withColumn("host", host_of(F.col("url")))
        .withColumn("platform", F.lit("xhs"))
        .withColumn("kind", F.lit("detail"))
        .withColumn("parent_id", F.lit(None).cast("string"))
        .withColumn("cursor", F.lit(""))
        .withColumn("parent_seq", F.lit(-1).cast("long"))
        .withColumn("empty_streak", F.lit(0))
        .withColumn("attempt", F.lit(0))
        .withColumn("not_before_epoch", F.lit(0))
        .withColumn("epoch", F.lit(0))
    )
    unique = dedup_within_batch(cand).persist()
    seen = synthetic_seen(spark, unique).persist()
    params = SEEN_FILTERS[seen_filter].size(max(1024, n_urls), 0.01, 32)
    table = build_bloom_table(seen, params)
    admitted = dedup_against_seen_bloom(unique, seen, table, params).persist()
    politeness = spark.createDataFrame(
        [("h0.example.test", BUDGET, 0)]
        + [(f"h{i}.example.test", BUDGET, 0) for i in range(1, N_HOSTS + 1)],
        "host string, budget_per_epoch int, quarantined_until int",
    )
    selected = select_fetch_set(admitted, politeness, epoch=0, default_budget=BUDGET)

    eng_canon = cand.select("url").toPandas()["url"].to_numpy()
    eng_admitted = np.sort(admitted.select("url_hash").toPandas()["url_hash"].to_numpy())
    eng_sel = (
        selected.select("host", "host_rank", "url_hash")
        .toPandas()
        .sort_values(["host", "host_rank"])
        .reset_index(drop=True)
    )
    eng_seen_hashes = np.sort(seen.select("url_hash").toPandas()["url_hash"].to_numpy())
    engine_secs = time.perf_counter() - t0

    # ---- numpy oracle -------------------------------------------------------
    # generator formula (bench_workloads.synthetic_seed_urls): note = id %
    # base; canonical query of "?utm_source=bench&b=2&a=1" is "?a=1&b=2"
    # (utm dropped, rest sorted); host from pmod(xxhash64(note), ...).
    t1 = time.perf_counter()
    base = int(n_urls * 0.8)
    base -= base % 4
    base = base or 4
    ids = np.arange(n_urls, dtype=np.int64)
    note = ids % base

    # per-note host + priority need xxhash64(long) — shared primitive,
    # computed by Spark on the oracle's own inputs, not on engine output
    uniq_notes = np.arange(min(base, n_urls), dtype=np.int64)
    hdf = spark.createDataFrame(
        pd.DataFrame({"note": uniq_notes}), "note long"
    ).select("note", F.xxhash64("note").alias("h"))
    note_h = hdf.toPandas().sort_values("note")["h"].to_numpy()

    # per-NOTE attributes (hosts/priority/canonical are note-constant)
    hosts_tbl = np.array(
        ["h0.example.test"] + [f"h{i}.example.test" for i in range(1, N_HOSTS + 1)]
    )
    hot_n = np.mod(np.mod(note_h, 2) + 2, 2) == 0
    host_code_n = np.where(
        hot_n, 0, np.mod(np.mod(note_h, N_HOSTS) + N_HOSTS, N_HOSTS) + 1
    )
    priority_n = np.where(np.mod(np.mod(note_h, 4) + 4, 4) == 0, 1, 0)

    # Spark's conv(x, 10, 16) emits UPPERCASE hex
    hexn = np.array([format(n, "X").zfill(16) for n in uniq_notes])
    canon_n = np.char.add(
        np.char.add(np.char.add("https://", hosts_tbl[host_code_n]), "/note/"),
        np.char.add(hexn, "?a=1&b=2"),
    )
    canon_all = canon_n[note]  # per-row canonical, dups included
    canon_match = bool(np.array_equal(np.sort(eng_canon), np.sort(canon_all)))

    # url_hash of canonical strings (shared primitive on oracle strings)
    note_hash = (
        spark.createDataFrame(pd.DataFrame({"u": canon_n}), "u string")
        .select(F.xxhash64("u").alias("h"))
        .toPandas()["h"]
        .to_numpy()
    )

    # intra-batch dedup: winner per note = min (priority, seq, url); url and
    # priority are note-constant → min seq over the note's rows.
    seq = ids % 1000
    min_seq = (
        pd.DataFrame({"note": note, "seq": seq})
        .groupby("note", sort=True)["seq"]
        .min()
        .to_numpy()
    )

    # seen rule (synthetic_seen frac=0.3 → pmod(url_hash, 3) == 0)
    o_seen_mask = np.mod(np.mod(note_hash, 3) + 3, 3) == 0
    o_seen = np.sort(note_hash[o_seen_mask])
    o_admit = np.sort(note_hash[~o_seen_mask])
    seen_match = bool(np.array_equal(o_seen, eng_seen_hashes))
    admit_match = bool(np.array_equal(o_admit, eng_admitted))

    # selection: per host, (priority, seq, url_hash) budget prefix
    sel = pd.DataFrame(
        {
            "host": host_code_n[~o_seen_mask],
            "priority": priority_n[~o_seen_mask],
            "seq": min_seq[~o_seen_mask],
            "url_hash": note_hash[~o_seen_mask],
        }
    )
    sel.sort_values(["host", "priority", "seq", "url_hash"], inplace=True, kind="mergesort")
    sel["host_rank"] = sel.groupby("host", sort=False).cumcount() + 1
    winners = sel[sel["host_rank"] <= BUDGET]
    o_sel = pd.DataFrame(
        {
            "host": hosts_tbl[winners["host"].to_numpy()],
            "host_rank": winners["host_rank"].to_numpy(),
            "url_hash": winners["url_hash"].to_numpy(),
        }
    ).sort_values(["host", "host_rank"]).reset_index(drop=True)
    sel_match = bool(
        len(o_sel) == len(eng_sel)
        and np.array_equal(o_sel["host"].to_numpy(), eng_sel["host"].to_numpy())
        and np.array_equal(o_sel["host_rank"].to_numpy(), eng_sel["host_rank"].to_numpy())
        and np.array_equal(o_sel["url_hash"].to_numpy(), eng_sel["url_hash"].to_numpy())
    )
    hosts_matched = int(
        sum(
            np.array_equal(
                o_sel[o_sel["host"] == h]["url_hash"].to_numpy(),
                eng_sel[eng_sel["host"] == h]["url_hash"].to_numpy(),
            )
            for h in np.unique(o_sel["host"])
        )
    )
    n_hosts = int(len(np.unique(o_sel["host"])))
    oracle_secs = time.perf_counter() - t1

    unique.unpersist(); seen.unpersist(); admitted.unpersist()
    return {
        "n_urls": n_urls,
        "canon_match": canon_match,
        "seen_match": seen_match,
        "admitted_match": admit_match,
        "selection_match": sel_match,
        "hosts_matched": hosts_matched,
        "n_hosts": n_hosts,
        "match_rate": hosts_matched / max(1, n_hosts),
        "engine_secs": round(engine_secs, 1),
        "oracle_secs": round(oracle_secs, 1),
    }


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    seen_filter = sys.argv[2] if len(sys.argv) > 2 else "bloom"
    r = run(n, seen_filter=seen_filter)
    print(r)
    ok = r["canon_match"] and r["seen_match"] and r["admitted_match"] and r["selection_match"]
    section = f"""
## Crawl-ordering oracle at 10^7 URLs

Vectorized numpy oracle (BENCH/run_ordering_10m.py) re-deriving the
admission + selection semantics independently (analytic canonical URLs
from the generator formula, pandas/numpy dedup + budget-prefix ranking;
only the xxhash64 primitive is shared, pinned Spark↔python elsewhere):

| check | result |
|---|---|
| canonical URL multiset ({r['n_urls']:,} rows) | {'MATCH' if r['canon_match'] else 'MISMATCH'} |
| seen set | {'MATCH' if r['seen_match'] else 'MISMATCH'} |
| admitted url_hash set (exact dedup) | {'MATCH' if r['admitted_match'] else 'MISMATCH'} |
| per-host (priority, seq, url_hash) budget-prefix selection | {'MATCH' if r['selection_match'] else 'MISMATCH'} |

**ordering match rate = {r['hosts_matched']}/{r['n_hosts']} hosts = {r['match_rate']:.3f}** ({'PASS' if ok and r['match_rate'] == 1.0 else 'FAIL'})

Engine pass {r['engine_secs']}s on local[32]; oracle pass {r['oracle_secs']}s.
Reproduce: `python BENCH/run_ordering_10m.py {r['n_urls']}`
Generated: {time.strftime('%Y-%m-%d %H:%M:%S UTC', time.gmtime())}
"""
    path = REPO / "BENCH" / "BASELINE.md"
    existing = path.read_text() if path.exists() else "# BENCH/BASELINE — scaling evidence\n"
    marker = "\n## Crawl-ordering oracle at 10^7"
    if marker in existing:
        head, _, tail = existing.partition(marker)
        nxt = tail.find("\n## ")
        existing = head + (tail[nxt:] if nxt != -1 else "")
    path.write_text(existing + section)
    print(section)


if __name__ == "__main__":
    main()
