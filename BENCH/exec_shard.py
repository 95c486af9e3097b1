#!/usr/bin/env python
"""One emulated executor of the process-cluster scaling bench.

Runs the admission pipeline (canonicalize → xxhash64 → intra-batch dedup →
bloom build/probe → exact anti-join) on its input split of the same
deterministic synthetic seed list (ids ≡ rank mod E — each executor reads
only its split, like a cluster executor reads its own file splits; the
generator keeps every duplicate group inside one split, so E independent
executors compute the same global admitted set as one).

Protocol: warm up, touch <sync_dir>/ready.<rank>, spin until
<sync_dir>/go exists, run the measured pass, print one JSON line.

Usage: exec_shard.py <rank> <n_exec> <n_urls> <cores> <sync_dir>
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    rank, n_exec, n_urls, cores = (int(a) for a in sys.argv[1:5])
    sync_dir = sys.argv[5]

    from pyspark.sql import functions as F

    from mediacrawler_spark.bench_workloads import synthetic_seed_urls, synthetic_seen
    from mediacrawler_spark.functions.urls import canonicalize_urls, host_of
    from mediacrawler_spark.operators.dedup import (
        BloomParams,
        build_bloom_table,
        dedup_against_seen_bloom,
        dedup_within_batch,
    )
    from mediacrawler_spark.session import get_spark

    # A real cluster executor owns only its slice of the machine. Without
    # ActiveProcessorCount each JVM sizes GC/JIT/netty pools for all the
    # host's cores — 4 such JVMs thrash each other (measured 2.3× slowdown).
    spark = get_spark(
        app_name=f"exec{rank}",
        cpus=cores,
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.extraJavaOptions": (
                f"-XX:+UseParallelGC -XX:ActiveProcessorCount={cores}"
            ),
        },
    )

    def admit(n: int) -> tuple[int, int]:
        raw = synthetic_seed_urls(spark, n, rank=rank, n_exec=n_exec)
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
        params = BloomParams.size(max(1024, n // n_exec), 0.01, 16)
        table = build_bloom_table(seen, params)
        admitted = dedup_against_seen_bloom(unique, seen, table, params)
        n_adm = admitted.count()
        n_in = cand.count()
        unique.unpersist()
        seen.unpersist()
        return n_in, n_adm

    # warmup: the SAME full-size pass the measured run does — a small
    # slice compiles codegen but leaves C2/shuffle paths cold (measured
    # 10-13s vs 7-9s steady state on the thread bench); runs before the
    # barrier so it never lands in the synchronized measured window
    admit(n_urls)

    open(os.path.join(sync_dir, f"ready.{rank}"), "w").write("1")
    go = os.path.join(sync_dir, "go")
    while not os.path.exists(go):
        time.sleep(0.05)

    t0 = time.perf_counter()
    n_in, n_adm = admit(n_urls)
    dt = time.perf_counter() - t0
    print(json.dumps({"rank": rank, "rows_in": n_in, "admitted": n_adm, "seconds": round(dt, 3)}))
    spark.stop()


if __name__ == "__main__":
    main()
