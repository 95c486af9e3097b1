"""The epoch-based crawl driver loop (SURVEY §3, §4).

One epoch = one Spark job DAG:

    candidates ── robots gate ── intra-batch dedup ── bloom+anti-join vs
    seen ──► admitted to frontier (+ seen append)
    frontier ── due filter ── politeness/priority two-phase top-k ──►
    fetch set ── fetch (corpus join / mapInPandas) ──► outcomes
    successes ──► span rows + successor candidates
    failures  ──► retry rows (backoff) / host quarantine
    everything ──► ONE snapshot commit (frontier logs, seen, spans,
    fetch_log, lineage) — resume re-reads the last commit (north_rule).

The writes that depend only on already-staged tables run overlapped on a
pool of at most four threads, joined before the commit: the filter update
and the ``seen`` append beside selection and fetch, then the ``fetched``
derivatives (spans, retries, quarantine, fetch_log, successors →
lineage). Each alone is a few small jobs; issued one after another they
left most cores idle between one job's driver-side planning and the next.

The reference's equivalent is its nested asyncio loops (SURVEY §3.1); the
epoch loop linearizes them: each platform page-loop iteration becomes a
frontier row fetched in some epoch, with cursor chains serialized across
epochs (risk §7.4.2 — throughput comes from breadth).

Snapshot writes double as iterative-loop lineage truncation: each epoch's
state is re-read from parquet, so the logical plan never grows with epoch
count.

The frontier is merge-on-read (the Iceberg-v2 equality-delete pattern): a
folded base ptable plus the ``admitted``/``retries``/``fetched`` append
logs committed since the last fold. ``(url_hash, attempt)`` identifies a
frontier row — an admitted row has attempt 0 and seen-dedup admits each
url_hash once; a retry of a row fetched at attempt k is inserted once with
attempt k+1; a fetched row carries the attempt of the row it consumed — so

    frontier = (base ∪ admitted ∪ retries) left_anti fetched
               on (url_hash, attempt)

An epoch only appends to the logs; maintenance folds them into a new base
(the fold is the only frontier rewrite), so bytes written per epoch scale
with the epoch's delta, never with |frontier|.
"""

from __future__ import annotations

from concurrent.futures import Future, ThreadPoolExecutor, wait
from dataclasses import dataclass, field
from functools import partial

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mediacrawler_spark.operators.dedup import (
    CUCKOO_OVER_CAPACITY,
    SEEN_FILTERS,
    build_bloom_table,
    dedup_against_seen_bloom,
    dedup_within_batch,
    filter_meta,
    filter_params_from_meta,
    filter_schema,
    update_filter,
)
from mediacrawler_spark.operators.extract import (
    SPAN_ROWS_SCHEMA,
    assemble_documents,
    extract_span_rows,
)
from mediacrawler_spark.operators.frontier import (
    FRONTIER_COLS,
    classify_outcomes,
    emit_successors,
    seeds_to_candidates,
)
from mediacrawler_spark.functions.urls import host_of, with_canonical_url
from mediacrawler_spark.operators.politeness import (
    apply_robots,
    merge_quarantine,
    select_fetch_set,
)
from mediacrawler_spark.schemas import FRONTIER_SCHEMA, SEEN_SCHEMA, empty_frame
from mediacrawler_spark.sinks.snapshot import SnapshotCatalog
from mediacrawler_spark.sources.fetch import fetch_via_corpus


@dataclass
class EngineConfig:
    default_budget: int = 8
    salt_splits: int = 8
    comments_per_page: int = 10
    max_comments_per_note: int = 500
    max_pages_per_chain: int = 1000  # cursor-chain safety valve (oracle-mirrored)
    max_epochs: int = 200
    # append-table compaction threshold (Iceberg rewrite_data_files analog):
    # rewrite per-epoch dirs into one once a table exceeds this many
    compact_appends_after: int = 32
    # commit-log roll threshold (Iceberg metadata-file roll analog): once
    # the jsonl exceeds this many records, rewrite it to the last 2
    # checkpoint records so startup/maintenance parses stay O(1) in epochs
    commit_log_max_lines: int = 64
    # snapshot-expiry depth (Iceberg expire_snapshots analog): maintenance
    # keeps version/ptable-leaf dirs pinned by this many recent commits.
    # This is also the catalog.rollback_to reach knob — rollback refuses
    # records whose pins expiry removed, so deepen this (and the prune /
    # compaction thresholds) when operational rewind matters more than
    # storage.
    expire_keep_last: int = 2
    # hash-partition count (pmod(url_hash, P) directory layout) of the
    # frontier's folded base, which only the maintenance fold rewrites.
    # Size so one partition ≈ a few hundred MB at the design point (10^10
    # rows → P in the thousands); seeds a fresh catalog's first fold.
    frontier_partitions: int = 32
    # adaptive repartitioning: when the largest committed base partition
    # exceeds this many bytes, the next fold writes the base with 2P
    # partitions (VERDICT r03 #4 — the 10^10 design point needs thousands
    # of partitions a fresh catalog wouldn't start with). Default sized so
    # a partition stays comfortably inside one executor task's memory.
    frontier_max_part_bytes: int = 256 << 20
    # URL-seen prefilter kind (north_rule "bloom/cuckoo"): bloom is the
    # smaller append-only default; cuckoo supports DELETE for TTL/eviction
    # re-crawl scenarios (kernels: operators/dedup.py, operators/cuckoo.py)
    seen_filter: str = "bloom"
    bloom_fpp: float = 0.01
    # FLOOR for the filter shard count; rebuilds raise it adaptively so
    # one shard's serialized state stays under filter_shard_target_bytes
    # (see _filter_shards_for) — 16 fixed shards at the 10^10-key design
    # point would mean ~750 MB bloom rewrites per dirty shard.
    bloom_shards: int = 16
    filter_shard_target_bytes: int = 32 << 20
    # above this total bitmap size the probe switches from broadcast-dict
    # to shard-wise cogroup (one shard per task, never the whole filter)
    bloom_broadcast_max_bytes: int = 32 << 20
    epoch_ts: int = 1_700_000_000  # deterministic "now" for robots TTL


# the frontier's append logs; fetched rows are the equality deletes
_FRONTIER_LOGS = ("admitted", "retries", "fetched")
_ROW_KEY = ["url_hash", "attempt"]
# threads overlapping one epoch's independent snapshot writes
_WRITE_THREADS = 4


@dataclass
class EpochStats:
    epoch: int
    admitted: int
    deduped: int
    fetched: int
    emitted: int


@dataclass
class RunResult:
    epochs: list[EpochStats] = field(default_factory=list)

    @property
    def total_fetched(self) -> int:
        return sum(e.fetched for e in self.epochs)

    @property
    def total_admitted(self) -> int:
        return sum(e.admitted for e in self.epochs)

    @property
    def total_deduped(self) -> int:
        return sum(e.deduped for e in self.epochs)


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        catalog: SnapshotCatalog,
        pages: DataFrame,
        robots: DataFrame,
        politeness: DataFrame,
        config: EngineConfig | None = None,
        fetch_fn=None,
    ):
        self.spark = spark
        self.catalog = catalog
        self.pages = pages
        self.robots = robots
        self.politeness = politeness
        self.cfg = config or EngineConfig()
        # pluggable fetch stage (selected, pages) -> fetched DataFrame:
        # default is the corpus-join responder; production passes a
        # fetch_live wrapper (sources/fetch.py) — same stage contract
        self.fetch_fn = fetch_fn or fetch_via_corpus
        # engine-owned winner-set cache slot: interleaved engines in one
        # process must not unpersist each other's live winner DataFrame
        self._winner_cache: dict = {}
        # static admission expressions built once — re-building them per
        # epoch was pure py4j chatter (round-5 profile). Canonicalization
        # itself is DataFrame-level (with_canonical_url: codegen for
        # eligible rows, Arrow UDF only on the complement).
        self._url_hash = F.xxhash64("url")
        self._host_col = host_of(F.col("url"))

    # -- state accessors (resume-aware) --------------------------------------
    def _frontier_fold(self) -> dict:
        """The fold meta of the last commit: ``folded_through`` (epoch of
        the last fold) and ``log`` (epochs whose log increments are live
        on top of the base). A snapshot without it predates merge-on-read:
        its base already IS the full frontier, so it counts as folded
        through its head and retained admitted/fetched increments are
        never applied again."""
        m = self.catalog.meta().get("frontier")
        if m is None:
            return {"folded_through": self.catalog.committed_epoch(), "log": []}
        return {"folded_through": int(m["folded_through"]), "log": list(m["log"])}

    def _frontier(self) -> DataFrame:
        """The committed frontier: base ∪ admitted ∪ retries left_anti
        fetched on (url_hash, attempt), over the log epochs since the
        fold. A log increment the last commit no longer pins (pruned
        before a fold) raises — it never silently shrinks the frontier."""
        base = self.catalog.read("frontier")
        log = self._frontier_fold()["log"]
        if not log:
            return base if base is not None else empty_frame(self.spark, FRONTIER_SCHEMA)
        live = self.catalog.read_increments("admitted", log).unionByName(
            self.catalog.read_increments("retries", log)
        )
        if base is not None:
            live = base.unionByName(live)
        deletes = self.catalog.read_increments("fetched", log).select(*_ROW_KEY)
        return live.join(deletes, on=_ROW_KEY, how="left_anti")

    def _frontier_rows(self) -> int:
        """Exact committed frontier row count from parquet footers only —
        no Spark job: each fetched row deletes exactly one live row."""
        n = self.catalog.ptable_rows("frontier")
        for e in self._frontier_fold()["log"]:
            n += self.catalog.staged_append_rows("admitted", e)
            n += self.catalog.staged_append_rows("retries", e)
            n -= self.catalog.staged_append_rows("fetched", e)
        return n

    def _seen(self) -> DataFrame:
        df = self.catalog.read("seen")
        return df if df is not None else empty_frame(self.spark, SEEN_SCHEMA)

    def _candidates(self) -> DataFrame:
        df = self.catalog.read("candidates")
        return df if df is not None else empty_frame(self.spark, FRONTIER_SCHEMA)

    def _quarantine(self) -> DataFrame:
        df = self.catalog.read("quarantine")
        if df is not None:
            return df
        return empty_frame(self.spark, "host string, quarantined_until int")

    # -- persistent bloom state (incremental URL-seen prefilter) -------------
    # ``bloom`` names the persisted filter of either kind; the dict carries
    # the kernel params (operators/dedup.py), capacity, n_inserted, table.
    def _load_bloom(self) -> dict | None:
        """Resume the seen-prefilter from the snapshot (table + sizing
        meta). Returns None on a fresh catalog, one predating filter
        persistence, or a filter-kind switch — the first epoch then
        rebuilds from ``seen``."""
        m = self.catalog.meta().get("bloom")
        if m and self.catalog.has("bloom") and m.get("kind", "bloom") == self.cfg.seen_filter:
            params = filter_params_from_meta(m)
            return {
                "params": params,
                "capacity": int(m["capacity"]),
                "n_inserted": int(m["n_inserted"]),
                "df": self._filter_df(self.catalog.read("bloom"), params),
            }
        return None

    def _filter_shards_for(self, capacity: int) -> int:
        """Shard count for a filter sized to ``capacity`` keys: the
        smallest power of two (≥ the ``bloom_shards`` floor) that keeps
        one shard's serialized state under ``filter_shard_target_bytes``.

        Chosen at (re)build time only — every rebuild is already a
        full-shard rewrite, so growing the shard count there is free,
        and the commit meta pins it for resume. Bounds both the
        per-epoch dirty-shard write (O(target) per touched shard, not
        O(|filter|/16)) and the unit of work of the shard-wise cogroup
        probe — the same geometric discipline as the frontier fold's P."""
        import math

        bytes_per_key = SEEN_FILTERS[self.cfg.seen_filter].bytes_per_key(self.cfg.bloom_fpp)
        need = max(1.0, capacity * bytes_per_key / self.cfg.filter_shard_target_bytes)
        return max(self.cfg.bloom_shards, 1 << math.ceil(math.log2(need)))

    def _rebuild_bloom(self, keys: DataFrame, capacity: int, n_inserted: int) -> dict:
        """Full filter build over ``keys`` sized for ``capacity``; stages
        every shard once."""
        params = SEEN_FILTERS[self.cfg.seen_filter].size(
            capacity, self.cfg.bloom_fpp, self._filter_shards_for(capacity)
        )
        self._stage_bloom(
            build_bloom_table(keys, params), params.n_shards, list(range(params.n_shards))
        )
        return {
            "params": params,
            "capacity": capacity,
            "n_inserted": n_inserted,
            "df": self._filter_df(self.catalog.read_staged_parts("bloom"), params),
        }

    def _update_bloom(
        self,
        bloom: dict | None,
        seen: DataFrame | None,
        admitted: DataFrame,
        n_batch: int,
        n_admitted: int,
    ) -> dict:
        """Bring the filter past this epoch's admission: the O(delta)
        insert of :meth:`_advance_bloom`, or — when there is no filter or
        the batch would exceed its capacity — ONE full build over
        ``seen ∪ admitted``. ``seen`` is the committed seen set before
        this epoch; None means known empty (a fresh catalog, which has no
        filter yet either).

        The rebuild runs after admission, not before it: admission probes
        with the filter it already has, which still covers all of
        ``seen`` (a missing filter means the exact ``left_anti`` alone),
        so building first and then inserting the admitted delta would
        stage the filter twice for the same result.

        Sizing is by the CUMULATIVE seen-set cardinality (not the current
        batch — VERDICT r01 item 2: batch-sized filters saturate after a
        few epochs and silently degrade to a full anti-join). Capacity
        doubles on each rebuild, so total rebuild work over a whole crawl
        is O(|seen|) amortized; every other epoch pays only the insert.

        The headroom check includes the INCOMING batch (ADVICE r02 medium:
        ``n_batch`` bounds this epoch's admitted delta — checking only
        ``n_inserted`` let a slot-bounded filter overflow mid-insert and abort
        the epoch; a bloom filter merely degraded fpp for one epoch). The new
        capacity ``2·max(n_seen, 4·n_batch)`` always covers
        ``n_seen + n_batch``.
        """
        if bloom is not None and bloom["n_inserted"] + n_batch <= bloom["capacity"]:
            return self._advance_bloom(bloom, admitted, n_admitted, seen)
        keys = admitted.select("url_hash")
        if bloom is not None:
            n_seen = bloom["n_inserted"]
        else:
            n_seen = 0 if seen is None else seen.count()
        if seen is not None:
            keys = seen.select("url_hash").unionByName(keys)
        capacity = max(1024, 2 * max(n_seen, n_batch * 4))
        return self._rebuild_bloom(keys, capacity, n_seen + n_admitted)

    def _stage_bloom(self, table: DataFrame, n_shards: int, dirty: list[int]) -> None:
        """Stage filter shards as a partitioned replace table — a rebuild
        rewrites every shard; the per-epoch delta rewrites ONLY shards the
        admitted keys touched (VERDICT r02 item 1: at the ~12 GB design
        point a full state rewrite per epoch is pure write amplification)."""
        self.catalog.stage_parts(
            table.withColumn("_part", F.col("shard")), "bloom", n_shards, dirty
        )

    def _filter_df(self, staged: DataFrame | None, params) -> DataFrame:
        """Filter-table handle; empty shards have no row (an all-empty
        filter — fresh crawl — has no partitions at all)."""
        if staged is not None:
            return staged
        return empty_frame(self.spark, filter_schema(params))

    def _advance_bloom(
        self,
        bloom: dict,
        admitted: DataFrame,
        n_admitted: int,
        seen: DataFrame,
    ) -> dict:
        """Fold the epoch's admitted delta into the persisted filter —
        one cogroup insert of the dirty shards with the admitted keys:
        O(delta) work and an O(dirty shards) state write per epoch,
        independent of |seen| (VERDICT r01 item 3: never rebuild from the
        full seen set; VERDICT r02 item 1: never rewrite untouched
        shards). Zero-admission epochs (backoff/drain tail — common) skip
        the insert+stage entirely. The dirty shards are pmod(url_hash,
        n_shards) over the admitted keys (one small collect).

        Kick-chain inserts can fail probabilistically even under nominal
        capacity (exhaustion near the 0.84 load target); the
        proactive headroom check in :meth:`_update_bloom` makes this rare,
        but on overflow the epoch must not abort — rebuild at doubled
        capacity from seen ∪ delta instead (ADVICE r02 medium). A bloom
        insert never overflows."""
        if n_admitted == 0:
            return bloom
        params = bloom["params"]
        keys = admitted.select("url_hash")
        dirty_shards = [
            int(r["s"])
            for r in keys.select(
                F.pmod(F.col("url_hash"), F.lit(params.n_shards)).alias("s")
            )
            .distinct()
            .collect()
        ]
        old_dirty = bloom["df"].where(F.col("shard").isin(dirty_shards))
        n_inserted = bloom["n_inserted"] + n_admitted
        try:
            self._stage_bloom(
                update_filter(old_dirty, keys, params), params.n_shards, dirty_shards
            )
        except Exception as e:  # Py4J wraps the executor RuntimeError
            if CUCKOO_OVER_CAPACITY not in str(e):
                raise
            capacity = 2 * max(bloom["capacity"], n_inserted)
            all_keys = seen.select("url_hash").unionByName(keys)
            return self._rebuild_bloom(all_keys, capacity, n_inserted)
        return {
            **bloom,
            "n_inserted": n_inserted,
            "df": self._filter_df(self.catalog.read_staged_parts("bloom"), params),
        }

    def _bloom_meta(self, bloom: dict) -> dict:
        return {
            **filter_meta(bloom["params"]),
            "capacity": bloom["capacity"],
            "n_inserted": bloom["n_inserted"],
        }

    def documents(self) -> DataFrame:
        span_rows = self.catalog.read("span_rows")
        if span_rows is None:
            span_rows = empty_frame(self.spark, SPAN_ROWS_SCHEMA)
        return assemble_documents(span_rows)

    def fetch_log(self) -> DataFrame:
        df = self.catalog.read("fetch_log")
        if df is None:
            return empty_frame(
                self.spark,
                "epoch int, host string, host_rank int, url string, kind string, status int",
            )
        return df

    def _fold_frontier(self, epoch: int) -> None:
        """Fold the frontier logs into a new base: ONE full rewrite of the
        merged view, committed at ``epoch`` with the new fold meta, then
        prune the folded increments. The meta already excludes them, so
        the prune is pure garbage collection — a crash between the fold
        commit and the prune loses nothing.

        The fold chooses the base's partition count: the committed P
        (``frontier_partitions`` on a fresh catalog), doubled when the
        largest committed leaf exceeds ``frontier_max_part_bytes`` —
        doubling keeps total re-layout work O(|frontier|·log P) over a
        crawl, the geometric-growth argument of the bloom capacity
        policy."""
        ent = self.catalog.ptable_meta("frontier")
        n = int(ent["n"]) if ent else self.cfg.frontier_partitions
        sizes = self.catalog.ptable_part_bytes("frontier")
        if sizes and max(sizes.values()) > self.cfg.frontier_max_part_bytes:
            n *= 2
        part = F.pmod(F.col("url_hash"), F.lit(n)).cast("int")
        self.catalog.stage_parts(
            self._frontier().withColumn("_part", part).repartition(n, "_part"),
            "frontier",
            n,
            list(range(n)),
        )
        self.catalog.commit(epoch, meta={"frontier": {"folded_through": epoch, "log": []}})
        for t in _FRONTIER_LOGS:
            self.catalog.prune_appends(t, min_epoch=epoch + 1)

    def _migrate_legacy_state(self) -> None:
        """Fold a pre-ptable snapshot (frontier/bloom committed as FULL
        replace tables, rounds ≤2) into the partitioned layout with one
        full-dirty migration commit before the first resumed epoch.

        Without this, resuming an old-format snapshot silently corrupts
        state (ADVICE r03 medium): ``stage_parts('bloom', base=None)``
        keeps only dirty pins, so clean shards vanish and the
        definitely-new fast path (which skips the left_anti confirm)
        re-admits already-seen URLs. The migrated frontier becomes the
        base, with no fold meta (folded through the head)."""
        needs = [
            t
            for t in ("frontier", "bloom")
            if self.catalog.legacy_version(t) is not None
        ]
        if not needs:
            return
        if "frontier" in needs:
            n = self.cfg.frontier_partitions
            df = self.catalog.read("frontier")
            self.catalog.stage_parts(
                df.withColumn(
                    "_part", F.pmod(F.col("url_hash"), F.lit(n)).cast("int")
                ),
                "frontier",
                n,
                list(range(n)),
            )
            self.catalog.drop_table("frontier")
        if "bloom" in needs:
            m = self.catalog.meta().get("bloom") or {}
            n_shards = int(m.get("n_shards", self.cfg.bloom_shards))
            self._stage_bloom(self.catalog.read("bloom"), n_shards, list(range(n_shards)))
            self.catalog.drop_table("bloom")
        self.catalog.commit(self.catalog.committed_epoch())

    # -- the epoch's writes derived from ``fetched`` (run on pool threads) ----
    def _stage_spans(self, successes: DataFrame, epoch: int) -> None:
        cfg = self.cfg
        spans = extract_span_rows(successes, cfg.comments_per_page, cfg.max_comments_per_note)
        self.catalog.stage_append(spans, "span_rows", epoch)

    def _stage_quarantine(self, quarantine: DataFrame, hosts: DataFrame, epoch: int) -> None:
        """Merge the epoch's newly quarantined hosts. Expired rows
        (quarantined_until ≤ this epoch) can never block again — selection
        at epoch E' > epoch needs until > E'. Dropping them keeps the
        committed table O(active quarantines), not O(every host ever
        quarantined) rewritten per epoch (VERDICT r03 #2; oracle.py
        mirrors the prune — CLAUDE.md invariant: both sides)."""
        merged = (
            quarantine.unionByName(hosts)
            .groupBy("host")
            .agg(F.max("quarantined_until").alias("quarantined_until"))
            .filter(F.col("quarantined_until") > F.lit(epoch))
        )
        self.catalog.stage(merged, "quarantine")

    def _stage_fetch_log(self, fetched: DataFrame, epoch: int) -> None:
        log = fetched.select(
            F.lit(epoch).alias("epoch"),
            F.col("host"),
            F.col("host_rank").cast("int"),
            F.col("url"),
            F.col("kind"),
            F.col("status").cast("int"),
        )
        self.catalog.stage_append(log, "fetch_log", epoch)

    def _stage_successors(
        self, successes: DataFrame, fetched: DataFrame, epoch: int, n_dedup: int
    ) -> int:
        """Stage the next epoch's candidates, then the epoch's lineage
        (which records their count); returns that count."""
        cfg = self.cfg
        successors = emit_successors(
            successes,
            epoch,
            cfg.comments_per_page,
            cfg.max_comments_per_note,
            cfg.max_pages_per_chain,
        )
        self.catalog.stage(successors, "candidates")
        n_emitted = self.catalog.staged_rows("candidates")
        # Lineage (north_rule: frontier epoch, partition id, fetch counts):
        # fetch_count is attributed PER PARTITION; dedup and emitted counts
        # are epoch-level facts (they have no per-fetch-partition meaning —
        # dropped candidates never reach a salted host) and live on ONE
        # summary row with partition_id = -1, so per-partition sums stay
        # meaningful (VERDICT r03 #7; fsck checks the shape).
        per_part = fetched.groupBy(
            F.lit(epoch).alias("frontier_epoch"),
            F.pmod(F.xxhash64("salted_host"), F.lit(1024)).cast("int").alias("partition_id"),
        ).agg(
            F.count("*").alias("fetch_count"),
            F.lit(None).cast("long").alias("dedup_count"),
            F.lit(None).cast("long").alias("emitted_count"),
        )
        epoch_row = self.spark.range(1).select(
            F.lit(epoch).cast("int").alias("frontier_epoch"),
            F.lit(-1).cast("int").alias("partition_id"),
            F.lit(None).cast("long").alias("fetch_count"),
            F.lit(n_dedup).cast("long").alias("dedup_count"),
            F.lit(n_emitted).cast("long").alias("emitted_count"),
        )
        lineage = per_part.unionByName(epoch_row).withColumn(
            "committed_at", F.lit(cfg.epoch_ts + epoch).cast("long")
        )
        self.catalog.stage_append(lineage, "lineage", epoch)
        return n_emitted

    # -- the loop -------------------------------------------------------------
    def run(self, seeds: DataFrame | None, max_epochs: int | None = None) -> RunResult:
        """Run (or resume) the crawl until the frontier drains.

        ``seeds`` is only consumed on a fresh catalog; on resume the
        candidate/frontier state comes from the last commit.
        """
        cfg = self.cfg
        result = RunResult()
        self._migrate_legacy_state()
        start_epoch = self.catalog.committed_epoch() + 1
        if start_epoch == 0:
            if seeds is None:
                raise ValueError("fresh run needs seeds")
            candidates = seeds_to_candidates(seeds, epoch=0)
        else:
            candidates = self._candidates()

        frontier = self._frontier()
        fold = self._frontier_fold()
        seen = self._seen()
        quarantine = self._quarantine()
        bloom = self._load_bloom()

        pool = ThreadPoolExecutor(max_workers=_WRITE_THREADS)
        submit = partial(_submit, pool, self.spark)
        try:
            for epoch in range(start_epoch, start_epoch + (max_epochs or cfg.max_epochs)):
                # Every stage below is computed ONCE and materialized (staged
                # to the snapshot), then downstream reads the materialized
                # result — no chain is re-executed for counts or secondary
                # consumers.

                # 1. admission: canonicalize → robots → intra-batch dedup →
                #    bloom+anti-join (successor URLs from live pages may be
                #    non-canonical; fixture URLs already are — no-op there).
                #    Epoch 0 only ever runs on a fresh catalog, from the seed
                #    batch seeds_to_candidates already canonicalized.
                if epoch > 0:
                    candidates = (
                        with_canonical_url(candidates)
                        .withColumn("url_hash", self._url_hash)
                        .withColumn("host", self._host_col)
                    )
                gated = apply_robots(candidates, self.robots, cfg.epoch_ts)
                # persist: the admission chain (canonicalize UDF → robots →
                # dedup shuffle) is consumed by the count, the bloom probe,
                # and the anti-join — without it the chain would execute 3×
                unique_batch = dedup_within_batch(gated).persist()
                n_batch = unique_batch.count()
                # the filter (if any) covers all of seen; it is rebuilt or
                # advanced after admission (_update_bloom)
                if epoch == 0 or (bloom is not None and bloom["n_inserted"] == 0):
                    # empty seen set: everything is new — skip the filter
                    # collect/probe/anti-join jobs outright
                    deduped = unique_batch
                elif bloom is None:
                    # no filter over a non-empty seen (a snapshot predating
                    # the filter, or a filter-kind switch): exact anti-join
                    deduped = unique_batch.join(
                        seen.select("url_hash"), on="url_hash", how="left_anti"
                    )
                else:
                    deduped = dedup_against_seen_bloom(
                        unique_batch,
                        seen,
                        bloom["df"],
                        bloom["params"],
                        cfg.bloom_broadcast_max_bytes,
                    )
                admitted = (
                    deduped.withColumn("epoch", F.lit(epoch))
                    .withColumn(
                        "not_before_epoch", F.greatest("not_before_epoch", F.lit(epoch))
                    )
                    .select(*FRONTIER_COLS)
                )
                self.catalog.stage_append(admitted, "admitted", epoch)
                unique_batch.unpersist()
                admitted = self.catalog.read_staged("admitted", epoch)
                # footer-metadata count — zero Spark jobs (VERDICT r02 item 9)
                n_admitted = self.catalog.staged_append_rows("admitted", epoch)
                n_dedup = n_batch - n_admitted
                # the filter update and the seen delta (derived from the
                # already-materialized parquet) need only admitted: they
                # overlap selection and fetch
                bloom_f = submit(
                    self._update_bloom,
                    bloom, None if epoch == 0 else seen, admitted, n_batch, n_admitted,
                )
                writes = [
                    bloom_f,
                    submit(
                        self.catalog.stage_append,
                        admitted.select("url_hash", "url"), "seen", epoch,
                    ),
                ]
                frontier = frontier.unionByName(admitted)

                # 2. selection: politeness budgets + dynamic quarantine
                # (full-outer merge — quarantine must survive for hosts that
                # have no politeness row; see merge_quarantine docstring)
                pol = merge_quarantine(self.politeness, quarantine)
                selected, _ = select_fetch_set(
                    frontier, pol, epoch, cfg.default_budget, cfg.salt_splits,
                    cache=self._winner_cache,
                )

                # 3. fetch — materialized once; everything downstream reads it
                fetched = self.fetch_fn(selected, self.pages)
                self.catalog.stage_append(fetched, "fetched", epoch)
                fetched = self.catalog.read_staged("fetched", epoch)
                n_fetched = self.catalog.staged_append_rows("fetched", epoch)
                out = classify_outcomes(fetched, epoch)

                # 4-5. everything derived from fetched, overlapped: successors
                # (→ lineage, which needs their count), span rows, the
                # frontier's retries log (the frontier only appends: bytes
                # written scale with the delta, not |frontier|), quarantine,
                # fetch_log
                emitted_f = submit(
                    self._stage_successors, out["successes"], fetched, epoch, n_dedup
                )
                writes += [
                    emitted_f,
                    submit(self._stage_spans, out["successes"], epoch),
                    submit(self.catalog.stage_append, out["retries"], "retries", epoch),
                    submit(self._stage_quarantine, quarantine, out["quarantined_hosts"], epoch),
                    submit(self._stage_fetch_log, fetched, epoch),
                ]
                _join(writes)
                bloom = bloom_f.result()
                n_emitted = emitted_f.result()

                # 6. snapshot commit (atomic; also truncates plan lineage)
                fold = {**fold, "log": fold["log"] + [epoch]}
                self.catalog.commit(
                    epoch, meta={"bloom": self._bloom_meta(bloom), "frontier": fold}
                )

                if epoch % 8 == 7:
                    # Iceberg maintenance analog: compact accumulated append
                    # dirs (rewrite_data_files), then drop dead versions +
                    # swapped-out append dirs (expire_snapshots, risk §7.4.5)
                    for t in ("seen", "span_rows", "fetch_log", "lineage"):
                        self.catalog.compact_appends(t, cfg.compact_appends_after)
                    # the frontier logs are folded into a new base and dropped
                    # (VERDICT r03 #3: retained forever they duplicate
                    # seen/fetch_log, ~2× long-run snapshot bytes)
                    self._fold_frontier(epoch)
                    fold = self._frontier_fold()
                    self.catalog.expire_versions(keep_last=cfg.expire_keep_last)
                    self.catalog.roll_log(keep=2, max_lines=cfg.commit_log_max_lines)

                # re-read state: bounds DAG depth across epochs (quarantine
                # included — its lazy union chain would otherwise reference
                # every past epoch's fetched dir, growing the plan per epoch
                # and dangling once maintenance expires those dirs)
                frontier = self._frontier()
                seen = self._seen()
                candidates = self._candidates()
                quarantine = self._quarantine()

                result.epochs.append(
                    EpochStats(epoch, n_admitted, n_dedup, n_fetched, n_emitted)
                )
                if n_fetched == 0 and n_emitted == 0 and n_admitted == 0:
                    # frontier may still hold backoff rows; drained otherwise
                    # (footer-metadata count — no job)
                    if self._frontier_rows() == 0:
                        break
        finally:
            pool.shutdown(wait=True)
        return result


def _submit(pool: ThreadPoolExecutor, spark: SparkSession, fn, *args) -> Future:
    """Run ``fn(*args)`` on ``pool`` with the calling thread's Spark local
    properties (its job group), captured now and applied to the worker's
    JVM thread. With PySpark's pinned-thread mode off there is no
    per-thread state to carry, and ``inheritable_thread_target`` hands
    the session back instead of a wrapper."""
    wrap = inheritable_thread_target(spark)
    return pool.submit(fn if wrap is spark else wrap(fn), *args)


def _join(futures: list[Future]) -> None:
    """Wait for every future, then re-raise the first error in
    submission order — a failed write never leaves a sibling running
    past the caller's error handling."""
    wait(futures)
    for f in futures:
        f.result()
