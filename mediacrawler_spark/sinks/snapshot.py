"""Snapshot catalog: atomic per-epoch commits with resume (SURVEY §4, K3).

Production design is Apache Iceberg: each epoch commits frontier + seen +
span/document + lineage changes as ONE Iceberg snapshot; resume reads the
latest snapshot. The sandbox image has no Iceberg jars (no network), so
this module implements the same contract over parquet:

- every table version is written to ``<root>/<table>/v=<n>/`` (immutable),
- a commit appends one JSON line to ``<root>/_commits.jsonl`` naming the
  epoch and every table version it pins — the append IS the atomic commit
  point (torn writes of uncommitted parquet dirs are simply never
  referenced, exactly like Iceberg's metadata-pointer swap),
- resume = read the last complete commit line.
"""

from __future__ import annotations

import json
import os
import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _as_nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every field, element and value nullable — the schema
    Spark reads a parquet dir under, whatever its recorded nullability."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _as_nullable(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


def parquet_rows(path: str) -> int:
    """Row count from parquet footers only — a driver-side metadata read,
    no Spark job (VERDICT r02 item 9: per-epoch ``count()`` actions are
    scheduler round-trips that dominate at 10^4 epochs)."""
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet").count_rows()


class TimeTravelError(LookupError):
    """A time-travel read (``read_at``) outside the retained window:
    either the commit log has been rolled past the requested epoch, or a
    pinned data dir was expired/pruned after the commit. Mirrors
    Iceberg's behavior for VERSION AS OF on an expired snapshot — fail
    loudly, never silently substitute a newer pin."""


class SnapshotCatalog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._log = os.path.join(root, "_commits.jsonl")
        # guards the pending-stage bookkeeping (the three ``_pending*``
        # collections, version numbering): the epoch loop stages
        # independent tables from several threads at once. Staging the
        # SAME table from two threads at once is not supported.
        self._lock = threading.RLock()
        self._pending: dict[str, int] = {}
        self._pending_appends: dict[str, list[int]] = {}
        self._pending_parts: dict[str, dict] = {}
        self._versions: dict[str, int] = {}
        self._appends: dict[str, list[int]] = {}
        self._ptables: dict[str, dict] = {}
        self._meta: dict = {}
        # The log is parsed ONCE, here. Steady-state epoch-loop reads
        # (committed_epoch via compact_appends ×6 tables every 8 epochs)
        # come from this cache — re-parsing the ever-growing jsonl per
        # call was O(E²·P) cumulative over a long crawl (VERDICT r03 #1).
        recs = self._read_commits()
        self._n_commits = len(recs)
        self._epoch = -1
        last = recs[-1] if recs else None
        if last:
            self._epoch = int(last["epoch"])
            self._versions = dict(last["tables"])
            self._appends = {k: list(v) for k, v in last.get("appends", {}).items()}
            self._ptables = {
                k: {"n": int(v["n"]), "parts": dict(v["parts"])}
                for k, v in last.get("ptables", {}).items()
            }
            self._meta = dict(last.get("meta", {}))

    # -- commit log ---------------------------------------------------------
    def _read_commits(self) -> list[dict]:
        """Every complete commit record, oldest first.

        Unparseable lines are SKIPPED, not treated as end-of-log: a
        record never spans lines (json.dumps emits one line), so an
        invalid line can only be a torn crash remnant — and if the
        process died mid-append, a LATER commit may legitimately follow
        it. Stopping at the first bad line (the old behavior) silently
        rolled the catalog back past every commit after a torn one."""
        if not os.path.exists(self._log):
            return []
        recs: list[dict] = []
        with open(self._log) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                try:
                    recs.append(json.loads(line))
                except json.JSONDecodeError:
                    continue  # torn crash remnant — never a record prefix
        return recs

    def _refuse_pending(self, op: str) -> None:
        """Maintenance and history operations commit (or rewrite the log)
        on their own, so running one with pending stages would publish a
        half-finished epoch — refused to keep every commit atomic."""
        with self._lock:
            pending = {
                kind: sorted(names)
                for kind, names in (
                    ("tables", self._pending),
                    ("appends", self._pending_appends),
                    ("parts", self._pending_parts),
                )
                if names
            }
        if pending:
            raise RuntimeError(
                f"{op} with uncommitted staged state would publish a "
                "half-finished epoch — commit or discard the pending stages "
                f"first (pending: {pending})"
            )

    def last_commit(self) -> dict | None:
        recs = self._read_commits()
        return recs[-1] if recs else None

    def committed_epoch(self) -> int:
        return self._epoch

    def roll_log(self, keep: int = 2, max_lines: int = 64) -> bool:
        """Roll the commit log once it exceeds ``max_lines`` complete
        records: rewrite it to the last ``keep`` records (each record is
        self-contained — the full pin state — so the newest line IS a
        checkpoint; the Iceberg metadata-file roll analog). Atomic via
        write-temp + rename, so a crash mid-roll leaves the old log.

        Without this the log grows one O(P)-sized line per epoch and
        every remaining full parse (startup, expire_versions'
        recent-commit scan) degrades O(E·P) (VERDICT r03 #1). ``keep``
        should be ≥ expire_versions' ``keep_last`` so leaves pinned by
        recent commits stay discoverable. Refused with pending staged
        state (same atomicity argument as compact_appends). Returns True
        if a roll happened."""
        self._refuse_pending("roll_log")
        if self._n_commits <= max_lines:
            return False
        recs = self._read_commits()[-max(1, keep):]
        tmp = self._log + ".tmp"
        with open(tmp, "w") as f:
            for r in recs:
                f.write(json.dumps(r) + "\n")
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._log)
        self._n_commits = len(recs)
        return True

    # -- table io ------------------------------------------------------------
    def _path(self, table: str, version: int) -> str:
        return os.path.join(self.root, table, f"v={version}")

    def stage(self, df: DataFrame, table: str) -> None:
        """Write the next full version of ``table`` (not yet visible).
        For replace-style tables (candidates, quarantine). Staging the
        same table twice before a commit writes a second version — never
        overwrites the first (a lazy plan may still be reading it). The
        version records its schema like :meth:`stage_append`. Versions
        are numbered past every ``v=`` dir of the table, so restaging a
        table committed as partitions never overwrites a leaf it reads."""
        v = self._next_version(table)
        path = self._path(table, v)
        df.write.mode("overwrite").parquet(path)
        self._write_dir_schema(path, df.schema)
        with self._lock:
            self._pending[table] = v

    def stage_append(self, df: DataFrame, table: str, epoch: int) -> None:
        """Write one epoch's increment of an append-only table (seen,
        span_rows, fetch_log, lineage) — the Iceberg append-snapshot
        analog; never rewrites history (but see compact_appends).

        The increment's schema is recorded beside the data as
        ``_schema.json`` (underscore-prefixed: invisible to Spark and
        pyarrow dataset discovery, like ``_SUCCESS``) — the Iceberg
        schema-id analog that lets :meth:`_read_dirs` read without a
        schema-inference job and support add/drop-column schema evolution
        across epochs without the footer-scan cost of ``mergeSchema``."""
        path = os.path.join(self.root, table, f"e={epoch}")
        df.write.mode("overwrite").parquet(path)
        self._write_dir_schema(path, df.schema)
        with self._lock:
            self._pending_appends.setdefault(table, []).append(str(epoch))

    @staticmethod
    def _write_dir_schema(path: str, schema: T.StructType) -> None:
        with open(os.path.join(path, "_schema.json"), "w") as f:
            json.dump(schema.jsonValue(), f, sort_keys=True)

    @staticmethod
    def _dir_schema(path: str) -> str | None:
        """Recorded ``_schema.json`` text of a data dir, or None for a
        legacy dir written without one. A ptable leaf (``_part=<k>``)
        shares the schema its version dir records."""
        if os.path.basename(path).startswith("_part="):
            path = os.path.dirname(path)
        try:
            with open(os.path.join(path, "_schema.json")) as f:
                return f.read()
        except FileNotFoundError:
            return None

    def _read_dirs(self, paths: list[str]) -> DataFrame:
        """Read catalog data dirs, with add/drop-column schema evolution
        (the Iceberg schema-evolution read analog).

        Every dir the catalog writes records its schema as
        ``_schema.json`` (a local metadata read, never a parquet footer
        scan). When all dirs agree — the overwhelmingly common case, and
        always true for a single dir — the read is one plain multi-dir
        parquet scan under the first dir's schema: no schema-inference
        job. Dirs agree when they hold the same columns (name and type),
        compared nullable, because Spark makes a user schema nullable on
        read anyway (so the result equals the inferred one), and in any
        order, because parquet resolves columns by name: the epoch-0
        ``fetched`` increment (seed-born rows) orders its columns
        differently from every later one and must not split the scan.
        When dirs disagree — a column was added or dropped mid-crawl —
        each dir is read under its own schema and
        aligned by name (``unionByName`` with missing columns as nulls),
        so old rows read NULL for later-added columns, like Iceberg.
        Renames and type changes are NOT supported: a same-name type
        conflict fails the union loudly rather than guessing. Legacy
        dirs without a schema file keep the historical inferred read."""
        found = [
            None if text is None else _as_nullable(T.StructType.fromJson(json.loads(text)))
            for text in map(self._dir_schema, paths)
        ]
        columns = {
            frozenset(json.dumps(f.jsonValue(), sort_keys=True) for f in schema.fields)
            for schema in found
            if schema is not None
        }
        if len(columns) > 1:
            out = None
            for p in paths:
                part = self._read_dirs([p])
                out = part if out is None else out.unionByName(
                    part, allowMissingColumns=True
                )
            return out
        if columns and None not in found:
            return self.spark.read.schema(found[0]).parquet(*paths)
        return self.spark.read.parquet(*paths)

    # -- hash-partitioned replace tables (delta commits) ---------------------
    # A replace table that is large and sparsely mutated per epoch (the
    # sharded seen-filter bitmaps) must NOT be rewritten in full every
    # commit (VERDICT r02 "What's wrong" #1: ~TB-scale write amplification
    # per epoch). A table rewritten in full each time (the frontier's
    # folded base) is a plain ``stage`` version instead. Layout:
    #
    #     <root>/<table>/v=<n>/_part=<k>/    (immutable leaf dirs)
    #
    # and the commit record pins a PER-PARTITION version map
    # ``ptables: {table: {n: P, parts: {"k": v, ...}}}`` — the Iceberg
    # partition-level rewrite_data_files analog. An epoch stages only the
    # partitions it touched; clean partitions keep their old pins, so bytes
    # written per epoch is O(dirty partitions), not O(|table|).

    def stage_parts(
        self,
        df: DataFrame,
        table: str,
        n_parts: int,
        dirty: list[int],
        part_col: str = "_part",
    ) -> None:
        """Stage new versions of ONLY the ``dirty`` partitions of a
        hash-partitioned replace table.

        ``df`` must carry ``part_col`` (= pmod(key, n_parts)) and hold the
        FULL new content of exactly the dirty partitions (rows of clean
        partitions are the caller's responsibility to exclude — they keep
        their committed pins). A dirty partition absent from ``df``
        (drained empty) drops out of the pin map. The version dir records
        the schema its leaves share (``part_col`` dropped)."""
        dirty_set = {int(k) for k in dirty}
        full_rewrite = dirty_set == set(range(n_parts))
        with self._lock:
            base = self._pending_parts.get(table) or self._ptables.get(table)
            if base is not None and int(base["n"]) != n_parts and not full_rewrite:
                raise ValueError(
                    f"ptable {table!r} is pinned with n={base['n']} partitions; "
                    f"got n_parts={n_parts} — changing the partition count needs "
                    "a full rewrite (pass every partition as dirty)"
                )
            v = self._next_version(table)
        path = self._path(table, v)
        df.write.mode("overwrite").partitionBy(part_col).parquet(path)
        # leaves hold the data columns only (part_col is a directory key)
        self._write_dir_schema(
            path, T.StructType([f for f in df.schema.fields if f.name != part_col])
        )
        written = {
            int(e.split("=", 1)[1])
            for e in os.listdir(path)
            if e.startswith(f"{part_col}=")
        }
        parts = {} if (base is None or full_rewrite) else dict(base["parts"])
        for k in sorted(dirty_set):
            if k in written:
                parts[str(k)] = v
            else:
                parts.pop(str(k), None)
        with self._lock:
            self._pending_parts[table] = {"n": n_parts, "parts": parts}

    def _next_version(self, table: str) -> int:
        with self._lock:
            cands = [self._versions.get(table, -1), self._pending.get(table, -1)]
            for src in (self._ptables, self._pending_parts):
                ent = src.get(table)
                if ent and ent["parts"]:
                    cands.append(max(int(x) for x in ent["parts"].values()))
        # strict monotonicity even past versions nothing pins anymore (a
        # fully-drained stage leaves an unpinned v dir until expiry; never
        # reuse its number)
        tdir = os.path.join(self.root, table)
        if os.path.isdir(tdir):
            cands.extend(
                int(e.split("=", 1)[1])
                for e in os.listdir(tdir)
                if e.startswith("v=")
            )
        return max(cands) + 1

    def _ptable_paths(self, ent: dict, table: str) -> list[str]:
        return [
            os.path.join(self._path(table, int(v)), f"_part={int(k)}")
            for k, v in sorted(ent["parts"].items(), key=lambda kv: int(kv[0]))
        ]

    def read_staged_parts(self, table: str) -> DataFrame | None:
        """Merged pending view of a partitioned replace table: staged dirty
        partitions + still-pinned clean partitions (the ``part_col`` is a
        directory key, not a data column — reads reconstruct rows without
        it, callers rederive pmod when needed)."""
        with self._lock:
            ent = self._pending_parts.get(table) or self._ptables.get(table)
        if not ent or not ent["parts"]:
            return None
        return self._read_dirs(self._ptable_paths(ent, table))

    def legacy_version(self, table: str) -> int | None:
        """Version pin of a FULL replace table for a name that is NOT a
        ptable — how rounds ≤2 committed the bloom filter. Migration
        detection hook: a resumed crawl must move such a bloom into the
        partitioned layout before the first epoch (ADVICE r03 medium — a
        partial ``stage_parts`` over a legacy table has no base, silently
        dropping clean bloom shards)."""
        with self._lock:
            if self._ptables.get(table) or self._pending_parts.get(table):
                return None
            return self._pending.get(table, self._versions.get(table))

    def ptable_meta(self, table: str) -> dict | None:
        """Committed pin map of a partitioned table ({'n': P, 'parts': …})."""
        ent = self._ptables.get(table)
        return {"n": int(ent["n"]), "parts": dict(ent["parts"])} if ent else None

    def rows(self, table: str) -> int:
        """Committed row count of ``table``, whatever its layout, from
        parquet footers only (no Spark job); 0 when it has no rows."""
        pins = self._rec_pins(
            {"tables": self._versions, "appends": self._appends, "ptables": self._ptables},
            table,
        )
        return 0 if pins is None else sum(map(parquet_rows, self._pin_paths(table, pins)))

    def commit(self, epoch: int, meta: dict | None = None) -> None:
        """Make all staged versions visible atomically. ``meta`` carries
        small JSON state pinned to the snapshot (e.g. bloom filter sizing +
        fill count — the Iceberg snapshot-properties analog); it replaces
        the previous commit's meta wholesale for the keys given.

        One layout per table name per commit: a name staged as a replace
        version drops its ``ptables`` pin, and a name staged as parts
        drops its ``tables`` pin — a table moves to the layout it was last
        written in."""
        with self._lock:
            tables = {t: v for t, v in self._versions.items() if t not in self._pending_parts}
            tables.update(self._pending)
            ptables = {t: e for t, e in self._ptables.items() if t not in self._pending}
            ptables.update(self._pending_parts)
            appends = {
                t: sorted(
                    {str(x) for x in self._appends.get(t, [])}
                    | {str(x) for x in self._pending_appends.get(t, [])}
                )
                for t in set(self._appends) | set(self._pending_appends)
            }
            new_meta = {**self._meta, **(meta or {})}
            rec = {
                "epoch": epoch,
                "tables": tables,
                "appends": appends,
                "ptables": ptables,
                "meta": new_meta,
                "committed_at": int(time.time()),
            }
            # A crash can leave a torn, newline-less tail; appending straight
            # after it would concatenate THIS record onto the garbage line
            # and lose it. Terminate any such tail first, then append.
            lead = ""
            if os.path.exists(self._log) and os.path.getsize(self._log) > 0:
                with open(self._log, "rb") as rf:
                    rf.seek(-1, os.SEEK_END)
                    if rf.read(1) != b"\n":
                        lead = "\n"
            with open(self._log, "a") as f:
                f.write(lead + json.dumps(rec) + "\n")
                f.flush()
                os.fsync(f.fileno())
            self._versions = tables
            self._appends = appends
            self._ptables = ptables
            self._meta = new_meta
            self._epoch = int(epoch)
            self._n_commits += 1
            self._pending = {}
            self._pending_appends = {}
            self._pending_parts = {}

    def meta(self) -> dict:
        """Snapshot properties of the last commit (empty dict if none)."""
        return dict(self._meta)

    def staged_rows(self, table: str) -> int:
        """Row count of a staged replace-table version — parquet footers
        only, zero Spark jobs."""
        with self._lock:
            v = self._pending[table]
        return parquet_rows(self._path(table, v))

    def staged_append_rows(self, table: str, epoch: int) -> int:
        """Row count of one epoch increment (staged or committed) —
        parquet footers only, zero Spark jobs."""
        return parquet_rows(os.path.join(self.root, table, f"e={epoch}"))

    def read_staged(self, table: str, epoch: int) -> DataFrame:
        """Read one staged (not yet committed) epoch increment back — used
        to materialize a stage mid-epoch so downstream consumers don't
        recompute its plan."""
        return self._read_dirs([os.path.join(self.root, table, f"e={epoch}")])

    def read_increments(self, table: str, epochs: list[int]) -> DataFrame:
        """One scan of the given committed epoch increments of an append
        table (a reader that needs exactly these rows — the frontier's
        logs since its fold). Raises if the last commit does not pin one
        of them (pruned, compacted away or never committed): such a
        reader must never silently get fewer rows."""
        pinned = {str(x) for x in self._appends.get(table, [])}
        missing = [e for e in epochs if str(e) not in pinned]
        if missing:
            raise LookupError(
                f"increments {missing} of {table!r} are not pinned by the "
                f"last commit (epoch {self._epoch})"
            )
        return self._read_dirs([os.path.join(self.root, table, f"e={e}") for e in epochs])

    def read(self, table: str) -> DataFrame | None:
        ent = self._ptables.get(table)
        if ent is not None:
            if not ent["parts"]:
                return None
            return self._read_dirs(self._ptable_paths(ent, table))
        if table in self._versions:
            return self._read_dirs([self._path(table, self._versions[table])])
        epochs = self._appends.get(table)
        if not epochs:
            return None
        return self._read_dirs([os.path.join(self.root, table, f"e={e}") for e in epochs])

    def commit_history(self) -> list[dict]:
        """Every commit record still retained in the log, oldest first —
        the Iceberg ``snapshots`` metadata-table analog. ``roll_log``
        bounds how far back this (and :meth:`read_at`) can see, exactly
        like snapshot expiry bounds Iceberg history."""
        return self._read_commits()

    def _record_at(self, epoch: int) -> dict:
        """The newest retained commit record with ``epoch <= epoch``."""
        recs = self._read_commits()
        eligible = [r for r in recs if int(r["epoch"]) <= epoch]
        if not eligible:
            earliest = min((int(r["epoch"]) for r in recs), default=None)
            raise TimeTravelError(
                f"no retained commit at epoch <= {epoch} "
                f"(earliest retained: {earliest}; log rolled?)"
            )
        return eligible[-1]

    @staticmethod
    def _rec_pins(rec: dict, table: str) -> tuple[str, object] | None:
        """``(kind, pin)`` for ``table`` in a commit record, or None if
        the table had no rows: ("ptable", parts-map) / ("version", int) /
        ("append", label-list)."""
        ent = rec.get("ptables", {}).get(table)
        if ent is not None:
            return ("ptable", {str(k): int(v) for k, v in ent["parts"].items()}) \
                if ent["parts"] else None
        if table in rec.get("tables", {}):
            return ("version", int(rec["tables"][table]))
        labs = rec.get("appends", {}).get(table)
        if labs:
            return ("append", [str(x) for x in labs])
        return None

    def _read_pinned(self, table: str, epoch: int, paths: list[str]) -> DataFrame:
        """Read pinned dirs, failing loudly if any was expired/pruned."""
        missing = [p for p in paths if not os.path.isdir(p)]
        if missing:
            raise TimeTravelError(
                f"time travel to epoch {epoch} unavailable for {table!r}: "
                f"{len(missing)} pinned dir(s) expired (first: {missing[0]})"
            )
        return self._read_dirs(paths)

    def _pin_paths(self, table: str, pins: tuple[str, object]) -> list[str]:
        kind, pin = pins
        if kind == "ptable":
            return self._ptable_paths({"parts": pin}, table)
        if kind == "version":
            return [self._path(table, pin)]
        return [os.path.join(self.root, table, f"e={e}") for e in pin]

    def read_at(self, table: str, epoch: int) -> DataFrame | None:
        """Time-travel read (Iceberg ``VERSION AS OF`` analog): the
        committed contents of ``table`` as of the newest retained commit
        with ``commit.epoch <= epoch``. Each commit line is the full pin
        state, so reconstruction is a log lookup — no replay.

        Retention-bounded exactly like Iceberg: ``roll_log`` trims old
        records and ``expire_versions``/``prune_appends`` delete
        no-longer-pinned dirs, so traveling outside the retained window
        raises :class:`TimeTravelError` (never silently reads a newer
        pin). Returns None when the table had no rows at that epoch."""
        pins = self._rec_pins(self._record_at(epoch), table)
        if pins is None:
            return None
        return self._read_pinned(table, epoch, self._pin_paths(table, pins))

    def read_appends_since(
        self, table: str, after_epoch: int, to_epoch: int | None = None
    ) -> DataFrame | None:
        """Incremental scan of an append-only table (the Iceberg
        incremental-append-scan analog): rows committed AFTER
        ``after_epoch`` up to and including ``to_epoch`` (default: the
        committed head). Cost is O(delta) — only the new increment dirs
        are listed and read, never the table's history — which is what a
        downstream consumer (indexer, exporter, trainer ingesting new
        documents per crawl epoch) runs every cycle at the 10^10-URL
        design point.

        ``after_epoch=-1`` means "since before any commit" and is exact
        regardless of retention (the full state at ``to_epoch`` IS the
        delta vs nothing). Otherwise both bounds must resolve to retained
        commits. If a compaction crossed the window (the newer commit's
        label set no longer contains the older's), the merged dirs mix
        old and new rows, so an O(delta) answer no longer exists —
        raises :class:`TimeTravelError`; use :meth:`changelog` (full
        row-level diff) instead. Returns None when nothing was appended
        in the window."""
        if to_epoch is None:
            to_epoch = self.committed_epoch()
        rec_hi = self._record_at(to_epoch)
        hi = self._rec_pins(rec_hi, table)
        if hi is None:
            return None
        if hi[0] != "append":
            raise TimeTravelError(
                f"{table!r} is a {hi[0]} (replace-style) table — "
                "incremental append scan is undefined; use changelog()"
            )
        lo_labels: set[str] = set()
        if after_epoch >= 0:
            lo = self._rec_pins(self._record_at(after_epoch), table)
            if lo is not None:
                if lo[0] != "append":
                    raise TimeTravelError(
                        f"{table!r} was a {lo[0]} table at epoch {after_epoch}"
                    )
                lo_labels = set(lo[1])
        new = [lab for lab in hi[1] if lab not in lo_labels]
        if not lo_labels.issubset(hi[1]):
            gone = sorted(lo_labels - set(hi[1]))
            raise TimeTravelError(
                f"appends of {table!r} were compacted between epochs "
                f"{after_epoch} and {to_epoch} (labels {gone[:4]}... were "
                "merged) — the increment dirs no longer isolate the new "
                "rows; use changelog() for a row-level diff"
            )
        if not new:
            return None
        return self._read_pinned(
            table,
            to_epoch,
            [os.path.join(self.root, table, f"e={e}") for e in new],
        )

    @staticmethod
    def _changed_part_keys(lo_parts: dict, hi_parts: dict) -> list[str]:
        """Partition keys whose pinned version differs between two ptable
        pin maps. Leaf dirs are immutable, so an identical pin means an
        identical partition — those are skipped without being scanned
        (directory-level partition pruning of the diff)."""
        keys = set(lo_parts) | set(hi_parts)
        return sorted(
            (k for k in keys if lo_parts.get(k) != hi_parts.get(k)), key=int
        )

    def changelog(self, table: str, from_epoch: int, to_epoch: int) -> DataFrame | None:
        """Row-level change set between two committed epochs (the Iceberg
        changelog-scan analog): one DataFrame with the table's columns
        plus ``_change_type`` ('insert' rows present at ``to_epoch`` but
        not ``from_epoch``; 'delete' the reverse), multiset semantics via
        exceptAll. ``from_epoch=-1`` diffs against empty.

        Scan cost is pruned by the pin maps before any data is read:
        append tables whose old labels survived diff O(delta) increment
        dirs only; ptables compare ONLY partitions whose pinned version
        changed (identical pins are immutable dirs — skipped entirely,
        so an epoch that touched 3 of 4096 filter shards diffs 3);
        plain replace tables with an unchanged version pin return None
        without reading. Returns None when nothing changed."""
        lo = None if from_epoch < 0 else self._rec_pins(
            self._record_at(from_epoch), table
        )
        hi = self._rec_pins(self._record_at(to_epoch), table)
        if lo == hi:
            return None  # identical pins == identical immutable dirs
        # append fast path: old increments retained intact => inserts only
        if (
            hi is not None
            and hi[0] == "append"
            and (lo is None or (lo[0] == "append" and set(lo[1]) <= set(hi[1])))
        ):
            new = [lab for lab in hi[1] if lo is None or lab not in set(lo[1])]
            if not new:
                return None
            df = self._read_pinned(
                table,
                to_epoch,
                [os.path.join(self.root, table, f"e={e}") for e in new],
            )
            return df.withColumn("_change_type", F.lit("insert"))
        # ptable partition pruning: diff only partitions whose pin moved
        if lo is not None and hi is not None and lo[0] == hi[0] == "ptable":
            changed = self._changed_part_keys(lo[1], hi[1])
            lo_paths = self._pin_paths(
                table, ("ptable", {k: lo[1][k] for k in changed if k in lo[1]})
            )
            hi_paths = self._pin_paths(
                table, ("ptable", {k: hi[1][k] for k in changed if k in hi[1]})
            )
        else:
            lo_paths = [] if lo is None else self._pin_paths(table, lo)
            hi_paths = [] if hi is None else self._pin_paths(table, hi)
        old_df = self._read_pinned(table, from_epoch, lo_paths) if lo_paths else None
        new_df = self._read_pinned(table, to_epoch, hi_paths) if hi_paths else None
        if old_df is None and new_df is None:
            return None
        if old_df is None:
            return new_df.withColumn("_change_type", F.lit("insert"))
        if new_df is None:
            return old_df.withColumn("_change_type", F.lit("delete"))
        if old_df.schema != new_df.schema:
            # schema evolved across the window: align both sides on the
            # name-union with typed nulls (Iceberg changelog semantics —
            # pre-evolution rows read NULL for added columns). Same-name
            # type conflicts stay loud in the exceptAll below.
            fields: dict[str, object] = {}
            for sch in (old_df.schema, new_df.schema):
                for fld in sch.fields:
                    fields.setdefault(fld.name, fld.dataType)

            def _align(df: DataFrame) -> DataFrame:
                return df.select(
                    *[
                        F.col(c) if c in df.columns
                        else F.lit(None).cast(fields[c]).alias(c)
                        for c in fields
                    ]
                )

            old_df, new_df = _align(old_df), _align(new_df)
        ins = new_df.exceptAll(old_df).withColumn("_change_type", F.lit("insert"))
        dels = old_df.exceptAll(new_df).withColumn("_change_type", F.lit("delete"))
        return ins.unionByName(dels)

    def _record_pin_paths(self, rec: dict) -> list[str]:
        """Every directory a commit record pins (all tables, all kinds)."""
        paths: list[str] = []
        names = (
            set(rec.get("tables", {}))
            | set(rec.get("appends", {}))
            | set(rec.get("ptables", {}))
        )
        for table in sorted(names):
            pins = self._rec_pins(rec, table)
            if pins is not None:
                paths.extend(self._pin_paths(table, pins))
        return paths

    def rollback_to(self, epoch: int) -> dict:
        """Make the retained commit at exactly ``epoch`` the catalog head
        again (the Iceberg ``rollback_to_snapshot`` analog): the crawl
        operator's "the last N epochs fetched garbage through a broken
        proxy — rewind and re-crawl" lever.

        The log is truncated to end at that record (atomic write-temp +
        rename, same protocol as :meth:`roll_log`) and the in-memory pin
        cache reloads from it, so ``committed_epoch()`` drops to ``epoch``
        and a fresh engine resumed on this catalog re-runs epoch
        ``epoch+1`` onward; the epoch loop is deterministic, so the
        re-crawl reconverges to the uninterrupted final state (pinned by
        tests/test_time_travel.py). Data dirs of the rolled-away commits
        stay on disk as unpinned orphans — re-run epochs overwrite their
        own increments in place and :meth:`expire_versions` collects the
        rest, exactly like orphaned Iceberg snapshots await expiry.

        Refused (:class:`TimeTravelError`) when ``epoch`` is not a
        retained commit (rolled away by :meth:`roll_log`) or when any dir
        the target record pins has been expired/compacted — never
        restores a head it cannot actually read, and never restores a
        partial one. Rollback reach is therefore bounded by maintenance
        retention, exactly like Iceberg cannot roll back past
        ``expire_snapshots``: :meth:`expire_versions` /
        :meth:`prune_appends` / :meth:`compact_appends` runs invalidate
        records older than the window they kept (the engine exposes the
        knob as ``EngineConfig.expire_keep_last``). Refused
        (:class:`RuntimeError`) with pending staged state, same
        atomicity stance as :meth:`compact_appends`. Returns the restored
        commit record."""
        self._refuse_pending("rollback_to")
        recs = self._read_commits()
        idx = [i for i, r in enumerate(recs) if int(r["epoch"]) == epoch]
        if not idx:
            retained = sorted({int(r["epoch"]) for r in recs})
            raise TimeTravelError(
                f"no retained commit at epoch {epoch} "
                f"(retained: {retained}; log rolled?)"
            )
        keep = recs[: idx[-1] + 1]
        target = keep[-1]
        missing = [p for p in self._record_pin_paths(target) if not os.path.isdir(p)]
        if missing:
            raise TimeTravelError(
                f"rollback to epoch {epoch} unavailable: {len(missing)} "
                f"pinned dir(s) expired/compacted (first: {missing[0]})"
            )
        tmp = self._log + ".tmp"
        with open(tmp, "w") as f:
            for r in keep:
                f.write(json.dumps(r) + "\n")
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._log)
        self._n_commits = len(keep)
        self._epoch = int(target["epoch"])
        self._versions = dict(target["tables"])
        self._appends = {
            k: [str(x) for x in v] for k, v in target.get("appends", {}).items()
        }
        self._ptables = {
            k: {"n": int(v["n"]), "parts": dict(v["parts"])}
            for k, v in target.get("ptables", {}).items()
        }
        self._meta = dict(target.get("meta", {}))
        return target

    def has(self, table: str) -> bool:
        return (
            table in self._versions
            or bool(self._appends.get(table))
            or bool(self._ptables.get(table, {}).get("parts"))
        )

    def fsck(self) -> list[str]:
        """Consistency check of the committed snapshot state: every pinned
        version/append dir must exist and be readable; lineage fetch
        totals must equal the fetch_log row count. Returns problems
        (empty list = healthy); cheap enough to run on resume."""
        problems: list[str] = []
        for table, v in self._versions.items():
            p = self._path(table, v)
            if not os.path.isdir(p):
                problems.append(f"missing version dir: {p}")
        for table, epochs in self._appends.items():
            for e in epochs:
                p = os.path.join(self.root, table, f"e={e}")
                if not os.path.isdir(p):
                    problems.append(f"missing append dir: {p}")
        for table, ent in self._ptables.items():
            for p in self._ptable_paths(ent, table):
                if not os.path.isdir(p):
                    problems.append(f"missing partition dir: {p}")
        if not problems and self.has("lineage") and self.has("fetch_log"):
            from pyspark.sql import functions as F

            lin = self.read("lineage").agg(F.sum("fetch_count").alias("s")).collect()[0]["s"]
            logn = self.read("fetch_log").count()
            if (lin or 0) != logn:
                problems.append(f"lineage fetch_count {lin} != fetch_log rows {logn}")
        if not problems and self.has("lineage"):
            # per-epoch lineage shape (VERDICT r03 #7): epoch-level counts
            # (dedup/emitted) live on exactly ONE partition_id=-1 summary
            # row, never on per-partition rows, and the summary row
            # carries no fetch_count — otherwise per-partition sums of
            # any column are meaningless. Epochs written before this
            # format (no -1 row) are skipped.
            from pyspark.sql import functions as F

            is_sum = F.col("partition_id") == -1
            shape = (
                self.read("lineage")
                .groupBy("frontier_epoch")
                .agg(
                    F.sum(is_sum.cast("int")).alias("n_summary"),
                    F.sum(
                        (
                            (~is_sum)
                            & (
                                F.col("dedup_count").isNotNull()
                                | F.col("emitted_count").isNotNull()
                            )
                        ).cast("int")
                    ).alias("n_bad_part"),
                    F.sum(
                        (is_sum & F.col("fetch_count").isNotNull()).cast("int")
                    ).alias("n_bad_sum"),
                )
                .collect()
            )
            for r in shape:
                if r["n_summary"] > 1:
                    problems.append(
                        f"lineage epoch {r['frontier_epoch']}: "
                        f"{r['n_summary']} summary rows (expected 1)"
                    )
                elif r["n_summary"] == 1 and r["n_bad_part"]:
                    problems.append(
                        f"lineage epoch {r['frontier_epoch']}: "
                        f"{r['n_bad_part']} per-partition rows carry "
                        "epoch-level counts"
                    )
                if r["n_bad_sum"]:
                    problems.append(
                        f"lineage epoch {r['frontier_epoch']}: summary row "
                        "carries fetch_count"
                    )
        return problems

    def _merge_append_dirs(self, table: str, labels: list[str]) -> str:
        """Rewrite the given append dirs into one new compacted dir and
        return its label (unique per table even within one epoch)."""
        epoch = self.committed_epoch()
        existing = {str(x) for x in self._appends.get(table, [])}
        n = 0
        while (label := f"c{epoch}_{n}") in existing:
            n += 1
        df = self._read_dirs(
            [os.path.join(self.root, table, f"e={lab}") for lab in labels]
        )
        out = os.path.join(self.root, table, f"e={label}")
        df.write.mode("overwrite").parquet(out)
        # the merged dir carries the union schema of its inputs, so
        # schema evolution survives compaction
        self._write_dir_schema(out, df.schema)
        return label

    def _append_dir_bytes(self, table: str, label: str) -> int:
        total = 0
        for dirpath, _dirs, files in os.walk(
            os.path.join(self.root, table, f"e={label}")
        ):
            total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
        return total

    def compact_appends(
        self, table: str, max_dirs: int = 32, tier_fanout: int = 4
    ) -> bool:
        """Iceberg ``rewrite_data_files`` analog, SIZE-TIERED: when an
        append-only table has accumulated more than ``max_dirs`` per-epoch
        directories, merge them into one compacted dir; when compacted
        dirs themselves pile up past ``tier_fanout``, merge the
        ``tier_fanout`` smallest of those.

        Tiering matters at 10^4+ epochs: merging EVERYTHING each time
        rewrites the whole (ever-growing) table every ~``max_dirs`` epochs
        — O(E²) cumulative I/O, the same write-amplification class as the
        full-state frontier rewrite. Smallest-first tiered merges give
        geometric dir growth, so each row is rewritten O(log E) times
        total, while dir count stays bounded by max_dirs + tier_fanout.

        The rewrite preserves content exactly (row order is not part of
        any table's contract). Must only run between epochs: the metadata
        swap is a commit, so pending (uncommitted) stages would be
        published half-finished — refused outright to preserve crash
        atomicity. Returns True if a compaction ran."""
        self._refuse_pending("compact_appends")
        labels = [str(x) for x in self._appends.get(table, [])]
        small = [lab for lab in labels if not lab.startswith("c")]
        if len(small) <= max_dirs:
            return False
        compacted = [lab for lab in labels if lab.startswith("c")]
        compacted.append(self._merge_append_dirs(table, small))
        self._appends[table] = list(compacted)
        while len(compacted) > tier_fanout:
            by_size = sorted(compacted, key=lambda lab: self._append_dir_bytes(table, lab))
            tier, rest = by_size[:tier_fanout], by_size[tier_fanout:]
            merged = self._merge_append_dirs(table, tier)
            compacted = rest + [merged]
            self._appends[table] = list(compacted)
        self._appends[table] = sorted(compacted)
        self.commit(self.committed_epoch())  # same epoch: pure metadata swap
        return True

    def prune_appends(self, table: str, min_epoch: int) -> int:
        """Drop committed append increments older than ``min_epoch`` from
        the pin map (the dirs die at the next expire_versions sweep).

        For log tables (``admitted``/``retries``/``fetched``) that the
        frontier reads only until the fold merges them into its base —
        retaining them after it duplicates seen/fetch_log bytes in
        storage (VERDICT r03 #3). Compacted dirs (``c<epoch>_<n>``) date
        from their creation epoch: everything in them is at least that
        old, so they prune by the same rule. Same
        atomicity stance as compact_appends: refused with pending staged
        state; the swap is a same-epoch metadata commit. Returns the
        number of increments dropped."""
        self._refuse_pending("prune_appends")
        labels = [str(x) for x in self._appends.get(table, [])]

        def label_epoch(lab: str) -> int:
            return int(lab[1:].split("_")[0]) if lab.startswith("c") else int(lab)

        keep = [lab for lab in labels if label_epoch(lab) >= min_epoch]
        if len(keep) == len(labels):
            return 0
        self._appends[table] = sorted(keep)
        self.commit(self.committed_epoch())
        return len(labels) - len(keep)

    def delete_where(self, table: str, condition) -> int:
        """Row-level DELETE on an append table — the Iceberg
        copy-on-write ``DELETE WHERE`` analog, and concretely the
        right-to-be-forgotten pass a training-data pipeline must be able
        to run (drop every document from a user/host across the corpus):
        each retained increment that CONTAINS matching rows is rewritten
        without them into a fresh ``c<epoch>_<n>`` dir; untouched
        increments keep their pins unchanged (the per-dir match count is
        one small job scanning only the condition's columns, and the dir
        count is bounded by compaction at max_dirs + tier_fanout — this
        is the file-skip step of a real engine's DELETE).

        Semantics match SQL DELETE: rows where ``condition`` is TRUE are
        removed; FALSE and NULL rows are kept (``~coalesce(cond,
        false)``). ``condition`` is a SQL string or a Column.

        Atomicity follows the compaction contract (refused with pending
        staged state) but the commit is at ``committed_epoch() + 1`` —
        unlike compaction, a DELETE CHANGES content, so it must be a new
        snapshot (Iceberg's DELETE creates a new snapshot too; a
        same-epoch swap would shadow the last pre-delete view). Every
        pre-delete epoch therefore stays time-travelable until
        ``expire_versions`` collects the replaced dirs — exactly how an
        Iceberg DELETE remains readable until ``expire_snapshots``; a
        resumed engine simply continues after the delete epoch. Returns
        the number of rows deleted.
        """
        from pyspark.sql import Column

        self._refuse_pending("delete_where")
        if table in self._versions or table in self._ptables:
            raise ValueError(
                "delete_where supports append tables only — rewrite "
                "replace/partitioned tables through stage/stage_parts"
            )
        cond = F.expr(condition) if isinstance(condition, str) else condition
        if not isinstance(cond, Column):
            raise TypeError("condition must be a SQL string or a Column")
        labels = [str(x) for x in self._appends.get(table, [])]
        if not labels:
            return 0
        epoch = self.committed_epoch()
        existing = set(labels)
        deleted = 0
        new_labels: list[str] = []
        for lab in labels:
            path = os.path.join(self.root, table, f"e={lab}")
            df = self._read_dirs([path])
            n_match = df.filter(cond).count()
            if n_match == 0:
                new_labels.append(lab)
                continue
            deleted += n_match
            kept = df.filter(~F.coalesce(cond, F.lit(False)))
            n = 0
            while (newlab := f"c{epoch}_{n}") in existing:
                n += 1
            existing.add(newlab)
            out = os.path.join(self.root, table, f"e={newlab}")
            kept_count = kept.count()
            if kept_count == 0:
                continue  # fully-deleted increment: label simply vanishes
            kept.write.mode("overwrite").parquet(out)
            self._write_dir_schema(out, kept.schema)
            new_labels.append(newlab)
        if deleted == 0:
            return 0  # nothing matched: no rewrite happened, no commit needed
        self._appends[table] = sorted(new_labels)
        self.commit(epoch + 1)  # a NEW snapshot: content changed
        return deleted

    def _recent_commits(self, n: int) -> list[dict]:
        """The last ``n`` complete commit records (oldest first). Bounded
        by roll_log: the file never holds more than ~max_lines records in
        the steady state, so this parse is O(max_lines), not O(E)."""
        return self._read_commits()[-n:]

    def expire_versions(self, keep_last: int = 2) -> int:
        """Snapshot expiry (SURVEY §7.4 risk 5: state growth across
        epochs). Replace-style tables rewrite fully each epoch; old
        version dirs are dead weight once a newer commit exists — the
        Iceberg expire_snapshots analog. Append dirs that a compaction
        swapped out of the current commit are collected too (pending
        increments are preserved).

        Partitioned tables expire at LEAF granularity: a ``v=<n>`` dir may
        hold partitions still pinned by the current commit next to ones a
        later commit rewrote — only leaves unpinned by the last
        ``keep_last`` commits (and pending stages) are removed, then empty
        version dirs are collected. Returns the number of dirs removed."""
        import shutil

        removed = 0
        with self._lock:
            pending_parts = dict(self._pending_parts)
            pending_appends = {t: list(v) for t, v in self._pending_appends.items()}
        # -- partitioned tables: keep leaves pinned by recent commits/pending
        recent = self._recent_commits(keep_last)
        pt_names = set(self._ptables) | set(pending_parts)
        for table in pt_names:
            keep: set[tuple[int, int]] = set()
            for src in [r.get("ptables", {}).get(table) for r in recent] + [
                self._ptables.get(table),
                pending_parts.get(table),
            ]:
                if src:
                    keep |= {(int(v), int(k)) for k, v in src["parts"].items()}
            tdir = os.path.join(self.root, table)
            if not os.path.isdir(tdir):
                continue
            for entry in os.listdir(tdir):
                if not entry.startswith("v="):
                    continue
                v = int(entry.split("=", 1)[1])
                vdir = os.path.join(tdir, entry)
                for leaf in os.listdir(vdir):
                    if leaf.startswith("_part=") and (
                        (v, int(leaf.split("=", 1)[1])) not in keep
                    ):
                        shutil.rmtree(os.path.join(vdir, leaf), ignore_errors=True)
                        removed += 1
                if not any(e.startswith("_part=") for e in os.listdir(vdir)):
                    shutil.rmtree(vdir, ignore_errors=True)
        for table, current in self._versions.items():
            if table in pt_names:
                continue
            tdir = os.path.join(self.root, table)
            if not os.path.isdir(tdir):
                continue
            for entry in os.listdir(tdir):
                if not entry.startswith("v="):
                    continue
                v = int(entry.split("=", 1)[1])
                if v <= current - keep_last:
                    shutil.rmtree(os.path.join(tdir, entry), ignore_errors=True)
                    removed += 1
        for table in set(self._appends) | set(pending_appends):
            live = {str(x) for x in self._appends.get(table, [])} | {
                str(x) for x in pending_appends.get(table, [])
            }
            tdir = os.path.join(self.root, table)
            if not os.path.isdir(tdir):
                continue
            for entry in os.listdir(tdir):
                if entry.startswith("e=") and entry[2:] not in live:
                    shutil.rmtree(os.path.join(tdir, entry), ignore_errors=True)
                    removed += 1
        return removed

