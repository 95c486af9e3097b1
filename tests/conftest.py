"""Shared fixtures: one SparkSession per test session, one small universe,
and ONE canonical engine run that many assertion sets inspect.

Fast-gate layout (VERDICT r04 #2): the multi-epoch engine e2e tests used
to each pay for their own full crawl (~20 s/epoch of fixed per-epoch job
cost at local[4]). Now:

- ``partial_crawl``   — the canonical crawl stopped after 2 committed
  epochs; mutation tests COPY this directory instead of re-running the
  prefix (a snapshot dir copy is milliseconds).
- ``full_crawl``      — the canonical COMPLETED crawl, constructed by
  RESUMING a copy of the prefix with fresh engine/catalog objects. Every
  invariant the e2e suite asserts on it (seen set, per-host order, spans,
  lineage, maintenance pruning) is therefore continuously verified over
  the resume path — the strictest construction; kill-after-epoch-1
  equivalence is implied rather than separately re-run.
- ``mid_crawl_ref``   — reference state at committed epoch 3 (prefix + 2
  unperturbed resumed epochs): the equality target for perturbed-resume
  tests (log roll, legacy migration), which resume a mutated copy for the
  same 2 epochs and must land in the byte-identical state. The engine is
  deterministic, so state equality at epoch 3 pins full-run equality
  without paying for two more runs to completion.

Pytest tmp dirs hold snapshot catalogs (thousands of small parquet
files); the sandbox's /tmp is a shared disk while /dev/shm is RAM, so
basetemp is redirected there (measured ~20% off a full engine run).
"""

from __future__ import annotations

import os
import shutil
import threading
from contextlib import contextmanager

import pytest
from py4j.protocol import CALL_COMMAND_NAME, MEMORY_COMMAND_NAME, REFLECTION_COMMAND_NAME

from mediacrawler_spark.fixtures import UniverseParams, build_universe
from mediacrawler_spark.schemas import (
    PAGES_SCHEMA,
    POLITENESS_SCHEMA,
    ROBOTS_SCHEMA,
    SEEDS_SCHEMA,
)
from mediacrawler_spark.session import get_spark

_BASETEMP_PARENT = "/dev/shm/pytest-mcs"


def pytest_configure(config):
    # honor an explicit --basetemp; otherwise use a per-pid tmpfs dir
    if getattr(config.option, "basetemp", None) is None and os.path.isdir("/dev/shm"):
        os.makedirs(_BASETEMP_PARENT, exist_ok=True)
        # reap dirs left by dead runs so repeated gates don't leak RAM
        for name in os.listdir(_BASETEMP_PARENT):
            try:
                os.kill(int(name.rsplit("-", 1)[-1]), 0)
            except (ValueError, ProcessLookupError):
                shutil.rmtree(os.path.join(_BASETEMP_PARENT, name), ignore_errors=True)
            except PermissionError:
                pass
        config.option.basetemp = os.path.join(_BASETEMP_PARENT, f"run-{os.getpid()}")
        config._mcs_basetemp_owned = True


def pytest_unconfigure(config):
    if getattr(config, "_mcs_basetemp_owned", False):
        shutil.rmtree(str(config.option.basetemp), ignore_errors=True)


def _test_heap() -> str:
    """Half the machine, at most the session's 24g default. The suite
    shares one JVM; on a 16 GB host a 24g ParallelGC heap grows past
    physical memory part-way through and the kernel OOM killer takes it,
    failing every later Spark test."""
    if "SPARK_GRAFT_DRIVER_MEM" in os.environ:
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    total_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return f"{max(2, min(24, int(total_gb // 2)))}g"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="mediacrawler_spark_tests",
        cpus=4,
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": _test_heap()},
    )
    yield s


@pytest.fixture(scope="session")
def universe():
    return build_universe(
        UniverseParams(
            n_notes=60,
            n_hosts=6,
            n_keywords=3,
            search_pages_per_keyword=2,
            max_comments_per_note=25,
        )
    )


@pytest.fixture(scope="session")
def udfs(spark, universe):
    return {
        "seeds": spark.createDataFrame(universe.seeds, SEEDS_SCHEMA),
        "pages": spark.createDataFrame(universe.pages, PAGES_SCHEMA),
        "robots": spark.createDataFrame(universe.robots, ROBOTS_SCHEMA),
        "politeness": spark.createDataFrame(universe.politeness, POLITENESS_SCHEMA),
    }


@pytest.fixture()
def tmp_catalog_dir(tmp_path):
    d = str(tmp_path / "snap")
    yield d
    shutil.rmtree(d, ignore_errors=True)


# --------------------------------------------- shared canonical crawl ----
@pytest.fixture(scope="session")
def crawl_cfg():
    from mediacrawler_spark.plans.epoch import EngineConfig

    return EngineConfig(max_comments_per_note=25, max_epochs=80)


def _mk_engine(spark, udfs, cfg, root):
    from mediacrawler_spark.plans.epoch import CrawlEngine
    from mediacrawler_spark.sinks.snapshot import SnapshotCatalog

    return CrawlEngine(
        spark, SnapshotCatalog(spark, root),
        udfs["pages"], udfs["robots"], udfs["politeness"], cfg,
    )


@pytest.fixture(scope="session")
def partial_crawl(spark, udfs, crawl_cfg, tmp_path_factory):
    """Canonical crawl stopped after 2 committed epochs (the resume
    seed). Returns {"root", "res"}; tests must COPY the dir before
    mutating it."""
    root = str(tmp_path_factory.mktemp("snap_partial") / "cat")
    eng = _mk_engine(spark, udfs, crawl_cfg, root)
    res = eng.run(udfs["seeds"], max_epochs=2)
    assert eng.catalog.committed_epoch() == 1
    return {"root": root, "res": res}


@pytest.fixture(scope="session")
def full_crawl(spark, udfs, crawl_cfg, partial_crawl, tmp_path_factory):
    """The canonical completed crawl, built by resuming a copy of the
    2-epoch prefix (see module docstring). Returns the engine plus the
    COMBINED per-epoch stats of prefix + resumed run."""
    root = str(tmp_path_factory.mktemp("snap_full") / "cat")
    shutil.copytree(partial_crawl["root"], root)
    eng = _mk_engine(spark, udfs, crawl_cfg, root)
    res2 = eng.run(None)
    res1 = partial_crawl["res"]
    return {
        "eng": eng,
        "epochs": list(res1.epochs) + list(res2.epochs),
        "total_fetched": res1.total_fetched + res2.total_fetched,
        "resumed_epochs": list(res2.epochs),
    }


@pytest.fixture(scope="session")
def snapshot_state():
    """Comparable end-state of an engine: committed epoch, seen set,
    document spans, per-host fetch order, pending frontier rows (the
    merged base + log read)."""

    def _state(eng):
        cat = eng.catalog
        return {
            "committed_epoch": cat.committed_epoch(),
            "seen": {r["url"] for r in cat.read("seen").collect()},
            "docs": {
                r["doc_id"]: [
                    (s["kind"], s["text"], s["media_ref"], s["offset"])
                    for s in r["spans"]
                ]
                for r in eng.documents().collect()
            },
            "fetch_log": [
                (r["host"], r["url"], r["epoch"], r["kind"])
                for r in eng.fetch_log()
                .orderBy("host", "epoch", "host_rank")
                .collect()
            ],
            "frontier_rows": eng._frontier().count(),
        }

    return _state


@pytest.fixture(scope="session")
def mid_crawl_ref(spark, udfs, crawl_cfg, partial_crawl, snapshot_state, tmp_path_factory):
    """Reference state at committed epoch 3: prefix + 2 UNPERTURBED
    resumed epochs. Perturbed-resume tests (roll, migration) must land
    exactly here after the same 2 epochs."""
    root = str(tmp_path_factory.mktemp("snap_midref") / "cat")
    shutil.copytree(partial_crawl["root"], root)
    eng = _mk_engine(spark, udfs, crawl_cfg, root)
    eng.run(None, max_epochs=2)
    st = snapshot_state(eng)
    assert st["committed_epoch"] == 3
    return st


# ------------------------------------------------ py4j round-trip counter ----
class Py4jCounter:
    """Commands the Python side sent to the JVM while :meth:`counting`
    was open, by kind: ``calls`` (method calls), ``reflections`` (class
    and member lookups) and ``total`` (every command but the proxy
    deletes, whose timing follows Python's garbage collector)."""

    def __init__(self):
        self.calls = self.reflections = self.total = 0
        self._on = False
        self._lock = threading.Lock()  # pool threads send commands too

    def _seen(self, command: str) -> None:
        if not self._on or command.startswith(MEMORY_COMMAND_NAME):
            return
        with self._lock:
            self.total += 1
            if command.startswith(CALL_COMMAND_NAME):
                self.calls += 1
            elif command.startswith(REFLECTION_COMMAND_NAME):
                self.reflections += 1

    @contextmanager
    def counting(self):
        self.calls = self.reflections = self.total = 0
        self._on = True
        try:
            yield self
        finally:
            self._on = False


@pytest.fixture()
def py4j_commands(monkeypatch):
    """A :class:`Py4jCounter` fed by every ``ClientServerConnection``
    (one per Python thread in PySpark's pinned-thread mode, so pool
    threads count too)."""
    from py4j.clientserver import ClientServerConnection

    counter = Py4jCounter()
    send = ClientServerConnection.send_command

    def counted(conn, command, *args, **kwargs):
        counter._seen(command)
        return send(conn, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    return counter
