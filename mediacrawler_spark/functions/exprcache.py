"""Per-session memoization of static Column expression trees.

PySpark Columns are immutable *unresolved* expression trees — one tree
built from ``F.col("name")`` can be applied to any DataFrame carrying
that column, across any number of epochs. The round-5 profile of the
epoch loop measured ~12k py4j round-trips per epoch, most of them
re-constructing the same large select lists (span extraction, successor
emission, the URL canonicalizer) every epoch; building each list once
per session removes that chatter without changing a single plan.

Cached per SparkSession (weakly) so a stopped/restarted session can
never serve stale JVM object handles. The active session is a
thread-local in PySpark: a thread-pool worker (the epoch loop's
overlapped writes) has none, so the lookup falls back to the driver's
default session — otherwise every tree would be rebuilt, uncached, in
every worker.
"""

from __future__ import annotations

import weakref
from typing import Any, Callable

from pyspark.errors import PySparkRuntimeError
from pyspark.sql import SparkSession

_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()


def cached_exprs(builder: Callable[..., Any], *key) -> Any:
    """Return ``builder(*key)``, memoized per (active SparkSession,
    builder name, key). ``key`` must be hashable plan-shaping parameters
    (ints/strings) — never data."""
    try:
        sess = SparkSession.active()  # the thread's session, else the default
    except PySparkRuntimeError:  # no session yet (import time): don't cache
        return builder(*key)
    per = _CACHE.setdefault(sess, {})
    k = (builder.__module__, builder.__qualname__, *key)
    if k not in per:
        # two threads may both build; the first stored tree wins for both
        per.setdefault(k, builder(*key))
    return per[k]
