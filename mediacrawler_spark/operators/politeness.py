"""Priority + politeness selection and the robots gate (SURVEY W1/J5/J6).

The reference's politeness is control-flow: semaphore(5) + uniform(1,2)s
jittered sleeps (config/base_config.py:96,126; media_platform/xhs/core.py:157,
289-293) and its priority is statement order — details fetched & stored
*then* comment pages (media_platform/xhs/core.py:168-179). The engine makes
both declarative:

- every frontier row has ``priority`` (0 notes/details < 1 comment pages)
  and ``seq`` (page/cursor ordinal);
- each epoch, each host may fetch at most ``budget_per_epoch`` rows
  (derived from the reference envelope: 5 concurrent / 1.5 s mean sleep ×
  epoch length);
- the per-host fetch set is the budget-prefix of rows ordered by
  ``(priority, seq, url_hash)`` — a deterministic total order, so crawl
  ordering is reproducible (SURVEY §7.4 risk 1).

Scale: a naive ``Window.partitionBy(host)`` sends *every* row of a hot host
through one task (one platform host can hold ~50% of a 10^10 frontier).
Selection is therefore two-phase top-k:

  phase 1: repartition by (host, salt) with ``salt = pmod(url_hash, S)``;
           local row_number per salt; keep rows with local rank ≤ budget —
           at most S×budget rows per host survive (S small), off the hot path;
  phase 2: exact global row_number per host over the tiny survivor set.

The same salted key partitions the subsequent fetch stage (north_rule:
"salted shuffle for comment-pagination fan-out").
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from mediacrawler_spark.functions.urls import url_path

ORDER_COLS = ("priority", "seq", "url_hash")


def _robots_exprs(epoch_ts: int) -> dict:
    """Static Column trees of :func:`apply_robots`, built once per session
    per ``epoch_ts`` (functions/exprcache.py) — the epoch loop gates every
    batch with the same rules."""
    path = url_path(F.col("url"))
    first_match = F.try_element_at(
        F.filter(F.col("_rules"), lambda r: F.startswith(path, r["prefix"])),
        F.lit(1),
    )
    return {
        "live_f": F.col("expires_at") > F.lit(epoch_ts),
        "rules_agg": F.sort_array(
            F.collect_list(
                F.struct(
                    F.length("path_prefix").alias("len"),
                    F.col("path_prefix").alias("prefix"),
                    F.col("allow").alias("allow"),
                )
            ),
            asc=False,  # longest prefix first → first match wins
        ).alias("_rules"),
        "allow_f": F.coalesce(first_match["allow"], F.lit(True)),
    }


def apply_robots(frontier: DataFrame, robots: DataFrame, epoch_ts: int) -> DataFrame:
    """Drop rows a robots rule denies (SURVEY S8/J5).

    Longest-matching ``path_prefix`` wins (the robots.txt convention);
    hosts without any live rule default to allow. Expired rules
    (``expires_at`` ≤ now) are ignored, mirroring the reference's TTL
    cache contract (cache/local_cache.py:47-72).

    Shape: rules are pre-aggregated to ONE row per host (prefixes sorted
    longest-first) and broadcast, so the gate is a broadcast equi-join +
    an array expression — zero shuffles on the frontier side, one row in /
    one row out (an earlier window-based version could nondeterministically
    collapse duplicate candidates before dedup picked its winner).
    """
    from mediacrawler_spark.functions.exprcache import cached_exprs

    d = cached_exprs(_robots_exprs, epoch_ts)
    rules_by_host = robots.filter(d["live_f"]).groupBy("host").agg(d["rules_agg"])
    joined = frontier.join(F.broadcast(rules_by_host), on="host", how="left")
    return joined.filter(d["allow_f"]).drop("_rules")


def _quarantine_exprs() -> list:
    """The select list of :func:`merge_quarantine`, built once per
    session (functions/exprcache.py)."""
    return [
        F.col("host"),
        F.col("p.budget_per_epoch").alias("budget_per_epoch"),
        F.greatest(
            F.coalesce(F.col("p.quarantined_until"), F.lit(0)),
            F.coalesce(F.col("q.quarantined_until"), F.lit(0)),
        ).alias("quarantined_until"),
    ]


def merge_quarantine(politeness: DataFrame, quarantine: DataFrame) -> DataFrame:
    """Merge the static politeness table with dynamic quarantine (R3/J6).

    Must be a FULL OUTER join: a 471/461 outcome can quarantine a host
    that has no politeness row (the engine still fetches such hosts via
    ``default_budget``), and the oracle's quarantine dict is keyed by any
    host (oracle.py:174). A left join from politeness would silently drop
    the quarantine and the engine would keep fetching a blocked host.
    Quarantine-only hosts get a NULL ``budget_per_epoch`` so
    ``select_fetch_set`` falls through to ``default_budget``.
    """
    from mediacrawler_spark.functions.exprcache import cached_exprs

    return (
        politeness.alias("p")
        .join(quarantine.alias("q"), on="host", how="full_outer")
        .select(*cached_exprs(_quarantine_exprs))
    )


# Fallback winner-set cache for bare callers that pass no ``cache`` —
# engines own their own slot (CrawlEngine._winner_cache) so interleaved
# engines in one process never unpersist each other's live winner set.
_DEFAULT_WINNER_CACHE: dict = {}


def _select_exprs(default_budget: int, salt_splits: int) -> dict:
    """Static Column/WindowSpec trees of :func:`select_fetch_set`, built
    once per session per (budget, salt) config (functions/exprcache.py) —
    rebuilding the window specs and select lists every epoch was ~250
    py4j round-trips. Every column reference here is unambiguous by
    construction (the politeness side is renamed ``_p_host`` before the
    join; winner keys are renamed ``_w_hash``)."""
    d: dict = {}
    d["pol_sel"] = [
        F.col("host").alias("_p_host"),
        F.col("budget_per_epoch"),
        F.col("quarantined_until"),
    ]
    d["pol_cond"] = F.col("host") == F.col("_p_host")
    d["budget_sel"] = [
        F.coalesce(F.col("budget_per_epoch"), F.lit(default_budget)).alias("_budget"),
        F.coalesce(F.col("quarantined_until"), F.lit(0)).alias("_quar"),
    ]
    order = [F.col(c).asc() for c in ORDER_COLS]
    d["salt_col"] = F.pmod(F.col("url_hash"), F.lit(salt_splits))
    d["lrk_col"] = F.row_number().over(W.partitionBy("host", "_salt").orderBy(*order))
    d["lrk_f"] = F.col("_lrk") <= F.col("_budget")
    d["rank_col"] = F.row_number().over(W.partitionBy("host").orderBy(*order))
    d["rank_f"] = F.col("host_rank") <= F.col("_budget")
    d["winner_sel"] = [
        F.col("url_hash").alias("_w_hash"),
        F.col("host_rank"),
        F.concat_ws("#", F.col("host"), F.col("_salt").cast("string")).alias(
            "salted_host"
        ),
    ]
    d["rejoin_cond"] = F.col("url_hash") == F.col("_w_hash")
    return d


def select_fetch_set(
    frontier: DataFrame,
    politeness: DataFrame,
    epoch: int,
    default_budget: int = 8,
    salt_splits: int = 8,
    winner_broadcast_max_rows: int = 2_000_000,
    cache: dict | None = None,
    frontier_rows: int | None = None,
) -> DataFrame:
    """The rows of the due frontier fetched this epoch.

    They carry ``salted_host`` (fetch-stage partition key) and
    ``host_rank`` (the deterministic per-host order — the value the
    crawl-ordering oracle checks).

    The winner set is ≈ (#active hosts × budget) rows. Small sets are
    broadcast back onto the frontier (no frontier shuffle); past
    ``winner_broadcast_max_rows`` (millions of hosts — VERDICT r01 item 5)
    the rejoin falls back to a shuffle hash join on url_hash.

    ``frontier_rows`` is an optional upper bound on ``frontier``'s rows
    that the caller already knows (the engine's footer count). The winner
    set is a subset of the frontier, so a bound within the broadcast
    limit picks the broadcast rejoin with no job at all. Without a bound,
    or past the limit, the winner set is persisted and counted, so the
    selection windows run once, not once per consumer, and the strategy
    comes from the TRUE winner count.
    """
    # The selection windows run on a NARROW projection — (url_hash, host,
    # priority, seq) is ~30 bytes/row vs ~150+ for a full frontier row, so
    # both shuffles move 5× less data. Winners (budget-bounded, small by
    # construction) are broadcast back to pick up their full rows.
    from mediacrawler_spark.functions.exprcache import cached_exprs

    d = cached_exprs(_select_exprs, default_budget, salt_splits)
    due = frontier.filter(F.col("not_before_epoch") <= F.lit(epoch))

    pol = politeness.select(*d["pol_sel"])
    narrow = due.select("url_hash", "host", "priority", "seq")
    with_budget = narrow.join(F.broadcast(pol), d["pol_cond"], "left").select(
        "url_hash", "host", "priority", "seq", *d["budget_sel"]
    )
    eligible = with_budget.filter(F.col("_quar") <= F.lit(epoch))

    # phase 1: per-salt local prune (bounds hot-host fan-in to S×budget).
    # The window's partitionBy does the (host, salt) shuffle itself.
    salted = eligible.withColumn("_salt", d["salt_col"])
    pruned = salted.withColumn("_lrk", d["lrk_col"]).filter(d["lrk_f"])

    # phase 2: exact per-host rank over ≤ S×budget survivors
    winner_keys = (
        pruned.withColumn("host_rank", d["rank_col"])
        .filter(d["rank_f"])
        .select(*d["winner_sel"])
    )

    # The CALLER's previous winner set is dropped here — by then its
    # consumers have run. The cache slot is caller-scoped (ADVICE r02: a
    # module-global slot let two interleaved engines unpersist each
    # other's live set).
    bounded = frontier_rows is not None and frontier_rows <= winner_broadcast_max_rows
    if not bounded:
        winner_keys = winner_keys.persist()
    slot = _DEFAULT_WINNER_CACHE if cache is None else cache
    prev = slot.pop("winners", None)
    if prev is not None:
        prev.unpersist()
    if bounded:
        # the bound caps the winner set: broadcast it uncounted; the
        # exchange evaluates the windows once, and the big frontier never
        # reshuffles (url_hash is unique per frontier row by construction)
        return due.join(F.broadcast(winner_keys), d["rejoin_cond"], "inner").drop("_w_hash")
    slot["winners"] = winner_keys
    if winner_keys.count() <= winner_broadcast_max_rows:
        wk = F.broadcast(winner_keys)
    else:
        # shuffle path: millions of hosts would exceed broadcast limits
        wk = winner_keys
    return due.join(wk, d["rejoin_cond"], "inner").drop("_w_hash")
