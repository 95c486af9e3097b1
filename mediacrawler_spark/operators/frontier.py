"""Frontier row algebra: seed admission, outcome classification, successor
emission (SURVEY §2.1 S1-S3, §2.12 R1-R4, §2.7 T2-T4, §2.6 W2-W4).

Everything here is pure column expressions + explode — no Python in the
row path. Each *fetched* page emits its successor frontier rows:

- search page  → detail rows for every real item (noise filtered, P1)
                 + next search page (cursor chain, early-exit T4,
                 Weibo two-empty-strike rule)
- detail       → first comment page iff comments_count > 0 (P3)
- comment page → sub-comment pages for commented roots + next comment page
                 while under the per-note budget (W4)
- sub page     → next sub page while has_more
- failures     → retry rows with attempt+1 and exponential epoch backoff
                 (R1/R2), dropped at max attempts; blocking statuses also
                 quarantine the host (R3)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mediacrawler_spark.functions.urls import host_of, infer_kind, with_canonical_url
from mediacrawler_spark.schemas import FRONTIER_SCHEMA
from mediacrawler_spark.sources.fetch import BLOCKING, PERMANENT, RETRYABLE

FRONTIER_COLS = [f.name for f in FRONTIER_SCHEMA.fields]
MAX_ATTEMPTS = 3  # reference: tenacity stop_after_attempt(3), xhs/client.py:84
BACKOFF_CAP = 8  # epochs; reference backoff factor 2 cap 60s (sdk/common/utils.py:48-80)
QUARANTINE_EPOCHS = 2


def seeds_to_candidates(seeds: DataFrame, epoch: int = 0) -> DataFrame:
    """Seed table (S1-S3 shape) → canonical frontier candidate rows.

    A seed of bare URLs is the common real input (the reference's
    specified-URL mode): rows with a NULL/empty ``kind`` get it inferred
    from URL shape (zhihu/help.py:441-460 judge_zhihu_url analog).

    ``url``, ``url_hash`` and ``host`` are final: the epoch loop admits
    this batch without canonicalizing it again. The split canonicalizer
    keeps JVM-eligible rows in codegen (the Column hybrid would put an
    Arrow UDF pass over every seed)."""
    s = with_canonical_url(seeds)
    kind = F.coalesce(
        F.nullif(F.col("kind"), F.lit("")), infer_kind(F.col("url"))
    )
    return s.select(
        F.col("url"),
        F.xxhash64("url").alias("url_hash"),
        host_of(F.col("url")).alias("host"),
        F.col("platform"),
        kind.alias("kind"),
        F.col("priority").cast("int"),
        F.col("seq").cast("long"),
        F.lit(None).cast("string").alias("parent_id"),
        F.lit("").alias("cursor"),
        F.lit(-1).cast("long").alias("parent_seq"),
        F.lit(0).alias("empty_streak"),
        F.lit(0).alias("attempt"),
        F.lit(epoch).cast("int").alias("not_before_epoch"),
        F.lit(epoch).cast("int").alias("epoch"),
    )


def _classify_exprs() -> dict:
    """Static Column trees of :func:`classify_outcomes`, built once per
    session (functions/exprcache.py). The epoch enters via the constant
    ``_ep`` int column the caller attaches where needed — Catalyst's
    CollapseProject + constant folding reduce it to the same literal the
    old per-epoch ``F.lit(epoch)`` trees produced."""
    ep = F.col("_ep")
    d: dict = {}
    d["success_f"] = F.col("status") == 200
    retryable = F.col("status").isin(list(RETRYABLE))
    d["retry_f"] = retryable & (F.col("attempt") + 1 < MAX_ATTEMPTS)
    d["exhausted_f"] = retryable & (F.col("attempt") + 1 >= MAX_ATTEMPTS)
    d["permanent_f"] = F.col("status").isin(list(PERMANENT))
    d["blocking_f"] = F.col("status").isin(list(BLOCKING))
    # R2: exponential epoch backoff 2^attempt, capped
    d["retries_sel"] = [
        *[F.col(c) for c in FRONTIER_COLS if c not in ("attempt", "not_before_epoch", "epoch")],
        (F.col("attempt") + 1).alias("attempt"),
        F.least(
            ep + F.pow(F.lit(2), F.col("attempt")).cast("int"),
            ep + F.lit(BACKOFF_CAP),
        ).cast("int").alias("not_before_epoch"),
        ep.alias("epoch"),
    ]
    d["quar_sel"] = [
        F.col("host"),
        (ep + F.lit(QUARANTINE_EPOCHS)).cast("int").alias("quarantined_until"),
    ]
    return d


def classify_outcomes(fetched: DataFrame, epoch: int) -> dict[str, DataFrame]:
    """Split one epoch's fetch results into success / retry / quarantine."""
    from mediacrawler_spark.functions.exprcache import cached_exprs

    d = cached_exprs(_classify_exprs)
    successes = fetched.filter(d["success_f"])
    exhausted = fetched.filter(d["exhausted_f"])
    permanent = fetched.filter(d["permanent_f"])
    withep = fetched.withColumn("_ep", F.lit(epoch).cast("int"))
    retries = (
        withep.filter(d["retry_f"]).select(*d["retries_sel"]).select(*FRONTIER_COLS)
    )
    # one row per blocking fetch, not per host: the quarantine merge's
    # groupBy(host) dedups them
    quarantined_hosts = withep.filter(d["blocking_f"]).select(*d["quar_sel"])
    return {
        "successes": successes,
        "retries": retries,
        "exhausted": exhausted,
        "permanent": permanent,
        "quarantined_hosts": quarantined_hosts,
    }


# a successor before its url-derived columns (url_hash, host) are attached
_SUCCESSOR_TYPE = T.StructType(
    [
        T.StructField(f.name, f.dataType, False)
        for f in FRONTIER_SCHEMA.fields
        if f.name not in ("url_hash", "host")
    ]
)


def _successor(url, kind, priority, seq, parent_id, cursor, parent_seq=None,
               empty_streak=None):
    """One successor row as a struct, fields in ``_SUCCESSOR_TYPE`` order.
    The epoch flows in through the constant ``_nxt`` column (epoch+1)."""
    nxt = F.col("_nxt")
    return F.struct(
        url.alias("url"),
        F.col("platform").alias("platform"),
        kind.alias("kind"),
        priority.alias("priority"),
        seq.alias("seq"),
        parent_id.alias("parent_id"),
        cursor.alias("cursor"),
        (F.lit(-1).cast("long") if parent_seq is None else parent_seq).alias("parent_seq"),
        (F.lit(0) if empty_streak is None else empty_streak).alias("empty_streak"),
        F.lit(0).alias("attempt"),
        nxt.alias("not_before_epoch"),
        nxt.alias("epoch"),
    )


def _successor_exprs(
    comments_per_page: int, max_comments_per_note: int, max_pages_per_chain: int
) -> tuple:
    """The generator column and the finishing select list of
    :func:`emit_successors`, and the aggregate of
    :func:`count_successors`, built once per session
    (functions/exprcache.py). Every tree here is epoch-independent —
    re-building them per epoch was most of the successor stage's py4j
    round-trips (round-5 profile).

    Each successor rule is one array branch of one ``concat``, and
    ``inline`` turns it into rows, so ``successes`` is scanned once. A
    rule that does not apply to a row is NULL, and ``concat`` of a NULL
    is NULL, so each branch is coalesced to an empty array of the
    successor type (non-null fields: the output nullability stays the OR
    over the branches, as a union's would)."""
    none = F.array().cast(T.ArrayType(_SUCCESSOR_TYPE, containsNull=False))
    kind, seq, host = F.col("kind"), F.col("seq"), F.col("host")
    zero = F.lit(0).cast("long")

    def cursor_next(*path, parent_seq=None):
        """The next page of this row's own cursor chain."""
        return _successor(
            F.concat(F.lit("https://"), host, *path, F.lit("?cursor="), F.col("next_cursor")),
            kind, F.col("priority"), seq + 1, F.col("parent_id"), F.col("next_cursor"),
            parent_seq=parent_seq,
        )

    def detail_of(x):
        return _successor(
            F.concat(F.lit("https://"), host, F.lit("/note/"), x["id"]),
            F.lit("detail"), F.lit(0), zero, x["id"], F.lit(""),
        )

    # --- search page → detail rows (P1 noise filter) -----------------------
    search = kind == "search_page"
    details = F.transform(
        F.filter(F.col("items"), lambda x: ~x["model_type"].isin("rec_query", "hot_query")),
        detail_of,
    )

    # --- search page → next page (T4 early exit + 2-strike) ----------------
    streak = F.when(F.size("items") == 0, F.col("empty_streak") + 1).otherwise(F.lit(0))
    next_search = F.array(
        _successor(
            F.concat(
                F.regexp_replace(F.col("url"), r"page=\d+$", "page="), F.col("next_cursor")
            ),
            kind, F.col("priority"), seq + 1, F.col("parent_id"), F.col("next_cursor"),
            empty_streak=streak,
        )
    )
    next_search_f = F.col("has_more") & (streak < 2) & (seq < max_pages_per_chain)

    # --- detail → first comment page iff any comments (P3) -----------------
    first_cpage = F.array(
        _successor(
            F.concat(
                F.lit("https://"), host, F.lit("/comments/"), F.col("note_id"),
                F.lit("?cursor=0"),
            ),
            F.lit("comment_page"),
            F.lit(1),  # W1: comment pages after notes
            zero, F.col("note_id"), F.lit("0"),
        )
    )
    first_cpage_f = F.try_element_at(F.col("items"), F.lit(1))["comments_count"] > 0

    # --- comment page → sub-comment pages + next page ----------------------
    sub_pages = F.transform(
        F.filter(
            F.transform(
                F.col("comments"), lambda c, idx: F.struct(c.alias("c"), idx.alias("idx"))
            ),
            lambda r: r["c"]["sub_comment_count"] > 0,
        ),
        lambda r: _successor(
            F.concat(
                F.lit("https://"), host, F.lit("/subcomments/"), F.col("note_id"),
                F.lit("/"), r["c"]["comment_id"], F.lit("?cursor="),
                r["c"]["sub_comment_cursor"],
            ),
            F.lit("sub_comment_page"), F.lit(1), zero, r["c"]["comment_id"],
            r["c"]["sub_comment_cursor"],
            parent_seq=(seq * comments_per_page + r["idx"]).cast("long"),
        ),
    )
    # W4: stop the chain once the next page would start at/after the budget
    next_cpage_f = (
        F.col("has_more")
        & ((seq + 1) * comments_per_page < max_comments_per_note)
        & (seq < max_pages_per_chain)
    )
    next_cpage = F.array(cursor_next(F.lit("/comments/"), F.col("note_id")))

    # --- listing (creator posts) → detail rows + next listing page ----------
    listing = kind == "listing"
    l_details = F.transform(
        F.filter(F.col("items"), lambda x: x["model_type"] == "note"), detail_of
    )
    chain_f = F.col("has_more") & (seq < max_pages_per_chain)
    next_listing = F.array(cursor_next(F.lit("/user/"), F.col("note_id")))

    # --- sub-comment page → next sub page -----------------------------------
    next_spage = F.array(
        cursor_next(
            F.lit("/subcomments/"), F.col("note_id"), F.lit("/"), F.col("parent_id"),
            parent_seq=F.col("parent_seq"),
        )
    )

    cpage, spage = kind == "comment_page", kind == "sub_comment_page"
    branches = [
        (search, details),
        (search & next_search_f, next_search),
        ((kind == "detail") & first_cpage_f, first_cpage),
        (cpage, sub_pages),
        (cpage & next_cpage_f, next_cpage),
        (spage & chain_f, next_spage),
        (listing, l_details),
        (listing & chain_f, next_listing),
    ]
    rows = F.concat(*[F.coalesce(F.when(cond, arr), none) for cond, arr in branches])
    finish = [
        F.col("url"),
        F.xxhash64("url").alias("url_hash"),
        host_of(F.col("url")).alias("host"),
        *[F.col(c) for c in FRONTIER_COLS if c not in ("url", "url_hash", "host")],
    ]
    count = F.coalesce(F.sum(F.size(rows)), F.lit(0)).cast("long").alias("emitted_count")
    return F.inline(rows), finish, count


def emit_successors(
    successes: DataFrame,
    epoch: int,
    comments_per_page: int = 10,
    max_comments_per_note: int = 500,
    max_pages_per_chain: int = 1000,
) -> DataFrame:
    """All successor frontier rows of one epoch's successful fetches.

    ``max_comments_per_note`` plays the role of
    CRAWLER_MAX_COMMENTS_COUNT_SINGLENOTES (config/base_config.py:135) with
    one deliberate deviation: the reference counts SUB-comments toward the
    budget too (xhs/client.py get_note_all_comments extends `result` with
    sub_comments before the `len(result) < max_count` check), while the
    engine budgets ROOT comments only — a root-count budget is a pure
    per-row predicate (page*cpp + idx < max), so truncation needs no
    cross-page running state at 10^10 scale. The oracle applies the same
    root-only rule (oracle.py:277,347), keeping the invariant two-sided.
    ``comments_per_page`` is the per-platform fixed page size (10-20,
    e.g. xhs/client.py:297). ``max_pages_per_chain`` is a safety valve on
    every cursor chain, mirrored in CrawlOracle.max_chain.

    The column trees are session-cached (:func:`_successor_exprs`); the
    epoch flows in through the constant ``_nxt`` column.
    """
    from mediacrawler_spark.functions.exprcache import cached_exprs

    inline, finish, _ = cached_exprs(
        _successor_exprs, comments_per_page, max_comments_per_note, max_pages_per_chain
    )
    return (
        successes.withColumn("_nxt", F.lit(epoch + 1).cast("int"))
        .select(inline)
        .select(*finish)
    )


def count_successors(
    successes: DataFrame,
    epoch: int,
    comments_per_page: int = 10,
    max_comments_per_note: int = 500,
    max_pages_per_chain: int = 1000,
) -> DataFrame:
    """One row, ``emitted_count``: how many rows :func:`emit_successors`
    yields for the same arguments — Σ ``size`` of the per-row successor
    array ``inline`` expands. A job of its own, so a reader of the count
    need not wait for the successors' write."""
    from mediacrawler_spark.functions.exprcache import cached_exprs

    *_, count = cached_exprs(
        _successor_exprs, comments_per_page, max_comments_per_note, max_pages_per_chain
    )
    return successes.withColumn("_nxt", F.lit(epoch + 1).cast("int")).agg(count)
