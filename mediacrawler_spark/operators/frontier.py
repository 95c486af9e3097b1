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
    # distinct over (host, constant) ≡ distinct over host
    quarantined_hosts = withep.filter(d["blocking_f"]).select(*d["quar_sel"]).distinct()
    return {
        "successes": successes,
        "retries": retries,
        "exhausted": exhausted,
        "permanent": permanent,
        "quarantined_hosts": quarantined_hosts,
    }


def _successor_exprs(
    comments_per_page: int, max_comments_per_note: int, max_pages_per_chain: int
) -> dict:
    """All static Column trees of :func:`emit_successors`, built once per
    session (functions/exprcache.py). The epoch enters the rows via the
    constant ``_nxt`` column (epoch+1) the caller attaches, so every tree
    here is epoch-independent — re-building these lists per epoch was
    most of the successor stage's py4j round-trips (round-5 profile)."""
    nxt = F.col("_nxt")
    base = [
        F.lit(-1).cast("long").alias("parent_seq"),
        F.lit(0).alias("empty_streak"),
        F.lit(0).alias("attempt"),
        nxt.alias("not_before_epoch"),
        nxt.alias("epoch"),
    ]
    d: dict = {"base": base}
    d["search_filter"] = F.col("kind") == "search_page"
    d["items_sel"] = [
        F.col("host"),
        F.col("platform"),
        F.col("_nxt"),
        F.explode(F.col("items")).alias("it"),
    ]
    d["items_filter"] = ~F.col("it.model_type").isin("rec_query", "hot_query")
    d["details_sel"] = [
        F.concat(F.lit("https://"), F.col("host"), F.lit("/note/"), F.col("it.id")).alias("url"),
        F.col("platform"),
        F.lit("detail").alias("kind"),
        F.lit(0).alias("priority"),
        F.lit(0).cast("long").alias("seq"),
        F.col("it.id").alias("parent_id"),
        F.lit("").alias("cursor"),
        *base,
    ]
    d["streak"] = F.when(F.size("items") == 0, F.col("empty_streak") + 1).otherwise(F.lit(0))
    d["next_search_filter"] = (
        F.col("has_more") & (F.col("_streak") < 2) & (F.col("seq") < max_pages_per_chain)
    )
    d["next_search_sel"] = [
        F.concat(
            F.regexp_replace(F.col("url"), r"page=\d+$", "page="),
            F.col("next_cursor"),
        ).alias("url"),
        F.col("platform"),
        F.col("kind"),
        F.col("priority"),
        (F.col("seq") + 1).alias("seq"),
        F.col("parent_id"),
        F.col("next_cursor").alias("cursor"),
        F.lit(-1).cast("long").alias("parent_seq"),
        F.col("_streak").alias("empty_streak"),
        F.lit(0).alias("attempt"),
        nxt.alias("not_before_epoch"),
        nxt.alias("epoch"),
    ]
    d["detail_filter"] = F.col("kind") == "detail"
    d["detail_it"] = F.try_element_at(F.col("items"), F.lit(1))
    d["first_cpage_filter"] = F.col("it.comments_count") > 0
    d["first_cpage_sel"] = [
        F.concat(
            F.lit("https://"), F.col("host"), F.lit("/comments/"),
            F.col("note_id"), F.lit("?cursor=0"),
        ).alias("url"),
        F.col("platform"),
        F.lit("comment_page").alias("kind"),
        F.lit(1).alias("priority"),  # W1: comment pages after notes
        F.lit(0).cast("long").alias("seq"),
        F.col("note_id").alias("parent_id"),
        F.lit("0").alias("cursor"),
        *base,
    ]
    d["cpage_filter"] = F.col("kind") == "comment_page"
    d["roots_sel"] = [
        F.col("host"), F.col("platform"), F.col("note_id"), F.col("seq"),
        F.col("_nxt"),
        F.posexplode(F.col("comments")).alias("idx", "c"),
    ]
    d["sub_pages_filter"] = F.col("c.sub_comment_count") > 0
    d["sub_pages_sel"] = [
        F.concat(
            F.lit("https://"), F.col("host"), F.lit("/subcomments/"),
            F.col("note_id"), F.lit("/"), F.col("c.comment_id"),
            F.lit("?cursor="), F.col("c.sub_comment_cursor"),
        ).alias("url"),
        F.col("platform"),
        F.lit("sub_comment_page").alias("kind"),
        F.lit(1).alias("priority"),
        F.lit(0).cast("long").alias("seq"),
        F.col("c.comment_id").alias("parent_id"),
        F.col("c.sub_comment_cursor").alias("cursor"),
        (F.col("seq") * comments_per_page + F.col("idx")).cast("long").alias("parent_seq"),
        F.lit(0).alias("empty_streak"),
        F.lit(0).alias("attempt"),
        nxt.alias("not_before_epoch"),
        nxt.alias("epoch"),
    ]
    # W4: stop the chain once the next page would start at/after the budget
    d["next_cpage_filter"] = (
        F.col("has_more")
        & ((F.col("seq") + 1) * comments_per_page < max_comments_per_note)
        & (F.col("seq") < max_pages_per_chain)
    )
    d["next_cpage_sel"] = [
        F.concat(
            F.lit("https://"), F.col("host"), F.lit("/comments/"),
            F.col("note_id"), F.lit("?cursor="), F.col("next_cursor"),
        ).alias("url"),
        F.col("platform"),
        F.col("kind"),
        F.col("priority"),
        (F.col("seq") + 1).alias("seq"),
        F.col("parent_id"),
        F.col("next_cursor").alias("cursor"),
        *base,
    ]
    d["listing_filter"] = F.col("kind") == "listing"
    d["l_items_sel"] = [
        F.col("host"), F.col("platform"), F.col("_nxt"),
        F.explode(F.col("items")).alias("it"),
    ]
    d["l_items_filter"] = F.col("it.model_type") == "note"
    d["l_details_sel"] = [
        F.concat(F.lit("https://"), F.col("host"), F.lit("/note/"), F.col("it.id")).alias("url"),
        F.col("platform"),
        F.lit("detail").alias("kind"),
        F.lit(0).alias("priority"),
        F.lit(0).cast("long").alias("seq"),
        F.col("it.id").alias("parent_id"),
        F.lit("").alias("cursor"),
        *base,
    ]
    d["next_listing_filter"] = F.col("has_more") & (F.col("seq") < max_pages_per_chain)
    d["next_listing_sel"] = [
        F.concat(
            F.lit("https://"), F.col("host"), F.lit("/user/"),
            F.col("note_id"), F.lit("?cursor="), F.col("next_cursor"),
        ).alias("url"),
        F.col("platform"),
        F.col("kind"),
        F.col("priority"),
        (F.col("seq") + 1).alias("seq"),
        F.col("parent_id"),
        F.col("next_cursor").alias("cursor"),
        *base,
    ]
    d["spage_filter"] = F.col("kind") == "sub_comment_page"
    d["next_spage_filter"] = F.col("has_more") & (F.col("seq") < max_pages_per_chain)
    d["next_spage_sel"] = [
        F.concat(
            F.lit("https://"), F.col("host"), F.lit("/subcomments/"),
            F.col("note_id"), F.lit("/"), F.col("parent_id"),
            F.lit("?cursor="), F.col("next_cursor"),
        ).alias("url"),
        F.col("platform"),
        F.col("kind"),
        F.col("priority"),
        (F.col("seq") + 1).alias("seq"),
        F.col("parent_id"),
        F.col("next_cursor").alias("cursor"),
        F.col("parent_seq"),
        F.lit(0).alias("empty_streak"),
        F.lit(0).alias("attempt"),
        nxt.alias("not_before_epoch"),
        nxt.alias("epoch"),
    ]
    d["finish_sel"] = [
        F.col("url"),
        F.xxhash64("url").alias("url_hash"),
        host_of(F.col("url")).alias("host"),
        *[F.col(c) for c in FRONTIER_COLS if c not in ("url", "url_hash", "host")],
    ]
    return d


def _finish(df: DataFrame, finish_sel=None) -> DataFrame:
    return df.select(
        *(
            finish_sel
            if finish_sel is not None
            else [
                F.col("url"),
                F.xxhash64("url").alias("url_hash"),
                host_of(F.col("url")).alias("host"),
                *[F.col(c) for c in FRONTIER_COLS if c not in ("url", "url_hash", "host")],
            ]
        )
    )


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

    d = cached_exprs(
        _successor_exprs, comments_per_page, max_comments_per_note, max_pages_per_chain
    )
    successes = successes.withColumn("_nxt", F.lit(epoch + 1).cast("int"))

    # --- search page → detail rows (P1 noise filter) -----------------------
    search = successes.filter(d["search_filter"])
    items = search.select(*d["items_sel"]).filter(d["items_filter"])
    details = items.select(*d["details_sel"])

    # --- search page → next page (T4 early exit + 2-strike) ----------------
    next_search = (
        search.withColumn("_streak", d["streak"])
        .filter(d["next_search_filter"])
        .select(*d["next_search_sel"])
    )

    # --- detail → first comment page iff any comments (P3) -----------------
    first_comment_page = (
        successes.filter(d["detail_filter"])
        .withColumn("it", d["detail_it"])
        .filter(d["first_cpage_filter"])
        .select(*d["first_cpage_sel"])
    )

    # --- comment page → sub-comment pages + next page ----------------------
    cpages = successes.filter(d["cpage_filter"])
    roots = cpages.select(*d["roots_sel"])
    sub_pages = roots.filter(d["sub_pages_filter"]).select(*d["sub_pages_sel"])
    next_comment_page = cpages.filter(d["next_cpage_filter"]).select(
        *d["next_cpage_sel"]
    )

    # --- listing (creator posts) → detail rows + next listing page ----------
    listing = successes.filter(d["listing_filter"])
    l_items = listing.select(*d["l_items_sel"]).filter(d["l_items_filter"])
    l_details = l_items.select(*d["l_details_sel"])
    next_listing = listing.filter(d["next_listing_filter"]).select(
        *d["next_listing_sel"]
    )

    # --- sub-comment page → next sub page -----------------------------------
    spages = successes.filter(d["spage_filter"])
    next_sub_page = spages.filter(d["next_spage_filter"]).select(*d["next_spage_sel"])

    out = None
    for part in (details, next_search, first_comment_page, sub_pages,
                 next_comment_page, next_sub_page, l_details, next_listing):
        part = _finish(part, d["finish_sel"])
        out = part if out is None else out.unionByName(part)
    return out
