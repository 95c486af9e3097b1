"""Explicit StructType schemas for every engine table.

The reference's schemas are informal (dict key order → CSV header,
store/xhs/xhs_store_impl.py:73-78; MySQL DDL schema/tables.sql). Here every
table has one explicit StructType, enforced at write time — the Spark
equivalent of the reference's 14-table DDL, reduced to the engine's core.

``documents``' shape is fixed by the driver contract (BASELINE.json
input_hint): interleaved text + media spans, ordered by ``offset``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --- documents: the primary output table (driver-fixed) -------------------
# span kinds mirror the reference's record assembly:
#   title  <- note title   (reference store/xhs/__init__.py:92)
#   text   <- desc/body    (store/xhs/__init__.py:93)
#   comment<- comment text (store/xhs/__init__.py:151), cursor-page order with
#             sub-comments directly after their parent page
#             (media_platform/xhs/client.py:345-369)
#   image  <- image url list order (store/xhs/__init__.py:83-86,105)
#   video  <- video url arr (store/xhs/__init__.py:41-65)
SPAN_TYPE = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("offset", T.IntegerType(), False),
    ]
)

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_TYPE, containsNull=False), False),
    ]
)

# --- frontier: the central new abstraction ---------------------------------
# One row per crawl task. The reference's equivalent is the implicit state of
# its nested async loops (task kinds: search/detail/creator —
# sdk/task_scheduler.py:10-31 — plus per-page cursors in every core.py).
FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("platform", T.StringType(), False),
        # search_page | detail | listing | comment_page | sub_comment_page | media
        T.StructField("kind", T.StringType(), False),
        # 0 = notes/details before 1 = comment pages (reference fetches &
        # stores details, *then* batch_get_note_comments —
        # media_platform/xhs/core.py:168-179)
        T.StructField("priority", T.IntegerType(), False),
        # page ordinal / cursor ordinal: W2/W3 ordering key
        T.StructField("seq", T.LongType(), False),
        T.StructField("parent_id", T.StringType(), True),
        T.StructField("cursor", T.StringType(), True),
        # global ordinal of the parent comment for sub_comment_page rows
        # (page*page_size + idx); -1 otherwise. Lets sub-comment spans sort
        # directly after their parent page (xhs/client.py:359-369) without
        # parsing ids.
        T.StructField("parent_seq", T.LongType(), False),
        # consecutive-empty-page counter (Weibo 2-strike rule,
        # media_platform/weibo/core.py:133-140)
        T.StructField("empty_streak", T.IntegerType(), False),
        # retry dataflow (reference: tenacity 3x — media_platform/xhs/client.py:84)
        T.StructField("attempt", T.IntegerType(), False),
        T.StructField("not_before_epoch", T.IntegerType(), False),
        T.StructField("epoch", T.IntegerType(), False),
    ]
)

SEEN_SCHEMA = T.StructType(
    [
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
    ]
)

ROBOTS_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("path_prefix", T.StringType(), False),
        T.StructField("allow", T.BooleanType(), False),
        T.StructField("crawl_delay", T.DoubleType(), False),
        T.StructField("expires_at", T.LongType(), False),
    ]
)

POLITENESS_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("budget_per_epoch", T.IntegerType(), False),
        T.StructField("quarantined_until", T.IntegerType(), False),
    ]
)

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("frontier_epoch", T.IntegerType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("fetch_count", T.LongType(), False),
        T.StructField("dedup_count", T.LongType(), False),
        T.StructField("emitted_count", T.LongType(), False),
        T.StructField("committed_at", T.LongType(), False),
    ]
)

# --- pages: synthetic fetch-responder corpus (tests replace live HTTP) -----
PAGE_ITEM_TYPE = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("model_type", T.StringType(), False),
        T.StructField("comments_count", T.IntegerType(), False),
        T.StructField("title", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("image_refs", T.ArrayType(T.StringType(), False), False),
        T.StructField("video_ref", T.StringType(), False),
    ]
)

PAGE_COMMENT_TYPE = T.StructType(
    [
        T.StructField("comment_id", T.StringType(), False),
        T.StructField("parent_comment_id", T.StringType(), False),
        T.StructField("content", T.StringType(), False),
        T.StructField("sub_comment_count", T.IntegerType(), False),
        T.StructField("sub_comment_cursor", T.StringType(), False),
        T.StructField("like_count", T.IntegerType(), False),
        T.StructField("create_time", T.LongType(), False),
    ]
)

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("status", T.IntegerType(), False),
        T.StructField("body_kind", T.StringType(), False),
        T.StructField("note_id", T.StringType(), False),
        T.StructField("has_more", T.BooleanType(), False),
        T.StructField("next_cursor", T.StringType(), False),
        T.StructField("items", T.ArrayType(PAGE_ITEM_TYPE, False), False),
        T.StructField("comments", T.ArrayType(PAGE_COMMENT_TYPE, False), False),
        # attempt-dependent failure: respond 503 while attempt < fail_times
        # (exercises retry R1/R2; not part of a real fetch response)
        T.StructField("fail_times", T.IntegerType(), False),
    ]
)

SEEDS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("platform", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("keyword", T.StringType(), True),
        T.StructField("priority", T.IntegerType(), False),
        T.StructField("seq", T.LongType(), False),
    ]
)


def _empty_exprs(schema: T.StructType | str) -> tuple:
    """The typed-null select list and the always-false predicate of
    :func:`empty_frame`, built once per session per schema
    (functions/exprcache.py): the engine asks for the same few empty
    frames every epoch, and a frontier-wide select list of casts was
    hundreds of py4j round-trips."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    return [F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields], F.lit(False)


def empty_frame(spark: SparkSession, schema: T.StructType | str) -> DataFrame:
    """Zero-row frame of ``schema`` (a StructType or DDL string) that the
    optimizer can see through: typed nulls over ``spark.range(1)`` behind
    ``where(false)``, which PruneFilters folds into an empty
    ``LocalRelation``. ``createDataFrame([], schema)`` is an RDD-backed
    ``LogicalRDD`` instead: nothing prunes it, and every action over it
    (a count, a union it feeds) schedules jobs."""
    from mediacrawler_spark.functions.exprcache import cached_exprs

    cols, false = cached_exprs(_empty_exprs, schema)
    return spark.range(1).select(*cols).where(false)
