"""Span extraction + document assembly (the per-row invariant).

Each fetched page contributes *span rows* — (doc_id, sort-key, kind, text,
media_ref) — and the ``documents`` table is their per-doc ordered assembly
into ``array<struct<kind,text,media_ref,offset>>`` with dense 0-based
offsets (BASELINE.json input_hint).

Span order reproduces the reference's emission order exactly
(SURVEY §1.3):

  title, text, images (list order), video,            -- the note itself
  then per comment page p (cursor order):             -- client.py:345-369
     the page's root comments (page order),
     then each root's sub-comment chain, roots in page order

The six-field sort key encodes that total order:
  (section, page, phase, parent_ordinal, sub_page, idx)
  section: 0 title | 1 text | 2 image | 3 video | 4 comments
  phase:   0 root page | 1 sub chains of that page

Assembly is one hash aggregation + JVM-side array sort —
``sort_array(collect_list(struct(...)))`` then ``transform`` for dense
offsets. No Python anywhere; no window over the span table needed.

W4 truncation: root comments beyond ``max_comments_per_note`` are cut at
extraction (the reference slices the last page —
media_platform/xhs/client.py:357-358); sub-comments follow their parent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

SPAN_ROWS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("s_sec", T.IntegerType(), False),
        T.StructField("s_page", T.LongType(), False),
        T.StructField("s_phase", T.IntegerType(), False),
        T.StructField("s_parent", T.LongType(), False),
        T.StructField("s_subpage", T.LongType(), False),
        T.StructField("s_idx", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("media_ref", T.StringType(), False),
    ]
)
SPAN_ROW_COLS = [f.name for f in SPAN_ROWS_SCHEMA.fields]


def _doc_id(platform, note_id):
    return F.concat(platform, F.lit(":note:"), note_id)


def _span(doc_id, sec, page, phase, parent, subpage, idx, kind, text, media_ref):
    """One span row as a struct, fields in ``SPAN_ROW_COLS`` order."""
    return F.struct(
        doc_id.alias("doc_id"), F.lit(sec).alias("s_sec"), page.alias("s_page"),
        F.lit(phase).alias("s_phase"), parent.alias("s_parent"),
        subpage.alias("s_subpage"), idx.alias("s_idx"), F.lit(kind).alias("kind"),
        text.alias("text"), media_ref.alias("media_ref"),
    )


def _span_exprs(comments_per_page: int, max_comments_per_note: int):
    """The generator column of :func:`extract_span_rows`, built once per
    session (see functions/exprcache.py — per-epoch re-construction of
    these trees dominated the epoch loop's py4j round-trips).

    Every row kind contributes one array branch; ``concat`` joins them
    and ``inline`` turns the array into rows, so ``successes`` is scanned
    once. A branch that does not apply to a row is NULL, and ``concat``
    of a NULL is NULL, so each branch is coalesced to an empty array of
    the span type — non-null fields, so the output nullability stays the
    OR over the branches, as a union's would."""
    zero = F.lit(0).cast("long")
    none = F.array().cast(T.ArrayType(SPAN_ROWS_SCHEMA, containsNull=False))
    kind = F.col("kind")
    note_doc = _doc_id(F.col("platform"), F.col("note_id"))

    # --- note detail: title, text, images, video ---------------------------
    detail = (kind == "detail") & (F.size("items") > 0)
    it = F.try_element_at(F.col("items"), F.lit(1))
    heads = F.array(
        _span(note_doc, 0, zero, 0, zero, zero, zero, "title", it["title"], F.lit("")),
        _span(note_doc, 1, zero, 0, zero, zero, zero, "text", it["text"], F.lit("")),
    )
    images = F.transform(
        it["image_refs"],
        lambda ref, pos: _span(
            note_doc, 2, zero, 0, zero, zero, pos.cast("long"), "image", F.lit(""), ref
        ),
    )
    video = F.array(
        _span(note_doc, 3, zero, 0, zero, zero, zero, "video", F.lit(""), it["video_ref"])
    )

    # --- creator profile (first listing page carries a profile item) --------
    listing = kind == "listing"
    profiles = F.filter(F.col("items"), lambda x: x["model_type"] == "creator_profile")
    creator_doc = F.concat(F.col("platform"), F.lit(":creator:"), F.col("note_id"))
    p_title = F.transform(
        profiles,
        lambda x: _span(creator_doc, 0, zero, 0, zero, zero, zero, "title", x["title"], F.lit("")),
    )
    p_body = F.transform(
        profiles,
        lambda x: _span(creator_doc, 1, zero, 0, zero, zero, zero, "text", x["text"], F.lit("")),
    )

    # --- root comments (comment pages), W4 truncation -----------------------
    roots = F.filter(
        F.transform(
            F.col("comments"),
            lambda c, idx: _span(
                note_doc, 4, F.col("seq"), 0,
                (F.col("seq") * comments_per_page + idx).cast("long"), zero, zero,
                "comment", c["content"], F.lit(""),
            ),
        ),
        lambda s: s["s_parent"] < max_comments_per_note,
    )

    # --- sub comments: sort after their parent's page ------------------------
    subs = F.transform(
        F.col("comments"),
        lambda c, idx: _span(
            note_doc, 4, (F.col("parent_seq") / comments_per_page).cast("long"), 1,
            F.col("parent_seq"), F.col("seq"), idx.cast("long"),
            "comment", c["content"], F.lit(""),
        ),
    )

    branches = [
        (detail, heads),
        (detail, images),
        (detail & (it["video_ref"] != ""), video),
        (listing, p_title),
        (listing, p_body),
        (kind == "comment_page", roots),
        (kind == "sub_comment_page", subs),
    ]
    spans = F.concat(*[F.coalesce(F.when(cond, arr), none) for cond, arr in branches])
    return F.inline(spans)


def extract_span_rows(
    successes: DataFrame,
    comments_per_page: int = 10,
    max_comments_per_note: int = 500,
) -> DataFrame:
    """Successful fetches of one epoch → span rows: one projection and
    one ``inline`` over ``successes`` (no union, one scan)."""
    from mediacrawler_spark.functions.exprcache import cached_exprs

    return successes.select(cached_exprs(_span_exprs, comments_per_page, max_comments_per_note))


def assemble_documents(span_rows: DataFrame) -> DataFrame:
    """Span rows (any number of epochs) → the ``documents`` table.

    One shuffle on doc_id; the sort is a per-row array sort (JVM codegen),
    not a window. Offsets are re-densified so robots-denied or truncated
    segments never leave gaps.
    """
    packed = F.struct(
        F.col("s_sec"), F.col("s_page"), F.col("s_phase"),
        F.col("s_parent"), F.col("s_subpage"), F.col("s_idx"),
        F.col("kind"), F.col("text"), F.col("media_ref"),
    )
    return (
        span_rows.groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(packed)).alias("arr"))
        .select(
            "doc_id",
            F.transform(
                F.col("arr"),
                lambda x, i: F.struct(
                    x["kind"].alias("kind"),
                    x["text"].alias("text"),
                    x["media_ref"].alias("media_ref"),
                    i.cast("int").alias("offset"),
                ),
            ).alias("spans"),
        )
    )
