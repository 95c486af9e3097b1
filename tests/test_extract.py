"""Golden span-sequence fixtures — the per-row invariant (input_hint).

Hand-written fetched rows → exact expected (kind, text, media_ref, offset)
sequences, mirroring the reference's emission order: title, desc, images,
video (store/xhs/__init__.py:89-111), then comment pages in cursor order
with sub-comments directly after their parent page
(media_platform/xhs/client.py:345-369).
"""

from pyspark.sql import functions as F

from mediacrawler_spark.operators.extract import assemble_documents, extract_span_rows

FETCHED_DDL = (
    "url string, url_hash long, host string, platform string, kind string,"
    "priority int, seq long, parent_id string, cursor string, parent_seq long,"
    "empty_streak int, attempt int, not_before_epoch int, epoch int,"
    "status int, body_kind string, note_id string, has_more boolean,"
    "next_cursor string,"
    "items array<struct<id string, model_type string, comments_count int,"
    "title string, text string, image_refs array<string>, video_ref string>>,"
    "comments array<struct<comment_id string, parent_comment_id string,"
    "content string, sub_comment_count int, sub_comment_cursor string,"
    "like_count int, create_time bigint>>"
)


def _row(kind, seq=0, parent_seq=-1, note_id="n1", items=None, comments=None):
    return (
        f"https://h/{kind}/{seq}", hash((kind, seq, parent_seq)) % 10**9, "h",
        "xhs", kind, 0, seq, None, "", parent_seq, 0, 0, 0, 0,
        200, kind, note_id, False, "", items or [], comments or [],
    )


def _item(title="T", text="B", images=(), video=""):
    return ("n1", "note", 5, title, text, list(images), video)


def _comment(cid, content, subs=0):
    return (cid, "", content, subs, "0" if subs else "", 0, 0)


def _spans_of(spark, rows, **kw):
    df = spark.createDataFrame(rows, FETCHED_DDL)
    docs = assemble_documents(extract_span_rows(df, **kw)).collect()
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in docs
    }


def test_note_only_order(spark):
    rows = [_row("detail", items=[_item("T", "B", ["i1", "i2"], "v1")])]
    got = _spans_of(spark, rows)
    assert got["xhs:note:n1"] == [
        ("title", "T", "", 0),
        ("text", "B", "", 1),
        ("image", "", "i1", 2),
        ("image", "", "i2", 3),
        ("video", "", "v1", 4),
    ]


def test_comments_interleave_after_note(spark):
    rows = [
        # comment pages arrive in a different epoch/order than the note
        _row("comment_page", seq=1, comments=[_comment("c10", "p1c0")]),
        _row("detail", items=[_item("T", "B")]),
        _row("comment_page", seq=0, comments=[_comment("c00", "p0c0"), _comment("c01", "p0c1")]),
    ]
    got = _spans_of(spark, rows)
    assert got["xhs:note:n1"] == [
        ("title", "T", "", 0),
        ("text", "B", "", 1),
        ("comment", "p0c0", "", 2),
        ("comment", "p0c1", "", 3),
        ("comment", "p1c0", "", 4),
    ]


def test_sub_comments_follow_parent_page(spark):
    """Reference order: page-0 roots, then sub-chains of page-0 parents (in
    parent order), then page-1 roots (xhs/client.py:359-369)."""
    rows = [
        _row("detail", items=[_item("T", "B")]),
        _row("comment_page", seq=0,
             comments=[_comment("c00", "r0", subs=2), _comment("c01", "r1", subs=1)]),
        _row("comment_page", seq=1, comments=[_comment("c10", "r2")]),
        # sub pages: parent_seq = page*10 + idx
        _row("sub_comment_page", seq=0, parent_seq=0,
             comments=[_comment("s000", "sub-r0-a"), _comment("s001", "sub-r0-b")]),
        _row("sub_comment_page", seq=0, parent_seq=1,
             comments=[_comment("s010", "sub-r1-a")]),
    ]
    got = _spans_of(spark, rows)
    texts = [t for (k, t, m, o) in got["xhs:note:n1"] if k == "comment"]
    assert texts == ["r0", "r1", "sub-r0-a", "sub-r0-b", "sub-r1-a", "r2"]


def test_sub_comment_multipage_order(spark):
    rows = [
        _row("comment_page", seq=0, comments=[_comment("c00", "r0", subs=5)]),
        _row("sub_comment_page", seq=1, parent_seq=0, comments=[_comment("s2", "q-page1")]),
        _row("sub_comment_page", seq=0, parent_seq=0, comments=[_comment("s1", "q-page0")]),
    ]
    got = _spans_of(spark, rows)
    texts = [t for (k, t, m, o) in got["xhs:note:n1"] if k == "comment"]
    assert texts == ["r0", "q-page0", "q-page1"]


def test_truncation_w4(spark):
    """Root comments beyond the per-note budget are cut mid-page
    (reference slices the last page — xhs/client.py:357-358)."""
    rows = [
        _row("comment_page", seq=0, comments=[_comment(f"c{i}", f"r{i}") for i in range(10)]),
        _row("comment_page", seq=1, comments=[_comment(f"c1{i}", f"r1{i}") for i in range(10)]),
    ]
    got = _spans_of(spark, rows, max_comments_per_note=13)
    texts = [t for (k, t, m, o) in got["xhs:note:n1"] if k == "comment"]
    assert len(texts) == 13
    assert texts[-1] == "r12"


def test_offsets_dense_and_zero_based(spark):
    rows = [_row("detail", items=[_item("T", "B", ["i1"], "")])]
    got = _spans_of(spark, rows)
    offs = [o for (_, _, _, o) in got["xhs:note:n1"]]
    assert offs == list(range(len(offs)))


# --------------------------------------------- single-scan edge cases ----
# Extraction and successor emission are one projection each over the
# fetched rows: per row, every rule contributes an array branch (coalesced
# to empty when it does not apply — ``concat`` with a NULL is NULL), then
# ``inline``. These rows cover every branch, its empty case, and NULL
# arrays beside rows of another kind.


def _page(kind, *, seq=0, parent_seq=-1, note_id="n1", items=(), comments=(),
          has_more=False, next_cursor="", url=None, parent_id=None, empty_streak=0):
    """One fetched row; ``items``/``comments`` of None stay NULL."""
    return (
        url or f"https://h/{kind}/{note_id}/{seq}", 1, "h", "xhs", kind, 0, seq,
        parent_id, "", parent_seq, empty_streak, 0, 0, 3, 200, kind, note_id, has_more,
        next_cursor,
        None if items is None else list(items),
        None if comments is None else list(comments),
    )


def _note(id, model_type="note", comments_count=5, title="T", text="B", images=(), video=""):
    return (id, model_type, comments_count, title, text, list(images), video)


EDGE_ROWS = [
    # detail with images + video; with empty items; with no comments, no
    # images and video_ref ""
    _page("detail", note_id="n1", items=[_note("n1", title="T1", text="B1",
                                              images=["i1", "i2"], video="v1")]),
    _page("detail", note_id="n2", items=[]),
    _page("detail", note_id="n3", items=[_note("n3", comments_count=0, title="T3", text="B3")]),
    # listing with a creator profile, a note and a non-note item; listing
    # without a profile (last page)
    _page("listing", note_id="u1", has_more=True, next_cursor="lc1",
          items=[_note("p", "creator_profile", 0, "P", "PB"), _note("x1"),
                 _note("r1", "rec_query")]),
    _page("listing", note_id="u2", seq=1, items=[_note("x2")]),
    # comment page crossing the W4 budget (25 at 10/page: page 1 keeps
    # roots 10-24 of which it has 4; page 2 starts at 20 and keeps 5)
    _page("comment_page", note_id="n4", seq=1, has_more=True, next_cursor="20",
          parent_id="n4",
          comments=[_comment("c0", "r10"), _comment("c1", "r11", subs=2),
                    _comment("c2", "r12"), _comment("c3", "r13", subs=1)]),
    _page("comment_page", note_id="n4", seq=2, has_more=True, next_cursor="30",
          parent_id="n4", comments=[_comment(f"d{i}", f"r2{i}") for i in range(7)]),
    # sub-comment pages: one with a next page, one last page
    _page("sub_comment_page", note_id="n4", seq=0, parent_seq=11, parent_id="c1",
          has_more=True, next_cursor="s5",
          comments=[_comment("s0", "q0"), _comment("s1", "q1")]),
    _page("sub_comment_page", note_id="n4", seq=1, parent_seq=13, parent_id="c3",
          comments=[_comment("s2", "q2")]),
    # search pages: noise items filtered; first empty page continues, the
    # second consecutive empty page stops the chain (Weibo two strikes)
    _page("search_page", note_id="", seq=1, has_more=True, next_cursor="2",
          url="https://h/search?kw=a&page=1",
          items=[_note("a1"), _note("hq", "hot_query"), _note("rq", "rec_query")]),
    _page("search_page", note_id="", seq=2, has_more=True, next_cursor="3",
          url="https://h/search?kw=b&page=2"),
    _page("search_page", note_id="", seq=3, has_more=True, next_cursor="4",
          url="https://h/search?kw=c&page=3", empty_streak=1),
    # NULL arrays next to rows of another kind
    _page("detail", note_id="n5", items=None, comments=None),
    _page("comment_page", note_id="n6", items=None, parent_id="n6",
          comments=[_comment("k0", "k-root", subs=1)]),
]


def test_single_scan_span_rows_golden(spark):
    out = extract_span_rows(spark.createDataFrame(EDGE_ROWS, FETCHED_DDL),
                            max_comments_per_note=25)
    assert [(f.name, f.nullable) for f in out.schema] == [
        ("doc_id", True), ("s_sec", False), ("s_page", True), ("s_phase", False),
        ("s_parent", True), ("s_subpage", True), ("s_idx", False), ("kind", False),
        ("text", True), ("media_ref", True),
    ]
    n1, n3, n4, u1 = "xhs:note:n1", "xhs:note:n3", "xhs:note:n4", "xhs:creator:u1"
    want = [
        (n1, 0, 0, 0, 0, 0, 0, "title", "T1", ""),
        (n1, 1, 0, 0, 0, 0, 0, "text", "B1", ""),
        (n1, 2, 0, 0, 0, 0, 0, "image", "", "i1"),
        (n1, 2, 0, 0, 0, 0, 1, "image", "", "i2"),
        (n1, 3, 0, 0, 0, 0, 0, "video", "", "v1"),
        (n3, 0, 0, 0, 0, 0, 0, "title", "T3", ""),
        (n3, 1, 0, 0, 0, 0, 0, "text", "B3", ""),
        (u1, 0, 0, 0, 0, 0, 0, "title", "P", ""),
        (u1, 1, 0, 0, 0, 0, 0, "text", "PB", ""),
        *[(n4, 4, 1, 0, 10 + i, 0, 0, "comment", f"r1{i}", "") for i in range(4)],
        *[(n4, 4, 2, 0, 20 + i, 0, 0, "comment", f"r2{i}", "") for i in range(5)],
        (n4, 4, 1, 1, 11, 0, 0, "comment", "q0", ""),
        (n4, 4, 1, 1, 11, 0, 1, "comment", "q1", ""),
        (n4, 4, 1, 1, 13, 1, 0, "comment", "q2", ""),
        ("xhs:note:n6", 4, 0, 0, 0, 0, 0, "comment", "k-root", ""),
    ]
    assert sorted(map(tuple, out.collect())) == sorted(want)


def test_single_scan_successors_golden(spark):
    from mediacrawler_spark.operators.frontier import emit_successors

    out = emit_successors(spark.createDataFrame(EDGE_ROWS, FETCHED_DDL), 3,
                          max_comments_per_note=25)
    assert [(f.name, f.nullable) for f in out.schema] == [
        ("url", True), ("url_hash", False), ("host", True), ("platform", True),
        ("kind", True), ("priority", True), ("seq", True), ("parent_id", True),
        ("cursor", True), ("parent_seq", True), ("empty_streak", True),
        ("attempt", False), ("not_before_epoch", False), ("epoch", False),
    ]
    rows = out.collect()
    assert all(r["url_hash"] is not None and r["host"] == "h" for r in rows)
    assert {(r["platform"], r["attempt"], r["not_before_epoch"], r["epoch"])
            for r in rows} == {("xhs", 0, 4, 4)}
    cols = ("url", "kind", "priority", "seq", "parent_id", "cursor", "parent_seq",
            "empty_streak")
    got = sorted(tuple(r[c] for c in cols) for r in rows)
    want = [
        # search → details (noise filtered) + next pages until two empty
        ("https://h/note/a1", "detail", 0, 0, "a1", "", -1, 0),
        ("https://h/search?kw=a&page=2", "search_page", 0, 2, None, "2", -1, 0),
        ("https://h/search?kw=b&page=3", "search_page", 0, 3, None, "3", -1, 1),
        # detail with comments → first comment page; none for n2/n3
        ("https://h/comments/n1?cursor=0", "comment_page", 1, 0, "n1", "0", -1, 0),
        # comment page 1 → sub pages of its commented roots + next page;
        # page 2 → none (page 3 would start at the budget)
        ("https://h/subcomments/n4/c1?cursor=0", "sub_comment_page", 1, 0, "c1", "0", 11, 0),
        ("https://h/subcomments/n4/c3?cursor=0", "sub_comment_page", 1, 0, "c3", "0", 13, 0),
        ("https://h/comments/n4?cursor=20", "comment_page", 0, 2, "n4", "20", -1, 0),
        # sub page with has_more → next sub page; the last one → none
        ("https://h/subcomments/n4/c1?cursor=s5", "sub_comment_page", 0, 1, "c1", "s5", 11, 0),
        # listing → note details only + next listing page while has_more
        ("https://h/note/x1", "detail", 0, 0, "x1", "", -1, 0),
        ("https://h/user/u1?cursor=lc1", "listing", 0, 1, None, "lc1", -1, 0),
        ("https://h/note/x2", "detail", 0, 0, "x2", "", -1, 0),
        # a comment page with NULL items still emits its sub page
        ("https://h/subcomments/n6/k0?cursor=0", "sub_comment_page", 1, 0, "k0", "0", 0, 0),
    ]
    assert got == sorted(want)  # urls are unique: tuples never compare past them
