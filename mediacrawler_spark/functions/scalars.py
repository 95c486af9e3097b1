"""Scalar helpers (SURVEY §2.9) — all pure column expressions.

Every function here compiles to JVM-side Catalyst expressions inside
whole-stage codegen; none drops to Python. Reference citations inline.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def html_to_text(col: Column) -> Column:
    """Strip <script>/<style> blocks then all tags, collapse whitespace.

    Reference: tools/crawler_util.py:187-196 (regex strip). Two
    regexp_replace passes + trim — stays in codegen.
    """
    no_blocks = F.regexp_replace(
        col, r"(?is)<(script|style)[^>]*>.*?</\1>", " "
    )
    no_tags = F.regexp_replace(no_blocks, r"(?s)<[^>]+>", " ")
    return F.trim(F.regexp_replace(no_tags, r"\s+", " "))


def parse_count(col: Column) -> Column:
    """'1.2万'-style count strings → bigint.

    Reference regex-extracts the first digit run (tools/crawler_util.py:162-171)
    *ignoring* the 万/亿 multiplier; we reproduce that exact semantic for
    parity (first run of digits, else 0).
    """
    digits = F.regexp_extract(F.coalesce(col, F.lit("")), r"(\d+)", 1)
    return F.when(digits == "", F.lit(0)).otherwise(digits.cast("bigint"))


def base36_encode(col: Column) -> Column:
    """base36 of a non-negative bigint (reference: media_platform/xhs/help.py:242-265)."""
    return F.lower(F.conv(col.cast("string"), 10, 36))


def base36_decode(col: Column) -> Column:
    return F.conv(F.upper(col), 36, 10).cast("bigint")


def search_id(keyword: Column, epoch: Column) -> Column:
    """Deterministic search-session id.

    The reference generates (ms_epoch << 64) + rand → base36
    (media_platform/xhs/help.py:268-271) — nondeterministic. For
    ordering-match we derive it from xxhash64(keyword, epoch) instead.
    """
    return base36_encode(F.abs(F.xxhash64(keyword, epoch)))


def cookie_to_map(col: Column) -> Column:
    """Cookie string → map (reference: tools/crawler_util.py:134-159)."""
    return F.str_to_map(col, F.lit(r";\s*"), F.lit("="))


def gender_label(col: Column) -> Column:
    """Int/str gender code → label (reference: store/xhs/__init__.py:188-194)."""
    return (
        F.when(col.cast("string") == "1", F.lit("女"))
        .when(col.cast("string") == "0", F.lit("男"))
        .otherwise(F.lit(""))
    )


def ms_epoch_to_ts(col: Column) -> Column:
    """13-digit ms epoch → timestamp (reference: tools/time_util.py:21-26)."""
    return F.timestamp_millis(col.cast("bigint"))


def s_epoch_to_ts(col: Column) -> Column:
    """10-digit s epoch → timestamp (reference: tools/time_util.py:82-83)."""
    return F.timestamp_seconds(col.cast("bigint"))


def day_range(start: Column, end: Column) -> Column:
    """Array of days [start, end] inclusive — Bilibili per-day search slicing
    (media_platform/bilibili/core.py:100-127,176). Explode to get per-day seeds."""
    return F.sequence(F.to_date(start), F.to_date(end), F.expr("interval 1 day"))


def day_bounds_s(day: Column) -> tuple[Column, Column]:
    """[begin_ts, end_ts] epoch-seconds for one day; end = start+1d-1s
    (media_platform/bilibili/core.py:100-127)."""
    begin = F.unix_timestamp(day.cast("timestamp"))
    end = F.unix_timestamp(F.date_add(day, 1).cast("timestamp")) - 1
    return begin, end


def custom_b64(col: Column, std: str, custom: str) -> Column:
    """Custom-alphabet base64 (reference: media_platform/xhs/help.py:119-239)
    = standard base64 + alphabet translation."""
    return F.translate(F.base64(col), std, custom)


def normalize_json_text(col: Column) -> Column:
    """':undefined' → ':null' before from_json (reference:
    media_platform/xhs/client.py:449)."""
    return F.regexp_replace(col, r":\s*undefined", ":null")


def wbi_sign(params: Column, salt: Column) -> Column:
    """F8: Bilibili-style WBI signature — md5 over the sorted urlencoded
    param map + salt (reference: media_platform/bilibili/help.py:46-66).
    ``params`` is a map<string,string>; sorting is by key (map_entries of
    a sorted-key rebuild) so the signature is deterministic."""
    entries = F.map_entries(params)
    sorted_entries = F.sort_array(entries)  # struct(key,value) sorts by key
    qs = F.concat_ws(
        "&",
        F.transform(sorted_entries, lambda e: F.concat(e["key"], F.lit("="), e["value"])),
    )
    return F.md5(F.encode(F.concat(qs, salt), "utf-8"))


def trace_id(*cols: Column) -> Column:
    """F13: deterministic trace/web id — the reference uses random hex
    (media_platform/douyin/help.py:25-44, xhs/help.py:52-58); replay
    determinism requires deriving it from the request identity instead."""
    return F.sha2(F.concat_ws("|", *cols), 256).substr(1, 32)


def cdn_image_url(trace: Column, cdns: list[str], suffix: str = "?imageView2/2/w/1080") -> Column:
    """F16: image CDN url synthesis from a trace id
    (media_platform/xhs/help.py:274-292). The reference picks a CDN host
    with random.choice; here the choice hashes off the trace id —
    deterministic, uniformly spread."""
    pick = F.pmod(F.xxhash64(trace), F.lit(len(cdns)))
    url = F.element_at(F.array(*[F.lit(c) for c in cdns]), (pick + 1).cast("int"))
    return F.concat(url, F.lit("/"), trace, F.lit(suffix))


def unpack_interactions(col: Column, key: str) -> Column:
    """A4: creator interactions unpack — pick follows/fans/interaction
    from a list of {type, count} structs by type
    (reference: store/xhs/__init__.py:177-186)."""
    m = F.map_from_entries(
        F.transform(col, lambda e: F.struct(e["type"].alias("k"), e["count"].alias("v")))
    )
    return F.element_at(m, F.lit(key))


# raw creator payload shape (reference: xhs creator detail JSON consumed by
# store/xhs/__init__.py:160-209 save_creator)
CREATOR_JSON_SCHEMA = (
    "basicInfo struct<nickname:string, gender:int, images:string,"
    " `desc`:string, ipLocation:string>,"
    " interactions array<struct<type:string,count:string>>,"
    " tags array<struct<tagType:string,name:string>>"
)


def creator_record(creator_json: Column, user_id: Column, last_modify_ts: Column) -> Column:
    """The creator-profile row projection, field-for-field with the
    reference's save_creator (store/xhs/__init__.py:160-209): basicInfo
    passthrough, follows/fans/interaction unpacked from the interactions
    list (A4), gender label (F15), and ``tag_list`` as a {tagType: name}
    JSON object (reference json.dumps; Spark's to_json emits the same
    object without the cosmetic ': '/', ' spacing). ``last_modify_ts``
    replaces the reference's wall-clock get_current_timestamp for replay
    determinism."""
    c = F.from_json(creator_json, CREATOR_JSON_SCHEMA)
    info = c["basicInfo"]
    inter = c["interactions"]
    return F.struct(
        user_id.alias("user_id"),
        info["nickname"].alias("nickname"),
        gender_label(info["gender"]).alias("gender"),
        info["images"].alias("avatar"),
        info["desc"].alias("desc"),
        info["ipLocation"].alias("ip_location"),
        unpack_interactions(inter, "follows").alias("follows"),
        unpack_interactions(inter, "fans").alias("fans"),
        unpack_interactions(inter, "interaction").alias("interaction"),
        F.to_json(
            F.map_from_entries(
                F.transform(c["tags"], lambda t: F.struct(t["tagType"], t["name"]))
            )
        ).alias("tag_list"),
        last_modify_ts.alias("last_modify_ts"),
    )


def comma_join_refs(col: Column, field: str | None = None) -> Column:
    """P5: the reference flattens nested lists into comma-joined strings at
    the sink (image_list ','.join — store/xhs/__init__.py:105-106). For an
    array<string> pass field=None; for array<struct> name the field."""
    vals = col if field is None else F.transform(col, lambda x: x[field])
    return F.concat_ws(",", vals)
