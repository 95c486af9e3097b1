"""Deterministic synthetic crawl universe (FIXTURES.md §2-§5).

Generates, from a single integer scale knob, the four driver tables the
engine consumes in tests and benchmarks (no live HTTP anywhere):

- ``seeds``     — frontier bootstrap rows (search / detail / creator),
- ``pages``     — the synthetic fetch-responder corpus (one row per
                  fetchable URL; the fetch stage joins against it),
- ``robots``    — allow/deny rules with TTL,
- ``politeness``— per-host epoch budgets.

Deterministic: everything derives from counters and splitmix64-style
integer mixing of a fixed seed — no wall clock, no ``random`` module.
Host distribution is intentionally skewed (FIXTURES.md §2): one hot host
holds ~50% of note URLs, ~``n_hosts`` warm hosts share the rest, plus a
tail of singleton hosts — this exercises the salted skew splitting.

Mandatory cases present (FIXTURES.md "Generation invariants"):
- empty search page → early-exit T4 (reference xhs/core.py:154-156),
- two consecutive empty pages → Weibo 2-strike rule (weibo/core.py:133-140),
- a URL seeded twice + re-discovered via search → dedup J1,
- a URL failing twice then succeeding (``fail_times=2``) → retry R1/R2,
- a permanently blocked URL (status 471) → quarantine R3,
- a note whose comments exceed the per-note budget → truncation W4,
- hot-host burst exceeding one epoch's budget → politeness W1/J6,
- rec_query/hot_query noise items in search results → filter P1,
- comments_count=0 notes → predicate P3.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pandas as pd

MASK64 = (1 << 64) - 1


def mix64(x: int) -> int:
    """splitmix64 finalizer — the deterministic 'randomness' source."""
    x = (x + 0x9E3779B97F4A7C15) & MASK64
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & MASK64
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & MASK64
    return x ^ (x >> 31)


WORDS = (
    "spark frontier crawl note media span comment page cursor host "
    "shuffle bloom filter hash epoch budget priority queue fetch batch"
).split()

HOT_HOST = "h0.example.test"
DENIED_COMMENTS_HOST = "h2.example.test"
COMMENTS_PER_PAGE = 10
ITEMS_PER_SEARCH_PAGE = 10


@dataclass
class UniverseParams:
    n_notes: int = 200
    n_hosts: int = 20  # warm hosts (h1..hN)
    n_singleton_hosts: int = 5
    n_keywords: int = 3
    n_creators: int = 3
    search_pages_per_keyword: int = 2
    max_comments_per_note: int = 25  # engine budget; truncation case derives from it
    budget_hot: int = 20  # per-epoch politeness budget of the hot host
    budget_warm: int = 8
    seed: int = 42
    # fraction knobs are realized deterministically via mix64, not sampled
    platforms: tuple[str, ...] = ("xhs", "wb", "bili", "dy", "ks", "tieba", "zhihu")


@dataclass
class Universe:
    params: UniverseParams
    seeds: pd.DataFrame = field(default=None)
    pages: pd.DataFrame = field(default=None)
    robots: pd.DataFrame = field(default=None)
    politeness: pd.DataFrame = field(default=None)


def _note_host(i: int, p: UniverseParams) -> str:
    h = mix64(p.seed * 1_000_003 + i)
    if h % 2 == 0:
        return HOT_HOST  # ~50% hot
    if h % 97 < 5 and i < p.n_singleton_hosts * 97:
        return f"t{i}.example.test"  # singleton tail
    return f"h{1 + (h >> 8) % p.n_hosts}.example.test"


def _note_id(i: int) -> str:
    return f"{i:016x}"


def _text(i: int, salt: int, n: int = 8) -> str:
    h = mix64(i * 31 + salt)
    return " ".join(WORDS[(h >> (k * 4)) % len(WORDS)] for k in range(n))


def note_url(host: str, note_id: str) -> str:
    return f"https://{host}/note/{note_id}"


def comments_url(host: str, note_id: str, cursor: str) -> str:
    return f"https://{host}/comments/{note_id}?cursor={cursor}"


def subcomments_url(host: str, note_id: str, comment_id: str, cursor: str) -> str:
    return f"https://{host}/subcomments/{note_id}/{comment_id}?cursor={cursor}"


def search_url(host: str, keyword: str, page: int) -> str:
    return f"https://{host}/search?kw={keyword}&page={page}"


def _note_profile(i: int, p: UniverseParams) -> dict:
    """Deterministic per-note shape: images/video/comment counts, failure mode."""
    h = mix64(p.seed * 7_777_777 + i)
    n_images = h % 4  # 0-3 images
    has_video = (h >> 8) % 5 == 0
    r = (h >> 16) % 10
    if r < 2:
        comments_count = 0  # P3 prune case
    elif r < 9:
        comments_count = 1 + (h >> 24) % (p.max_comments_per_note - 1)
    else:
        comments_count = p.max_comments_per_note + 5 + (h >> 24) % 20  # W4 truncation
    fail_times = 0
    status = 200
    if i % 53 == 51:
        fail_times = 2  # fails twice, succeeds on 3rd (R1)
    if i % 101 == 100:
        status = 471  # permanently blocked → quarantine (R3)
    if i % 97 == 96:
        status = 404  # permanent failure, no retry
    sub_rich = (h >> 32) % 7 == 0  # some comments have sub-comment chains
    return {
        "n_images": n_images,
        "has_video": has_video,
        "comments_count": comments_count,
        "fail_times": fail_times,
        "status": status,
        "sub_rich": sub_rich,
    }


def build_universe(p: UniverseParams | None = None) -> Universe:
    p = p or UniverseParams()
    seeds_rows: list[dict] = []
    pages_rows: list[dict] = []

    note_meta: list[dict] = []
    for i in range(p.n_notes):
        host = _note_host(i, p)
        nid = _note_id(i)
        prof = _note_profile(i, p)
        platform = p.platforms[mix64(i + 13) % len(p.platforms)]
        note_meta.append({"i": i, "host": host, "nid": nid, "platform": platform, **prof})

    # --- detail seeds: first 60% of notes are seeded directly (S2) ---------
    n_detail_seeds = max(1, (p.n_notes * 6) // 10)
    for m in note_meta[:n_detail_seeds]:
        seeds_rows.append(
            {
                "url": note_url(m["host"], m["nid"]),
                "platform": m["platform"],
                "kind": "detail",
                "keyword": None,
                "priority": 0,
                "seq": 0,
            }
        )
    # duplicate seed (dedup J1: same URL seeded twice)
    if note_meta:
        m0 = note_meta[0]
        seeds_rows.append(
            {
                "url": note_url(m0["host"], m0["nid"]),
                "platform": m0["platform"],
                "kind": "detail",
                "keyword": None,
                "priority": 0,
                "seq": 0,
            }
        )

    # --- search seeds -------------------------------------------------------
    # Search items reveal notes living on the SAME host as the search page
    # (the engine derives detail URLs from the search host + item id, as the
    # reference derives note URLs from search responses). Unseeded notes are
    # revealed through search; some already-seeded ones reappear → dedup J1.
    unseeded = note_meta[n_detail_seeds:]
    by_host: dict[str, list[dict]] = {}
    for m in unseeded:
        by_host.setdefault(m["host"], []).append(m)
    seeded_by_host: dict[str, list[dict]] = {}
    for m in note_meta[:n_detail_seeds]:
        seeded_by_host.setdefault(m["host"], []).append(m)

    kw_hosts = [HOT_HOST] + [f"h{1+k}.example.test" for k in range(max(0, p.n_keywords - 1))]
    sp = p.search_pages_per_keyword
    for k in range(p.n_keywords):
        kw = f"kw{k}"
        host = kw_hosts[k % len(kw_hosts)]
        pool = by_host.get(host, []) + seeded_by_host.get(host, [])
        seeds_rows.append(
            {
                "url": search_url(host, kw, 1),
                "platform": "xhs",
                "kind": "search_page",
                "keyword": kw,
                "priority": 0,
                "seq": 1,
            }
        )
        two_strike_kw = k == p.n_keywords - 1 and p.n_keywords > 1
        for page in range(1, sp + 1):
            empty = two_strike_kw or not pool
            items = []
            if not empty:
                for j in range(ITEMS_PER_SEARCH_PAGE):
                    gi = (k * sp + page - 1) * ITEMS_PER_SEARCH_PAGE + j
                    if gi % 7 == 3:
                        # noise pseudo-result (P1 filter target)
                        items.append(
                            {
                                "id": f"noise{gi}",
                                "model_type": "rec_query" if gi % 2 else "hot_query",
                                "comments_count": 0,
                                "title": "",
                                "text": "",
                                "image_refs": [],
                                "video_ref": "",
                            }
                        )
                        continue
                    m = pool[gi % len(pool)]
                    items.append(
                        {
                            "id": m["nid"],
                            "model_type": "note",
                            "comments_count": m["comments_count"],
                            "title": f"t {m['nid'][-6:]}",
                            "text": "",
                            "image_refs": [],
                            "video_ref": "",
                        }
                    )
            # two-strike keyword: pages stay "has_more" so only the 2-empty
            # rule can stop the chain (weibo/core.py:133-140)
            has_more = (page < sp) or two_strike_kw
            pages_rows.append(
                {
                    "url": search_url(host, kw, page),
                    "status": 200,
                    "body_kind": "search_results",
                    "note_id": "",
                    "has_more": has_more,
                    "next_cursor": str(page + 1) if has_more else "",
                    "items": items,
                    "comments": [],
                    "fail_times": 0,
                }
            )
        if two_strike_kw:
            # one more empty page exists; the engine must never fetch it
            # (stopped by the 2-consecutive-empties rule after pages 1,2)
            pages_rows.append(
                {
                    "url": search_url(host, kw, sp + 1),
                    "status": 200,
                    "body_kind": "search_results",
                    "note_id": "",
                    "has_more": True,
                    "next_cursor": str(sp + 2),
                    "items": [],
                    "comments": [],
                    "fail_times": 0,
                }
            )

    # --- note detail + comment chain pages --------------------------------
    for m in note_meta:
        nid, host = m["nid"], m["host"]
        image_refs = [
            f"https://cdn.example.test/img/{nid}-{x}" for x in range(m["n_images"])
        ]
        video_ref = f"https://cdn.example.test/video/{nid}" if m["has_video"] else ""
        pages_rows.append(
            {
                "url": note_url(host, nid),
                "status": m["status"],
                "body_kind": "note_detail",
                "note_id": nid,
                "has_more": False,
                "next_cursor": "",
                "items": [
                    {
                        "id": nid,
                        "model_type": "note",
                        "comments_count": m["comments_count"],
                        "title": f"title {nid[-6:]} " + _text(m["i"], 1, 3),
                        "text": _text(m["i"], 2, 12),
                        "image_refs": image_refs,
                        "video_ref": video_ref,
                    }
                ],
                "comments": [],
                "fail_times": m["fail_times"],
            }
        )
        # comment chain: pages of 10 until comments_count exhausted
        cc = m["comments_count"]
        n_pages = (cc + COMMENTS_PER_PAGE - 1) // COMMENTS_PER_PAGE
        for cp in range(n_pages):
            start = cp * COMMENTS_PER_PAGE
            cnt = min(COMMENTS_PER_PAGE, cc - start)
            comments = []
            for ci in range(start, start + cnt):
                cid = f"{nid}-c{ci:04d}"
                has_subs = m["sub_rich"] and ci % 10 == 0 and ci < 20
                comments.append(
                    {
                        "comment_id": cid,
                        "parent_comment_id": "",
                        "content": _text(m["i"] * 1000 + ci, 3, 6),
                        "sub_comment_count": 3 if has_subs else 0,
                        "sub_comment_cursor": "0" if has_subs else "",
                        "like_count": mix64(ci) % 1000,
                        "create_time": 1700000000 + m["i"] * 100 + ci,
                    }
                )
                if has_subs:
                    pages_rows.append(
                        {
                            "url": subcomments_url(host, nid, cid, "0"),
                            "status": 200,
                            "body_kind": "sub_comment_page",
                            "note_id": nid,
                            "has_more": False,
                            "next_cursor": "",
                            "items": [],
                            "comments": [
                                {
                                    "comment_id": f"{cid}-s{sj}",
                                    "parent_comment_id": cid,
                                    "content": _text(m["i"] * 10000 + ci * 10 + sj, 4, 4),
                                    "sub_comment_count": 0,
                                    "sub_comment_cursor": "",
                                    "like_count": mix64(sj) % 100,
                                    "create_time": 1700000000 + sj,
                                }
                                for sj in range(3)
                            ],
                            "fail_times": 0,
                        }
                    )
            has_more = cp < n_pages - 1
            pages_rows.append(
                {
                    "url": comments_url(host, nid, str(cp)),
                    "status": 200,
                    "body_kind": "comment_page",
                    "note_id": nid,
                    "has_more": has_more,
                    "next_cursor": str(cp + 1) if has_more else "",
                    "items": [],
                    "comments": comments,
                    "fail_times": 0,
                }
            )

    # --- creator seeds + listing page chains (S3/S6) ------------------------
    # Creator c owns up to 15 notes of one host; listing pages of 10 with a
    # profile pseudo-item on page 1 (reference: profile fetch then
    # cursor-paged post list — xhs/client.py:432-452,476-519). Their notes
    # overlap the detail/search-seeded ones → dedup J1 across entry paths.
    creator_hosts = [HOT_HOST] + [
        f"h{3 + k}.example.test" for k in range(max(0, p.n_creators - 1))
    ]
    for c in range(p.n_creators):
        host = creator_hosts[c % len(creator_hosts)]
        uid = f"u{c:04d}"
        owned = [m for m in note_meta if m["host"] == host][:15]
        seeds_rows.append(
            {
                "url": f"https://{host}/user/{uid}?cursor=0",
                "platform": "xhs",
                "kind": "listing",
                "keyword": None,
                "priority": 0,
                "seq": 0,
            }
        )
        n_lpages = max(1, (len(owned) + ITEMS_PER_SEARCH_PAGE - 1) // ITEMS_PER_SEARCH_PAGE)
        for lp in range(n_lpages):
            chunk = owned[lp * ITEMS_PER_SEARCH_PAGE : (lp + 1) * ITEMS_PER_SEARCH_PAGE]
            items = []
            if lp == 0:
                items.append(
                    {
                        "id": uid,
                        "model_type": "creator_profile",
                        "comments_count": 0,
                        "title": f"creator {uid}",
                        "text": _text(c + 900_000, 5, 6),
                        "image_refs": [],
                        "video_ref": "",
                    }
                )
            for m in chunk:
                items.append(
                    {
                        "id": m["nid"],
                        "model_type": "note",
                        "comments_count": m["comments_count"],
                        "title": f"t {m['nid'][-6:]}",
                        "text": "",
                        "image_refs": [],
                        "video_ref": "",
                    }
                )
            has_more = lp < n_lpages - 1
            pages_rows.append(
                {
                    "url": f"https://{host}/user/{uid}?cursor={lp}",
                    "status": 200,
                    "body_kind": "listing_page",
                    "note_id": uid,
                    "has_more": has_more,
                    "next_cursor": str(lp + 1) if has_more else "",
                    "items": items,
                    "comments": [],
                    "fail_times": 0,
                }
            )

    # --- robots rules --------------------------------------------------------
    # - a seed under /private on the hot host is denied (must never be
    #   fetched nor enter the seen set),
    # - comment pages on DENIED_COMMENTS_HOST are denied → its documents
    #   carry no comment spans.
    robots_rows = []
    all_hosts = sorted({m["host"] for m in note_meta} | set(kw_hosts) | set(creator_hosts))
    far_future = 4_000_000_000
    for h in all_hosts:
        robots_rows.append(
            {"host": h, "path_prefix": "/", "allow": True, "crawl_delay": 1.0, "expires_at": far_future}
        )
    robots_rows.append(
        {"host": HOT_HOST, "path_prefix": "/private", "allow": False, "crawl_delay": 1.0, "expires_at": far_future}
    )
    robots_rows.append(
        {
            "host": DENIED_COMMENTS_HOST,
            "path_prefix": "/comments/",
            "allow": False,
            "crawl_delay": 1.0,
            "expires_at": far_future,
        }
    )
    seeds_rows.append(
        {
            "url": f"https://{HOT_HOST}/private/x",
            "platform": "xhs",
            "kind": "detail",
            "keyword": None,
            "priority": 0,
            "seq": 0,
        }
    )

    # --- politeness budgets -------------------------------------------------
    politeness_rows = [
        {
            "host": h,
            "budget_per_epoch": p.budget_hot if h == HOT_HOST else p.budget_warm,
            "quarantined_until": 0,
        }
        for h in all_hosts
    ]

    return Universe(
        params=p,
        seeds=pd.DataFrame(seeds_rows),
        pages=pd.DataFrame(pages_rows),
        robots=pd.DataFrame(robots_rows),
        politeness=pd.DataFrame(politeness_rows),
    )
