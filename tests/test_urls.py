"""URL canonicalization + kind dispatch (F1) + xxhash64 key parity (F9)."""

from pyspark.sql import functions as F

from mediacrawler_spark.functions.urls import canonicalize_one, canonicalize_urls, host_of
from mediacrawler_spark.functions.xxhash import spark_xxhash64_str


def test_canonicalize_rules():
    cases = {
        # scheme+host lowercase, default port stripped, fragment dropped
        "HTTPS://H0.Example.TEST:443/Note/ABC#frag": "https://h0.example.test/Note/ABC",
        # query params sorted; tracking params dropped; xsec_token kept
        "https://h.t/explore/x?xsec_token=T&b=2&a=1&utm_source=s": "https://h.t/explore/x?a=1&b=2&xsec_token=T",
        # duplicate slashes collapsed, trailing slash stripped
        "https://h.t//a//b/": "https://h.t/a/b",
        # root path preserved
        "https://h.t": "https://h.t/",
        "": "",
    }
    for raw, want in cases.items():
        assert canonicalize_one(raw) == want, raw


def test_canonicalize_idempotent():
    urls = [
        "https://h0.example.test/note/0123?cursor=5",
        "https://x.y/search?kw=k&page=2",
    ]
    for u in urls:
        assert canonicalize_one(canonicalize_one(u)) == canonicalize_one(u)


def test_vectorized_udf_matches_scalar(spark):
    raw = [
        "HTTPS://A.B:443/x/?utm_source=1&z=2&a=3",
        "https://h0.example.test/note/1",
        "https://h.t//doubled//path",
    ]
    df = spark.createDataFrame([(u,) for u in raw], "url string")
    got = [r["c"] for r in df.select(canonicalize_urls("url").alias("c")).collect()]
    assert got == [canonicalize_one(u) for u in raw]


def test_xxhash64_parity_with_spark(spark):
    vals = [
        "",
        "a",
        "hello world",
        "https://h0.example.test/note/0000000000000001",
        "x" * 7,
        "y" * 8,
        "z" * 31,
        "w" * 32,
        "v" * 100,
        "日本語テキスト",
    ]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    rows = {r["s"]: r["h"] for r in df.select("s", F.xxhash64("s").alias("h")).collect()}
    for v in vals:
        assert rows[v] == spark_xxhash64_str(v), v


def test_fast_path_is_noop_subset_of_slow_path(spark):
    """Every URL the fast-path regex accepts must be a fixed point of the
    full canonicalizer — otherwise fast/slow would diverge on hashes."""
    import re

    from mediacrawler_spark.functions.urls import _FAST_PATH

    urls = [
        "https://h0.example.test/note/abc",
        "https://h0.example.test/comments/abc?cursor=0",
        "https://h.t/subcomments/n/c?cursor=no_more",
        "http://x.y/a/b/c",
        # near-misses that must NOT match the fast path:
        "https://h.t",  # no path (slow adds '/')
        "https://H.t/a",  # uppercase host
        "https://h.t/a/",  # trailing slash
        "https://h.t//a",  # doubled slash
        "https://h.t/a?b=1&c=2",  # two params
        "https://h.t/a?utm_source=x",  # tracking param
        "https://h.t:443/a",  # default port
        "https://h.t/a#frag",  # fragment
    ]
    pat = re.compile(_FAST_PATH)
    for u in urls:
        if pat.match(u):
            assert canonicalize_one(u) == u, f"fast path not a fixed point: {u}"
    # the first four are intended fast-path members
    assert all(pat.match(u) for u in urls[:4])
    assert not any(pat.match(u) for u in urls[4:])


def test_host_of(spark):
    df = spark.createDataFrame(
        [("https://H0.Example.TEST/note/1",), ("https://a.b/x?q=1",)], "url string"
    )
    got = [r["h"] for r in df.select(host_of(F.col("url")).alias("h")).collect()]
    assert got == ["h0.example.test", "a.b"]


def _combinatorial_urls():
    """~1.9k-URL corpus covering both canonicalizer grammars."""
    import itertools

    schemes = ["https", "HTTP", "ftp"]
    hosts = ["H0.Example.TEST", "h.t", "h.t:443", "h.t:80", "h.t:8080", "user@h.t"]
    paths = ["", "/", "/a", "/a/b/", "//a//b", "/Note/ABC", "/a%20b", "/a b"]
    queries = [
        "",
        "?b=2&a=1",
        "?utm_source=x",
        "?cursor=",
        "?a=1&a2=",
        "?a=1&a=0",
        "?x=%20",
        "?x=a+b",
        "?flag",
        "?k==v",
        "?a=1&&b=2",
    ]
    frags = ["", "#f", "#f?x=1"]
    urls = [
        f"{s}://{h}{p}{q}{fr}"
        for s, h, p, q, fr in itertools.product(schemes, hosts, paths, queries, frags)
    ]
    urls += ["", "h.t/a", "https://h.t", "not a url ://", "https://[::1]/x"]
    return urls


def test_jvm_canonicalizer_equals_python_combinatorial(spark):
    """The codegen canonicalizer must be byte-identical to
    _canonicalize_one on EVERY url — eligible URLs through the JVM
    expression, the complement through the python path. Combinatorial
    corpus covering both grammars (~1.9k urls)."""
    urls = _combinatorial_urls()
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = [
        r["c"]
        for r in df.select(canonicalize_urls(F.col("url")).alias("c")).collect()
    ]
    want = [canonicalize_one(u.strip()) for u in urls]
    bad = [(u, g, w) for u, g, w in zip(urls, got, want) if g != w]
    assert not bad, f"{len(bad)} divergences, e.g. {bad[:5]}"


def test_df_split_canonicalizer_equals_column_path(spark):
    """with_canonical_url (DataFrame split-union: codegen for eligible
    rows, Arrow UDF only on the complement — the engine admission and
    bench path) must yield the same multiset of (id, url) as the Column
    hybrid on the full combinatorial corpus, and must not drop or
    duplicate a single row."""
    from mediacrawler_spark.functions.urls import with_canonical_url

    urls = _combinatorial_urls() + [None]
    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(urls)], "id int, url string"
    )
    col_path = sorted(
        (r["id"], r["c"])
        for r in df.select("id", canonicalize_urls(F.col("url")).alias("c")).collect()
    )
    split_path = sorted((r["id"], r["url"]) for r in with_canonical_url(df).collect())
    assert split_path == col_path


def test_jvm_eligible_grammar_hits_real_urls(spark):
    """The engine's own emitted URL shapes must take the codegen path —
    that's the whole point of the hybrid (python only for the tail)."""
    from mediacrawler_spark.functions.urls import _JVM_ELIGIBLE
    import re

    pat = re.compile(_JVM_ELIGIBLE)
    real = [
        "https://h0.example.test/note/0123",
        "https://h0.example.test/search?keyword=k&page=2",
        "https://h0.example.test/comments/0123?cursor=5",
        "https://h0.example.test/subcomments/0123/c9?cursor=ab_3",
        "https://h0.example.test/user/u7?cursor=",
        "https://h.t/explore/x?xsec_token=T&b=2&a=1&utm_source=s",
    ]
    assert all(pat.match(u) for u in real)


def test_infer_kind_dispatch():
    """Bare-URL seed dispatch (zhihu/help.py:441-460 judge_zhihu_url
    analog): every URL shape of the engine grammar maps to its kind,
    unknown shapes default to detail."""
    from mediacrawler_spark.functions.urls import infer_kind_py

    cases = {
        "https://h0.example.test/note/0123": "detail",
        "https://h0.example.test/search?keyword=k&page=0": "search_page",
        "https://h0.example.test/comments/0123?cursor=0": "comment_page",
        "https://h0.example.test/subcomments/0123/c9?cursor=1": "sub_comment_page",
        "https://h0.example.test/user/u7?cursor=": "listing",
        "https://h0.example.test/creator/u7": "listing",
        "https://www.zhihu.example/p/12345": "detail",  # unknown → detail
        # markers inside query/fragment must NOT flip the kind (ADVICE
        # r02: parse_url(PATH) never sees them; the python twin must not
        # either, or engine and oracle dispatch the same seed differently)
        "https://h0.example.test/note/1#/user/x": "detail",
        "https://h0.example.test/x?next=/user/y": "detail",
    }
    for url, want in cases.items():
        assert infer_kind_py(url) == want, url


def test_infer_kind_column_matches_python(spark):
    """The codegen column expression and the oracle's python twin must
    dispatch identically (two-sided invariant)."""
    from mediacrawler_spark.functions.urls import infer_kind, infer_kind_py

    urls = [
        "https://h0.example.test/note/0123",
        "https://h0.example.test/search?keyword=k&page=0",
        "https://h0.example.test/comments/0123?cursor=0",
        "https://h0.example.test/subcomments/0123/c9?cursor=1",
        "https://h0.example.test/user/u7?cursor=",
        "https://h0.example.test/creator/u7",
        "https://x.y/weird/thing",
        "https://h0.example.test/note/1#/user/x",
        "https://h0.example.test/x?next=/user/y",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = {r["url"]: r["k"] for r in df.select("url", infer_kind(F.col("url")).alias("k")).collect()}
    assert got == {u: infer_kind_py(u) for u in urls}


def test_bare_url_seeds_end_to_end(spark, universe, udfs, tmp_path):
    """Seeds stripped of their kind column (the common real input) must
    crawl identically to kind-ful seeds — engine and oracle both dispatch
    from URL shape."""
    from mediacrawler_spark.oracle import CrawlOracle
    from mediacrawler_spark.plans.epoch import CrawlEngine, EngineConfig
    from mediacrawler_spark.schemas import SEEDS_SCHEMA
    from mediacrawler_spark.sinks.snapshot import SnapshotCatalog

    bare = universe.seeds.copy()
    bare["kind"] = ""  # SEEDS_SCHEMA kind is non-nullable; empty = unset
    cfg = EngineConfig(max_comments_per_note=25, max_epochs=80)
    cat = SnapshotCatalog(spark, str(tmp_path / "snap_bare"))
    eng = CrawlEngine(
        spark, cat, udfs["pages"], udfs["robots"], udfs["politeness"], cfg
    )
    eng.run(spark.createDataFrame(bare, SEEDS_SCHEMA))
    oracle = CrawlOracle(
        universe.pages, universe.robots, universe.politeness,
        default_budget=cfg.default_budget,
        comments_per_page=cfg.comments_per_page,
        max_comments_per_note=cfg.max_comments_per_note,
        epoch_ts=cfg.epoch_ts,
    ).run(bare)
    got_seen = {r["url"] for r in cat.read("seen").collect()}
    assert got_seen == oracle.seen
    # and identical to the kind-ful oracle run (dispatch is lossless)
    kindful = CrawlOracle(
        universe.pages, universe.robots, universe.politeness,
        default_budget=cfg.default_budget,
        comments_per_page=cfg.comments_per_page,
        max_comments_per_note=cfg.max_comments_per_note,
        epoch_ts=cfg.epoch_ts,
    ).run(universe.seeds)
    assert oracle.seen == kindful.seen
    assert oracle.fetch_order == kindful.fetch_order


def _messy_seed_url(i: int, url: str) -> str:
    """A non-canonical spelling of a canonical fixture URL: mixed-case
    scheme/host, default port, doubled/trailing slash, fragment and
    tracking params (one form %-escapes, so it takes the python path)."""
    scheme, rest = url.split("://", 1)
    host, path = rest.split("/", 1)
    sep = "&" if "?" in path else "?"
    forms = [
        f"{scheme}://{host.upper()}/{path}",
        f"{scheme.upper()}://{host}:443/{path}{sep}utm_source=feed&spm=a.b",
        f"{scheme}://{host.title()}:443//{path}#frag",
        f"{scheme}://{host}/{path}{sep}utm_campaign=a%20b",
        url,
    ]
    return forms[i % len(forms)]


def test_noncanonical_seeds_canonicalized_once(spark, universe, udfs, tmp_path):
    """seeds_to_candidates canonicalizes with the split form and the
    epoch loop does not canonicalize the seed batch again. Its rows equal
    the Column-hybrid form's, and a crawl from non-canonical seeds equals
    the oracle's, which canonicalizes seeds with ``canonicalize_one``."""
    from mediacrawler_spark.operators.frontier import seeds_to_candidates
    from mediacrawler_spark.oracle import CrawlOracle
    from mediacrawler_spark.plans.epoch import CrawlEngine, EngineConfig
    from mediacrawler_spark.schemas import SEEDS_SCHEMA
    from mediacrawler_spark.sinks.snapshot import SnapshotCatalog

    messy = universe.seeds.copy()
    messy["url"] = [_messy_seed_url(i, u) for i, u in enumerate(messy["url"])]
    assert (messy["url"] != universe.seeds["url"]).sum() >= len(messy) // 2
    seeds = spark.createDataFrame(messy, SEEDS_SCHEMA)

    got = seeds_to_candidates(seeds)
    # Column-hybrid form, then the (idempotent) split form
    column = seeds_to_candidates(seeds.withColumn("url", canonicalize_urls(F.col("url"))))
    assert got.schema == column.schema
    rows = sorted(map(tuple, got.collect()))
    assert rows == sorted(map(tuple, column.collect()))
    assert {r[0] for r in rows} == {canonicalize_one(u) for u in messy["url"]}
    assert {r[1] for r in rows} == {spark_xxhash64_str(r[0]) for r in rows}

    n_epochs = 3
    cfg = EngineConfig(max_comments_per_note=25)
    cat = SnapshotCatalog(spark, str(tmp_path / "snap_messy"))
    eng = CrawlEngine(spark, cat, udfs["pages"], udfs["robots"], udfs["politeness"], cfg)
    eng.run(seeds, max_epochs=n_epochs)
    want = CrawlOracle(
        universe.pages, universe.robots, universe.politeness,
        default_budget=cfg.default_budget,
        comments_per_page=cfg.comments_per_page,
        max_comments_per_note=cfg.max_comments_per_note,
        epoch_ts=cfg.epoch_ts,
    ).run(messy, max_epochs=n_epochs)
    assert {r["url"] for r in cat.read("seen").collect()} == want.seen
    order: dict = {}
    for r in eng.fetch_log().orderBy("host", "epoch", "host_rank").collect():
        order.setdefault(r["host"], []).append((r["url"], r["epoch"], r["kind"]))
    assert order == want.fetch_order
    docs = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in eng.documents().collect()
    }
    assert docs == want.documents
