"""Training-data dedup operators: planted duplicates must be found,
distinct docs must not collide."""

import pytest
from pyspark.sql import functions as F

from mediacrawler_spark.operators.text_dedup import (
    dedup_exact,
    exact_duplicates,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        ("d00", BASE),
        ("d01", BASE),  # exact dup of d00
        ("d02", BASE + " tonight"),  # near dup (1 word appended)
        ("d03", BASE.replace("quick", "swift")),  # near dup (1 word changed)
        ("d04", "completely different content about spark dataframes and shuffles"
                " partitions catalysts and tungsten engines running at scale"),
        ("d05", "yet another unrelated document mentioning bloom filters cuckoo"
                " hashing and the art of deduplicating ten billion urls"),
        ("d06", "  The   QUICK brown fox jumps over the lazy dog while the cat watches "
                "from the warm windowsill and the birds sing in the garden outside "),
        # d06 = d00 modulo case/whitespace → exact dup after normalization
    ]
    return spark.createDataFrame(rows, "doc_id string, text string")


def test_exact_duplicates_normalized(docs):
    groups = exact_duplicates(docs).collect()
    assert len(groups) == 1
    assert groups[0]["doc_ids"] == ["d00", "d01", "d06"]


def test_dedup_exact_keeps_min_id(docs):
    kept = sorted(r["doc_id"] for r in dedup_exact(docs).collect())
    assert kept == ["d00", "d02", "d03", "d04", "d05"]


def test_minhash_lsh_finds_near_dups(docs):
    pairs = {
        (r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    # the dup cluster {d00,d01,d02,d03,d06} must be densely connected
    assert ("d00", "d01") in pairs
    assert ("d00", "d02") in pairs
    assert ("d00", "d03") in pairs
    # unrelated docs never pair with the cluster
    assert not any("d04" in p or "d05" in p for p in pairs)


def test_minhash_est_jaccard_sane(docs):
    rows = minhash_lsh_pairs(docs, threshold=0.0).collect()
    est = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in rows}
    assert est[("d00", "d01")] == 1.0  # identical docs → identical signatures


def test_ngram_jaccard_verify(spark, docs):
    cand = spark.createDataFrame(
        [("d00", "d01"), ("d00", "d04")], "id_a string, id_b string"
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, cand, threshold=0.0).collect()
    }
    assert got[("d00", "d01")] == 1.0
    assert got[("d00", "d04")] == 0.0


def test_simhash_near_dups(docs):
    pairs = {
        (r["id_a"], r["id_b"]) for r in simhash_pairs(docs, max_hamming=10).collect()
    }
    assert ("d00", "d01") in pairs  # identical → distance 0
    assert ("d00", "d06") in pairs
    assert not any(("d04" in p) ^ ("d05" in p) == 0 and "d00" in p for p in [])
    # distinct topics stay apart even at the loose threshold
    assert ("d04", "d05") not in pairs


# ------------------------------------- exact prefix-filter jaccard join ----
def _brute_force_jaccard(docs_rows, k=3, threshold=0.5):
    """Independent all-pairs ground truth (python sets, own tokenizer)."""
    import re

    def shingles(text):
        toks = [t for t in re.split(r"[^\w]+", text.lower()) if t]
        if len(toks) >= k:
            return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}
        return {" ".join(toks)}

    sh = {i: shingles(t) for i, t in docs_rows}
    out = {}
    ids = sorted(sh)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = sh[ids[x]], sh[ids[y]]
            u = len(a | b)
            j = len(a & b) / u if u else 0.0
            if j >= threshold:
                out[(ids[x], ids[y])] = j
    return out


def test_jaccard_join_matches_brute_force(docs):
    from mediacrawler_spark.operators.text_dedup import jaccard_similarity_join

    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_similarity_join(docs, threshold=0.5).collect()
    }
    rows = [(r["doc_id"], r["text"]) for r in docs.collect()]
    want = _brute_force_jaccard(rows, threshold=0.5)
    assert set(got) == set(want)
    for p, j in want.items():
        assert abs(got[p] - j) < 1e-9


def test_jaccard_join_exact_at_low_threshold(spark):
    """Adversarial completeness case for the prefix filter: a boilerplate
    mega-cluster (every gram shared, frequency ties everywhere) plus
    borderline pairs that sit exactly at the threshold boundary."""
    from mediacrawler_spark.operators.text_dedup import jaccard_similarity_join

    boiler = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(f"b{i:02d}", boiler) for i in range(12)]
    # borderline: share a sliding window of the boilerplate
    rows += [("e01", boiler + " extra tail words here now"),
             ("e02", "prefix words go here " + boiler)]
    # unrelated
    rows += [("z01", "nothing in common with anything else whatsoever today"),
             ("z02", "totally disjoint vocabulary again for the second control")]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    got = {
        (r["id_a"], r["id_b"]) for r in jaccard_similarity_join(docs, threshold=0.3).collect()
    }
    want = set(_brute_force_jaccard(rows, threshold=0.3))
    assert got == want
    assert len(want) >= 66  # the 12-doc clique alone
    assert not any("z01" in p or "z02" in p for p in got)


# ------------------------------------------------- edit-distance pairs ----
def _ed_reference(strings, k):
    """Independent brute force: own DP Levenshtein over all value pairs."""
    def lev(a, b):
        m, n = len(a), len(b)
        prev = list(range(n + 1))
        for i in range(1, m + 1):
            cur = [i] + [0] * n
            for j in range(1, n + 1):
                cur[j] = min(
                    prev[j] + 1,
                    cur[j - 1] + 1,
                    prev[j - 1] + (a[i - 1] != b[j - 1]),
                )
            prev = cur
        return prev[n]

    from collections import Counter

    cnt = Counter(strings)
    vals = sorted(cnt)
    out = set()
    for i, a in enumerate(vals):
        for b in vals[i + 1 :]:
            d = lev(a, b)
            if d <= k:
                out.add((a, b, d, cnt[a], cnt[b]))
    return out


def test_edit_distance_pairs_matches_brute_force(spark):
    """Typo families (substitution / insertion / deletion / multi-edit at
    the boundary), duplicates collapsing to one value row with counts,
    short strings under q, and far strings — all pairs equal the
    independent DP brute force."""
    from mediacrawler_spark.operators.text_dedup import edit_distance_pairs

    strings = (
        ["the quick brown fox"] * 3
        + ["the quick brwon fox"]      # 2 (transposition = sub+sub)
        + ["the quick brown fx"]       # 1 deletion
        + ["the quickk brown fox"]     # 1 insertion
        + ["a completely different one"]
        + ["xy", "xz", "x", "yy"]      # short strings incl. < q
        + ["the quick brown foxes jumped"]  # > k away
    )
    want = _ed_reference(strings, k=2)
    df = spark.createDataFrame([(s,) for s in strings], ["title"])
    got = {
        (r["val_a"], r["val_b"], r["dist"], r["n_a"], r["n_b"])
        for r in edit_distance_pairs(df, "title", max_dist=2, q=2).collect()
    }
    assert got == want
    assert ("the quick brown fox", "the quick brwon fox", 2, 3, 1) in got
    assert ("x", "xy", 1, 1, 1) in got and ("xy", "xz", 1, 1, 1) in got


def test_edit_distance_pairs_randomized_complete(spark):
    """Seeded random mutations of base strings: the prefix-filter join
    must find EVERY within-k pair the brute force finds (completeness
    of the q-gram prefix lemma), at k=1 and k=2."""
    from mediacrawler_spark.operators.text_dedup import edit_distance_pairs

    def rng(i):
        return (i * 1103515245 + 12345) % (2**31)

    alpha = "abcdefgh"
    bases = ["".join(alpha[rng(b * 97 + j) % 8] for j in range(14)) for b in range(6)]
    strings = []
    for i in range(120):
        s = list(bases[rng(i) % 6])
        for e in range(rng(i * 3 + 1) % 3):  # 0-2 random edits
            p = rng(i * 7 + e) % len(s)
            op = rng(i * 11 + e) % 3
            if op == 0:
                s[p] = alpha[rng(i * 13 + e) % 8]
            elif op == 1:
                s.insert(p, alpha[rng(i * 17 + e) % 8])
            elif len(s) > 2:
                del s[p]
        strings.append("".join(s))
    df = spark.createDataFrame([(s,) for s in strings], ["title"])
    for k in (1, 2):
        want = _ed_reference(strings, k)
        got = {
            (r["val_a"], r["val_b"], r["dist"], r["n_a"], r["n_b"])
            for r in edit_distance_pairs(df, "title", max_dist=k, q=2).collect()
        }
        assert got == want, f"k={k}: {len(got)} vs {len(want)}"


def test_dedup_incremental_statuses(spark):
    """Planted base/incoming split: an exact re-fetch (whitespace/case
    variants count), a one-word near-dup above 0.8 trigram-shingle
    Jaccard, an unrelated unique doc; base-base near pairs never leak
    into the output, and match_id is the smallest matching base id."""
    from mediacrawler_spark.operators.text_dedup import dedup_incremental

    words = [f"w{i:02d}" for i in range(40)]
    long_a = " ".join(words)
    long_a_typo = " ".join(words[:20] + ["zz"] + words[21:])
    base = spark.createDataFrame(
        [
            (1, long_a),
            (2, long_a),  # exact dup INSIDE base: must not appear in output
            (5, "completely different text about other things entirely"),
        ],
        ["doc_id", "text"],
    )
    incoming = spark.createDataFrame(
        [
            (10, "  " + long_a.upper() + "  "),  # exact after normalization
            (11, long_a_typo),  # near: J = 35/41 + shared ends ~ 0.85
            (12, "nothing shares any shingle with the corpus at all"),
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: (r["status"], r["match_id"])
        for r in dedup_incremental(base, incoming, threshold=0.8).collect()
    }
    assert rows == {
        10: ("exact", 1),  # min base id among {1, 2}
        11: ("near", 1),
        12: ("unique", -1),
    }


def test_simhash_lane_packing_bound(spark):
    """The lane-packed bit sums hold 32,767 distinct tokens per doc in the
    worst case: with an all-ones token hash every token adds to every lane,
    and the top lane is the sign lane of the signed long sum. 32,767
    tokens give the exact all-ones signature; one more overflows, which
    raises under the session's ANSI default instead of corrupting bits."""
    from mediacrawler_spark.operators.text_dedup import simhash

    def doc(n):
        text = " ".join(f"t{i}" for i in range(n))
        return spark.createDataFrame([("d", text)], "doc_id string, text string")

    def all_ones(tok):
        return F.lit(-1).cast("long")

    got = simhash(doc(32_767), token_hash=all_ones).collect()
    assert [r["simhash"] for r in got] == [-1]
    with pytest.raises(Exception, match="(?i)overflow"):
        simhash(doc(32_768), token_hash=all_ones).collect()
