"""Text-analysis functions for the training-data pipeline.

All pure column expressions (JVM codegen) unless noted. These power the
analytics parity ops (SURVEY A1/A2: the reference's jieba word-frequency
top-k, tools/words.py:41-61) and the large-scale corpus-prep operators
(language ID, quality scoring, token counting, fingerprinting).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# A small function-word inventory per language for the n-gram/stopword
# language-ID heuristic. Real deployments would broadcast a bigger table;
# the *operator shape* (array_intersect against a literal set) is the same.
_LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "you", "that"],
    "de": ["der", "die", "das", "und", "ist", "ein", "nicht", "mit", "sich", "auf"],
    "fr": ["le", "la", "et", "les", "des", "est", "un", "une", "dans", "que"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "los", "se", "no"],
}


def tokens(col: Column) -> Column:
    """Whitespace/punct tokenizer (BPE-ish regex split), lowercased."""
    return F.filter(
        F.split(F.lower(col), r"[^\p{L}\p{N}]+"), lambda t: t != ""
    )


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


#: GPT-2-style pre-tokenizer, restricted to the Java-regex ∩ RE2 subset
#: (no lookahead — the canonical pattern's trailing-space lookahead is
#: dropped; both engines use leftmost-first ordered alternation, so
#: match COUNTS agree exactly): contractions, optionally-space-prefixed
#: letter runs, digit runs, punctuation runs, whitespace runs.
BPE_SPLIT_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def bpe_token_count(col: Column) -> Column:
    """Number of BPE pre-tokenizer segments — the LLM-training notion of
    document length (whitespace ``token_count`` underestimates it on
    contraction/punctuation-heavy text). Pure codegen ``regexp_count``;
    cross-engine exact (probed vs DuckDB RE2 and python re on unicode,
    CJK, contraction, and whitespace-run cases)."""
    return F.regexp_count(col, F.lit(BPE_SPLIT_PATTERN)).cast("bigint")


def punct_ratio(col: Column) -> Column:
    """Fraction of characters that are punctuation."""
    n = F.length(col)
    p = n - F.length(F.regexp_replace(col, r"[\p{Punct}]", ""))
    return F.when(n > 0, p.cast("double") / n).otherwise(F.lit(0.0))


def stopword_ratio(col: Column, lang: str = "en") -> Column:
    toks = tokens(col)
    hits = F.size(
        F.filter(toks, lambda t: t.isin(*_LANG_STOPWORDS[lang]))
    )
    return F.when(F.size(toks) > 0, hits.cast("double") / F.size(toks)).otherwise(
        F.lit(0.0)
    )


def mean_token_len(col: Column) -> Column:
    toks = tokens(col)
    total = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    return F.when(F.size(toks) > 0, total.cast("double") / F.size(toks)).otherwise(
        F.lit(0.0)
    )


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality heuristic: length band + low punctuation +
    reasonable mean token length + stopword presence. Deterministic, all
    codegen — the Gopher/C4-style cheap filter for corpus prep.

    The tokenization is bound ONCE per row via ``_let``: the naive
    composition (token_count + mean_token_len + stopword_ratio each
    calling ``tokens``) re-runs the regex split 4× per row because the
    split feeds separate non-codegen HOF nodes that CSE does not cross.
    Same sub-expressions, identical values."""

    def body(toks: Column) -> Column:
        n_tok_i = F.size(toks)
        n_tok = n_tok_i.cast("double")
        len_ok = F.when((n_tok >= 10) & (n_tok <= 100000), 1.0).otherwise(0.0)
        total = F.aggregate(
            toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
        )
        mtl = F.when(
            n_tok_i > 0, total.cast("double") / n_tok_i
        ).otherwise(F.lit(0.0))
        mtl_ok = F.when((mtl >= 2.0) & (mtl <= 12.0), 1.0).otherwise(0.0)
        punct_ok = F.when(punct_ratio(col) < 0.2, 1.0).otherwise(0.0)
        hits = _stopword_hits(toks, _LANG_STOPWORDS["en"])
        stop_ratio = F.when(
            n_tok_i > 0, hits.cast("double") / n_tok_i
        ).otherwise(F.lit(0.0))
        stop_ok = F.when(stop_ratio > 0.0, 1.0).otherwise(0.0)
        return (len_ok + mtl_ok + punct_ok + stop_ok) / 4.0

    return _let(tokens(col), body)


def _stopword_hits(toks: Column, sw: list[str]) -> Column:
    # NB: a single-param lambda on purpose — PySpark treats a second lambda
    # param (even defaulted) as the element-index argument.
    return F.size(F.filter(toks, lambda t: t.isin(*sw)))


def lang_id(col: Column) -> Column:
    """Stopword-vote language ID across the inventory; 'und' when no hits.

    Tokenization bound once per row via ``_let`` — the four per-language
    stopword filters otherwise each re-run the regex split (4× per row,
    the filters are separate non-codegen HOF nodes CSE does not merge)."""

    def body(toks: Column) -> Column:
        scores = F.array(
            *[
                F.struct(
                    _stopword_hits(toks, sw).alias("hits"),
                    F.lit(lang).alias("lang"),
                )
                for lang, sw in sorted(_LANG_STOPWORDS.items())
            ]
        )
        best = F.array_max(scores)
        return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))

    return _let(tokens(col), body)


def doc_fingerprint(col: Column) -> Column:
    """64-bit content fingerprint of the normalized text (whitespace-
    collapsed, lowercased) — the exact-dedup key."""
    normalized = F.regexp_replace(F.trim(F.lower(col)), r"\s+", " ")
    return F.xxhash64(normalized)


def _let(bound: Column, body) -> Column:
    """Column-level let binding: evaluate ``bound`` ONCE per row and hand
    it to ``body`` as a lambda variable. Spark's higher-order-function
    lambdas re-evaluate captured OUTER subexpressions on every element
    (no CSE inside HOF evaluation), so an n-element ``transform`` whose
    lambda captures the tokenization re-runs the tokenizer n times per
    row — measured 86 µs/doc for shingles vs 4 µs for one tokenize pass
    on 50-token docs. Binding through a 1-element array turns the capture
    into a NamedLambdaVariable lookup (array indexing, no recompute)."""
    return F.element_at(F.transform(F.array(bound), body), 1)


def word_ngrams(col: Column, n: int) -> Column:
    """All word n-grams of the tokenized text, in order, WITH duplicates
    (the repetition-filter input; contrast ``word_shingles`` which is
    distinct). Empty array when the doc has fewer than n tokens."""

    def build(toks: Column) -> Column:
        cnt = F.size(toks)
        return F.when(
            cnt >= n,
            F.transform(
                F.sequence(F.lit(1), cnt - n + 1),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return _let(tokens(col), build)


# PII patterns kept to the Java-regex ∩ RE2 common subset so the Spark
# expressions and the DuckDB oracle compile the same automaton: no
# backreferences, no lookaround, only \d and explicit classes.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\+\d{1,3}[- ]\d{3}[- ]\d{3,4}[- ]\d{3,4}"


def pii_counts(col: Column) -> tuple[Column, Column, Column]:
    """(n_emails, n_ips, n_phones) match counts — the audit face of the
    scrubber; all JVM-side regexp_extract_all.

    Counts mirror :func:`pii_scrub`'s sequential replacement exactly
    (ADVICE r04): emails are counted on the raw text, IPs on the text
    AFTER email redaction, phones after both — so on overlapping matches
    (e.g. an IPv4-shaped segment inside an email's domain) the audit
    counts equal the placeholders the scrubber actually emits. The
    placeholder tags contain no digits or '@', so redaction can never
    CREATE a later-pattern match."""
    after_email = F.regexp_replace(col, PII_EMAIL, "<EMAIL>")
    after_ip = F.regexp_replace(after_email, PII_IPV4, "<IP>")
    return (
        F.size(F.regexp_extract_all(col, F.lit(PII_EMAIL), F.lit(0))),
        F.size(F.regexp_extract_all(after_email, F.lit(PII_IPV4), F.lit(0))),
        F.size(F.regexp_extract_all(after_ip, F.lit(PII_PHONE), F.lit(0))),
    )


def pii_scrub(col: Column) -> Column:
    """Redact emails/IPv4s/phones with typed placeholder tags. Email
    first so an address is never half-eaten by the phone pattern."""
    out = F.regexp_replace(col, PII_EMAIL, "<EMAIL>")
    out = F.regexp_replace(out, PII_IPV4, "<IP>")
    return F.regexp_replace(out, PII_PHONE, "<PHONE>")


def word_shingles(col: Column, k: int = 3) -> Column:
    """k-word shingles (distinct) for MinHash/Jaccard."""

    def build(toks: Column) -> Column:
        n = F.size(toks)
        return F.when(
            n >= k,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), n - k + 1),
                    lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
                )
            ),
        ).otherwise(F.array(F.concat_ws(" ", toks)))

    return _let(tokens(col), build)
