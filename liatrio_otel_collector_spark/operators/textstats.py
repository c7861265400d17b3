"""Text-analysis operators over the `documents` table: token counting,
quality scoring, language-ID heuristic, content fingerprinting.

All pure Catalyst expressions (regexp counts + integer arithmetic) — the
divisions at the end are double ops over exact integers, so results are
bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_WORD_RE = "[a-zA-Z0-9]+"

STOPWORDS = ("the", "a", "of", "and", "to", "in")

# tiny per-language marker-word profiles for the n-gram/stopword heuristic;
# deterministic and engine-portable (the point is the *operator shape*:
# score-per-profile → argmax with lexicographic tie-break).
LANG_MARKERS = {
    "en": ("the", "fast", "slow"),
    "es": ("data", "valor", "tabla"),
    "de": ("der", "schnell", "gruppe"),
    "fr": ("le", "vite", "table"),
    "zh": ("hash", "scan", "join"),
}


def token_count(documents: DataFrame) -> DataFrame:
    """Whitespace/regex token counting (BPE-ish word regex)."""
    return documents.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_WORD_RE), 0)).cast("bigint").alias("n_words"),
        F.length("text").cast("bigint").alias("n_chars_actual"),
    )


def quality_score(documents: DataFrame) -> DataFrame:
    """Length / stopword-ratio / mean-word-length quality signals."""
    words = F.regexp_extract_all("text", F.lit(_WORD_RE), 0)
    n_words = F.size(words).cast("bigint")
    n_stop = F.size(F.filter(words, lambda w: w.isin(*STOPWORDS))).cast("bigint")
    n_chars = F.length("text").cast("bigint")
    return documents.select(
        "doc_id",
        n_words.alias("n_words"),
        n_stop.alias("n_stopwords"),
        F.round(n_stop / F.greatest(n_words, F.lit(1)), 6).alias("stopword_ratio"),
        F.round(n_chars / F.greatest(n_words, F.lit(1)), 6).alias("chars_per_word"),
    )


def language_id(documents: DataFrame) -> DataFrame:
    """Marker-word language heuristic: per-language hit count, argmax with
    lexicographic tie-break (greatest score wins, then language code)."""
    words = F.split(F.col("text"), " ")
    scores = [
        F.size(F.filter(words, lambda w: w.isin(*markers))).alias(f"score_{lang}")
        for lang, markers in sorted(LANG_MARKERS.items())
    ]
    scored = documents.select("doc_id", "lang", *scores)
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[F.col(f"score_{lang}") for lang in langs])
    pred = None
    for lang in reversed(langs):  # earlier langs win ties -> apply last
        cond = F.col(f"score_{lang}") == best
        pred = F.when(cond, F.lit(lang)) if pred is None else F.when(cond, F.lit(lang)).otherwise(pred)
    # reversed() construction makes the earliest (lexicographically-first)
    # matching language win ties
    return scored.select(
        "doc_id", F.col("lang").alias("actual_lang"), pred.alias("predicted_lang")
    )


def fingerprint(documents: DataFrame) -> DataFrame:
    """Content fingerprint: md5 over lowercase-normalized text (stable doc
    identity for dedup manifests)."""
    norm = F.lower(F.regexp_replace("text", r"\s+", " "))
    return documents.select(
        "doc_id", F.substring(F.md5(norm), 1, 16).alias("fingerprint")
    )


# PII / contamination scrubbing — the redaction pass every training-data
# pipeline runs before tokenization. Pure Catalyst regexps (JVM-side, no
# UDF); counts + the scrubbed text length give the oracle-checkable surface
# while the scrubbed text itself feeds downstream stages.
EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
URL_RE = "https?://[^\\s]+"
IPV4_RE = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"


def pii_scrub(documents: DataFrame) -> DataFrame:
    """(doc_id, n_emails, n_urls, n_ips, scrubbed_len, scrubbed): redact
    emails/URLs/IPv4s with typed placeholders, count what was removed.
    Order matters and is fixed: URLs first (an URL may contain '@' that the
    email regex would otherwise split), then emails, then bare IPs."""
    t0 = F.col("text")
    t1 = F.regexp_replace(t0, URL_RE, "<URL>")
    t2 = F.regexp_replace(t1, EMAIL_RE, "<EMAIL>")
    t3 = F.regexp_replace(t2, IPV4_RE, "<IP>")
    return documents.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(URL_RE), 0)).cast("bigint").alias("n_urls"),
        F.size(F.regexp_extract_all(t1, F.lit(EMAIL_RE), 0)).cast("bigint").alias("n_emails"),
        F.size(F.regexp_extract_all(t2, F.lit(IPV4_RE), 0)).cast("bigint").alias("n_ips"),
        F.length(t3).cast("bigint").alias("scrubbed_len"),
        t3.alias("scrubbed"),
    )


def repetition_stats(documents: DataFrame) -> DataFrame:
    """Gopher-style repetition signal: the fraction of duplicate 3-grams per
    document (docs that repeat themselves are low-quality training text;
    Rae et al. 2021 'Scaling Language Models' filter on exactly this family
    of ratios).  Pure Catalyst — transform/sequence builds the k-gram list,
    array_distinct the set — no shuffle at all: one narrow projection pass,
    embarrassingly parallel at 10^12 docs.

    Output: (doc_id, ngram_count, distinct_ngrams, dup_fraction) with
    dup_fraction = 1 - distinct/total rounded to 6 (oracle-stable)."""
    w = F.split(F.col("text"), " ")
    grams = F.filter(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(w) - 3, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(w, i + 1, 3)),
        ),
        lambda g: g != "",
    )
    return documents.select(
        "doc_id",
        F.size(grams).cast("bigint").alias("ngram_count"),
        F.size(F.array_distinct(grams)).cast("bigint").alias("distinct_ngrams"),
        F.when(
            F.size(grams) > 0,
            F.round(1 - F.size(F.array_distinct(grams)) / F.size(grams), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_fraction"),
    )
