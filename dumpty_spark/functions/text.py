"""Text-analysis column functions (EXT E4; SURVEY §2.10).

All pure Column expressions — JVM-side, whole-stage-codegen'd, zero
Python in the hot path. Every regex here is written in the common
Java-regex ∩ RE2 dialect so the DuckDB oracles can use the IDENTICAL
pattern string (tests prove value parity).

At 100 TB these run as map-side projections over the scan — no shuffle,
no UDF serialization; throughput is bounded by parquet decode.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Shared regexes (keep in sync with the SQL oracles in queries/text.py).
WORD_SPLIT_RE = "[^a-z0-9]+"
PUNCT_RE = "[^a-zA-Z0-9 \\t\\n]"

# Tiny deterministic stopword inventories for the language-ID heuristic.
STOPWORDS = {
    "en": r"\b(the|and|of|to|a|in|is|it|that|for)\b",
    "de": r"\b(der|die|das|und|ist|nicht|mit|ein|zu|den)\b",
    "fr": r"\b(le|les|et|est|une|dans|que|pour|avec|sur)\b",
    "es": r"\b(el|los|de|que|y|en|una|por|con|para)\b",
}


def words(col: Column | str) -> Column:
    """Lowercased word tokens, empties removed (both engines make a
    leading/trailing '' when the text starts/ends with a separator —
    filtering makes the semantics explicit and portable)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array_remove(F.split(F.lower(c), WORD_SPLIT_RE), "")


def word_count(col: Column | str) -> Column:
    return F.size(words(col))


def punct_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(PUNCT_RE))


def punct_ratio(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return punct_count(c) / F.nullif(F.length(c), F.lit(0))


def stopword_count(col: Column | str, lang: str = "en") -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(F.lower(c), F.lit(STOPWORDS[lang]))


def stopword_ratio(col: Column | str, lang: str = "en") -> Column:
    return stopword_count(col, lang) / F.nullif(word_count(col), F.lit(0))


def lang_id(col: Column | str) -> Column:
    """n-gram/stopword language-ID heuristic → 'en'|'de'|'fr'|'es'|'und'.

    Deterministic argmax with fixed priority on ties (en > de > fr > es);
    zero hits → 'und'. Mirrored verbatim by the SQL oracle."""
    s = {lang: stopword_count(col, lang) for lang in STOPWORDS}
    return (
        F.when(
            (s["en"] >= s["de"]) & (s["en"] >= s["fr"]) & (s["en"] >= s["es"]) & (s["en"] > 0),
            F.lit("en"),
        )
        .when((s["de"] >= s["fr"]) & (s["de"] >= s["es"]) & (s["de"] > 0), F.lit("de"))
        .when((s["fr"] >= s["es"]) & (s["fr"] > 0), F.lit("fr"))
        .when(s["es"] > 0, F.lit("es"))
        .otherwise(F.lit("und"))
    )


def quality_score(col: Column | str) -> Column:
    """Document quality in [0,1]: length band + low punctuation + stopword
    presence — the standard cheap pre-filter for LLM training corpora."""
    c = F.col(col) if isinstance(col, str) else col
    wc = word_count(c).cast("double")
    length_term = F.least(wc / F.lit(50.0), F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(punct_ratio(c) * 5, F.lit(1.0))
    stop_term = F.least(stopword_ratio(c, "en") * 4, F.lit(1.0))
    return F.round((length_term + punct_term + stop_term) / 3, 4)


def normalized_text(col: Column | str) -> Column:
    """Canonical form for fingerprinting: lowercase, strip non-alnum runs
    to single spaces, trim."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), WORD_SPLIT_RE, " "))


def fingerprint(col: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text —
    identical hex in every engine (DuckDB md5() matches)."""
    return F.md5(normalized_text(col))


def shingles_from_words(w: Column, k: int = 3) -> Column:
    """Distinct word k-gram shingles from an ALREADY-MATERIALIZED word
    array column. ``w`` must be a bound column (not an inline ``words()``
    expression): expressions referenced inside a ``transform`` lambda are
    re-evaluated per array element, so an inline regex split would run
    once per shingle — measured 10x slower at sf0.1."""
    n = F.size(w)
    pos = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(0)))
    return F.when(n >= k, F.array_distinct(
        F.transform(pos, lambda p: F.array_join(F.slice(w, p, k), " "))
    )).otherwise(F.array().cast("array<string>"))


def positional_ngrams(w: Column, n: int) -> Column:
    """ALL word n-grams in document order (duplicates kept — the census
    unit for boilerplate frequency, unlike the DISTINCT shingle set
    MinHash wants). Same materialized-array contract as
    :func:`shingles_from_words`; docs shorter than ``n`` yield an empty
    array (``sequence(1, 0)`` would COUNT DOWN in Spark, so the short
    side is guarded explicitly)."""
    size = F.size(w)
    pos = F.sequence(F.lit(1), size - (n - 1))
    return F.when(
        size >= n,
        F.transform(pos, lambda p: F.array_join(F.slice(w, p, n), " ")),
    ).otherwise(F.array().cast("array<string>"))


def shingles(col: Column | str, k: int = 3) -> Column:
    """Distinct word k-gram shingles as an array<string> — the unit for
    n-gram Jaccard and MinHash. Prefer materializing ``words()`` in a
    projection and calling ``shingles_from_words`` (see its perf note)."""
    return shingles_from_words(words(col), k)


def token_count_bpe_ish(col: Column | str) -> Column:
    """BPE-ish token estimate: words + digits + punctuation marks counted
    separately (the usual ~0.75 words/token proxy without a vocab)."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.regexp_count(F.lower(c), F.lit("[a-z]+"))
        + F.regexp_count(c, F.lit("[0-9]"))
        + punct_count(c)
    )


def chunk_spans(w: Column, window: int, overlap: int) -> Column:
    """Overlapping word-window chunks from an ALREADY-MATERIALIZED word
    array (same inline-lambda caveat as shingles_from_words): windows of
    ``window`` tokens starting every ``window - overlap`` tokens, final
    partial window kept. Returns array<struct<start,chunk_text>> — the
    long-document splitter every context-bounded consumer (training,
    embedding, retrieval) runs first. Map-side only: explode the result
    and the operation scales as one corpus scan, no shuffle."""
    if not 0 <= overlap < window:
        raise ValueError(f"need 0 <= overlap < window, got {overlap}/{window}")
    stride = window - overlap
    n = F.size(w)
    n_chunks = F.floor((n - F.lit(overlap) - 1) / stride) + 1
    starts = F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0)))
    empty = F.array().cast("array<struct<start:int,chunk_text:string>>")
    return F.when(n.isNull() | (n <= 0), empty).otherwise(
        F.transform(
            starts,
            lambda i: F.struct(
                (i * stride).cast("int").alias("start"),
                F.array_join(F.slice(w, i * stride + 1, window), " ").alias(
                    "chunk_text"
                ),
            ),
        )
    )


# PII patterns restricted to the Java-regex ∩ RE2 common dialect so the
# same string runs in Spark and the DuckDB oracle. The standard scrub
# pass of a training-data pipeline (no reference analog — EXT E4).
PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_PHONE_RE = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"


def redact_pii(col: Column | str) -> Column:
    """Replace emails/phone numbers with typed placeholder tokens —
    pure Column regexps, map-side, no UDF."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, PII_EMAIL_RE, "[EMAIL]")
    return F.regexp_replace(c, PII_PHONE_RE, "[PHONE]")


def pii_counts(col: Column | str) -> tuple[Column, Column]:
    """(n_emails, n_phones) match counts for audit reporting."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.regexp_count(c, F.lit(PII_EMAIL_RE)),
        F.regexp_count(c, F.lit(PII_PHONE_RE)),
    )
