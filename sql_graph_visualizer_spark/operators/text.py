"""Text analysis for training-data pipelines: language ID, quality
scoring, token counting, fingerprinting.

All pure column expressions (whole-stage codegen; no UDFs at all), so
they run at scan speed and push no data to Python. Reference analogue:
the string/regex scalar family (SURVEY.md §2.8 — e.g. query-type
classification by prefix ladder, ``performance_schema_adapter.go:718-742``,
and the 10k-char truncation, ``transform_service.go:215,230-234``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword markers for the n-gram/stopword heuristic
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of"),
    "de": ("der", "und", "nicht"),
    "es": ("el", "que", "los"),
    "fr": ("le", "et", "les"),
    "zh": ("的", "了", "是"),
}

EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for")

# BPE-ish tokenization: letter runs, digit runs, single non-alnum marks
TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_count(col: Column | str, pattern: str = TOKEN_PATTERN) -> Column:
    """Count BPE-ish tokens via regexp_extract_all (vectorized)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(pattern), 0))


def whitespace_token_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    trimmed = F.trim(c)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def punct_ratio(col: Column | str) -> Column:
    """Fraction of characters that are punctuation marks."""
    c = F.col(col) if isinstance(col, str) else col
    stripped = F.regexp_replace(c, r"[.,!?;:'\"()\[\]-]", "")
    return F.when(F.length(c) == 0, F.lit(0.0)).otherwise(
        (F.length(c) - F.length(stripped)) / F.length(c)
    )


def stopword_ratio(col: Column | str, stopwords: tuple[str, ...] = EN_STOPWORDS) -> Column:
    """Fraction of whitespace tokens that are (English) stopwords."""
    c = F.col(col) if isinstance(col, str) else col
    words = F.split(F.lower(F.trim(c)), r"\s+")
    n = F.size(words)
    sw = F.size(F.filter(words, lambda w: w.isin(*stopwords)))
    return F.when(n == 0, F.lit(0.0)).otherwise(sw / n)


def quality_score(col: Column | str) -> Column:
    """Composite quality in [0,1]: length, punctuation sanity, stopword
    presence — the hotspot-score ladder shape of the reference
    (``performance_analyzer.go:816-841``: clamped weighted components)."""
    c = F.col(col) if isinstance(col, str) else col
    len_component = F.least(F.length(c) / F.lit(500.0), F.lit(1.0))
    punct_component = F.lit(1.0) - F.least(punct_ratio(c) * 5.0, F.lit(1.0))
    stop_component = F.least(stopword_ratio(c) * 4.0, F.lit(1.0))
    return F.round(0.4 * len_component + 0.3 * punct_component + 0.3 * stop_component, 6)


def detect_language(col: Column | str) -> Column:
    """Marker-word vote: language with the most distinct marker hits;
    deterministic tie-break by language code; 'und' when nothing hits."""
    c = F.col(col) if isinstance(col, str) else col
    padded = F.concat(F.lit(" "), F.lower(c), F.lit(" "))
    scores = []
    for lang, markers in sorted(LANG_MARKERS.items()):
        hit_terms = [
            F.when(
                padded.contains(f" {m} ") if lang != "zh" else F.lower(c).contains(m), 1
            ).otherwise(0)
            for m in markers
        ]
        hits = hit_terms[0]
        for t in hit_terms[1:]:
            hits = hits + t
        scores.append(F.struct(hits.cast("int").alias("hits"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*scores))
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def fingerprint(col: Column | str) -> Column:
    """Normalization fingerprint: md5 of whitespace-collapsed lowercase
    text — the exact-dedup key and a cheap document identity."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.lower(F.regexp_replace(F.trim(c), r"\s+", " ")))


def analyze_documents(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One-pass document profile: all metrics as extra columns."""
    c = F.col(text_col)
    return docs.withColumns(
        {
            "n_tokens_ws": whitespace_token_count(c),
            "n_tokens_bpe": token_count(c),
            "punct_ratio": F.round(punct_ratio(c), 6),
            "stopword_ratio": F.round(stopword_ratio(c), 6),
            "quality": quality_score(c),
            "lang_pred": detect_language(c),
            "fingerprint": fingerprint(c),
        }
    )


# ------------------------------------------------------- SQL-digest analysis

def repetition_profile(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition quality signals per document: duplicate-
    line fraction, most-frequent-word fraction, most-frequent-bigram
    fraction — the standard filters a pretraining pipeline applies after
    exact/near dedup (repetitive boilerplate survives MinHash because it
    is only SELF-similar).

    Scale shape: the line metric is pure array expressions at scan
    speed; the word/bigram metrics explode tokens and hash-aggregate
    counts per (doc, gram) — fixed-width buffers, map-side combined,
    shuffling (doc_id, gram-hash) rows only, never the documents.
    Bigram lists are built with a transform() HOF — interpreted per ROW,
    but over ≤ a few thousand array slots per doc, not per token scan
    (the explode/agg does the heavy counting JVM-side)."""
    base = docs.filter(F.length(F.trim(F.col(text_col))) > 0).select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), "\n").alias("lines"),
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("ws"),
    )
    line_stats = base.select(
        "doc_id",
        F.round(
            1 - F.size(F.array_distinct("lines")) / F.size("lines"), 6
        ).alias("dup_line_frac"),
    )

    def top_frac(grams: F.Column, name: str) -> DataFrame:
        g = base.select("doc_id", F.explode(grams).alias("g")).filter(F.col("g") != "")
        counts = g.groupBy("doc_id", "g").agg(F.count("*").alias("n"))
        return counts.groupBy("doc_id").agg(
            F.round(F.max("n") / F.sum("n"), 6).alias(name)
        )

    # guard: Spark sequence(1, 0) counts DOWN ([1, 0]) instead of being
    # empty — a 1-word doc must yield no bigrams, not an invalid index
    bigrams = F.when(
        F.size("ws") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("ws") - 1),
            lambda i: F.concat_ws(" ", F.element_at("ws", i), F.element_at("ws", i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    out = (
        line_stats.join(top_frac(F.col("ws"), "top_word_frac"), "doc_id", "left")
        .join(top_frac(bigrams, "top_bigram_frac"), "doc_id", "left")
    )
    return out.select("doc_id", "dup_line_frac", "top_word_frac", "top_bigram_frac")


SQL_TABLE_PATTERN = r"(?i)(?:FROM|INTO|UPDATE|JOIN)\s+([a-zA-Z_][a-zA-Z_0-9]*)"


def classify_sql(col: Column | str) -> Column:
    """Query-type classification by statement prefix — the reference's
    statement-analysis ladder (performance_schema_adapter.go:717-742),
    as a when/startswith expression chain (JVM-side, codegen'd)."""
    c = F.upper(F.trim(F.col(col) if isinstance(col, str) else col))
    return (
        F.when(c.startswith("SELECT"), F.lit("select"))
        .when(c.startswith("INSERT"), F.lit("insert"))
        .when(c.startswith("UPDATE"), F.lit("update"))
        .when(c.startswith("DELETE"), F.lit("delete"))
        .otherwise(F.lit("other"))
    )


def extract_sql_table(col: Column | str) -> Column:
    """First referenced table name from a SQL statement text — the
    reference's next-token-after-FROM/INTO/UPDATE/JOIN extraction
    (performance_schema_adapter.go:691-716), as one vectorized
    regexp_extract instead of a per-row string walk."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract(c, SQL_TABLE_PATTERN, 1)


# ---------------------------------------------------------- PII redaction
# Training-data pipelines scrub obvious PII before anything else sees the
# text. Pure regexp expressions (whole-stage codegen; zero UDFs), with
# patterns restricted to syntax Java regex and RE2 interpret identically
# (character classes, bounded quantifiers, \b, non-capturing groups — no
# lookaround), so a DuckDB oracle can replay the redaction byte-for-byte.

PII_EMAIL = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
PII_IPV4 = (
    r"\b(?:(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\.){3}"
    r"(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\b"
)
PII_PHONE = r"\+?[0-9][0-9()\- ]{6,14}[0-9]"


def redact_pii(col: Column | str) -> Column:
    """Replace emails, IPv4 addresses and phone-shaped digit runs with
    typed placeholders. Order matters and is fixed: emails first (their
    digits would otherwise feed the phone pattern), then IPs (their
    charset is disjoint from phones — dots never match the phone run),
    then phones over what remains."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, PII_EMAIL, "[EMAIL]")
    c = F.regexp_replace(c, PII_IPV4, "[IP]")
    return F.regexp_replace(c, PII_PHONE, "[PHONE]")


def pii_counts(col: Column | str) -> tuple[Column, Column, Column]:
    """Per-pattern match counts on the RAW text (email, ipv4, phone) —
    the audit signal next to the redacted column. Counted independently,
    so a digit run inside an email can also count as phone-shaped; the
    redaction itself is not double-applied (see ``redact_pii`` order)."""
    c = F.col(col) if isinstance(col, str) else col
    return tuple(
        F.size(F.regexp_extract_all(c, F.lit(p), F.lit(0))).alias(name)
        for p, name in ((PII_EMAIL, "n_email"), (PII_IPV4, "n_ip"), (PII_PHONE, "n_phone"))
    )
