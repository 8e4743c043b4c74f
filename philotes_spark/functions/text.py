"""Text-analysis column functions for the LLM-data-pipeline surface
(SURVEY §2C): tokenization, quality scoring, language-ID heuristic,
document fingerprinting.

All pure ``pyspark.sql.functions`` expression compositions — JVM-side,
whole-stage-codegen, zero Python in the hot path. Each has an exact ANSI
SQL twin used by the DuckDB oracles in ``text_queries.py``.

At 100 TB these are embarrassingly parallel projections: no shuffle, and
the token arrays never round-trip through Python.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_PATTERN = "[a-z0-9]+"

# Tiny per-language stopword sets for the n-gram/stopword language-ID
# heuristic. Deterministic and mirrored verbatim in the oracle SQL.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "on", "for", "with"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "una", "por", "con"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "ein", "zu", "den"],
    "fr": ["le", "la", "et", "les", "des", "un", "une", "du", "est", "dans"],
}

STOPWORDS_EN = LANG_STOPWORDS["en"]


def tokens(text: Column) -> Column:
    """Lowercased alphanumeric tokens (the BPE-ish regex tokenizer)."""
    return F.regexp_extract_all(F.lower(text), F.lit(TOKEN_PATTERN), 0)


def word_count(toks: Column) -> Column:
    return F.size(toks).cast("long")


def unique_word_count(toks: Column) -> Column:
    return F.size(F.array_distinct(toks)).cast("long")


def avg_word_len(toks: Column) -> Column:
    """Mean token length, rounded for oracle comparison."""
    total = F.aggregate(toks, F.lit(0).cast("long"), lambda a, x: a + F.length(x))
    return F.round(total / F.size(toks), 4)


def stopword_ratio(toks: Column, stopwords: list[str] | None = None) -> Column:
    """Fraction of tokens that are stopwords — the classic quality signal."""
    sw = stopwords or STOPWORDS_EN
    n_sw = F.size(F.filter(toks, lambda x: x.isin(*sw)))
    return F.round(n_sw / F.size(toks), 4)


def punct_ratio(text: Column) -> Column:
    """Fraction of characters outside [a-z0-9 ] after lowercasing."""
    stripped = F.length(F.regexp_replace(F.lower(text), "[a-z0-9 ]", ""))
    return F.round(stripped / F.length(text), 4)


def lang_scores(toks: Column) -> dict[str, Column]:
    """Stopword-hit count per candidate language."""
    return {
        lang: F.size(F.filter(toks, lambda x: x.isin(*sw)))
        for lang, sw in LANG_STOPWORDS.items()
    }


def lang_predict(toks: Column) -> Column:
    """Argmax language with deterministic tie-break (en > es > de > fr),
    'und' (undetermined) when no stopword hits at all."""
    s = lang_scores(toks)
    best = F.greatest(*s.values())
    expr = F.lit("und")
    # reversed so earlier langs win ties (last WHEN evaluated first wins
    # via otherwise-chaining below)
    for lang in ["fr", "de", "es", "en"]:
        expr = F.when((s[lang] == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def fingerprint_md5(toks: Column) -> Column:
    """Normalization fingerprint: md5 over the canonical token stream.
    Collapses case/punctuation/whitespace variants to one identity."""
    return F.md5(F.array_join(toks, " "))


# --- PII redaction (§2C training-data scrub stage) ---------------------------

# Cross-engine-safe patterns: every construct (classes, bounded reps, \b)
# means the same thing in Java regex (Spark) and DuckDB's RE2.
PII_PATTERNS = {
    "EMAIL": r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}",
    "PHONE": r"\b\d{3}[-. ]\d{3,4}[-. ]\d{4}\b",
    "IP": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}


def redact_pii(text: Column) -> Column:
    """Replace emails, phone-shaped numbers, and IPv4 literals with
    ``<KIND>`` placeholders — the standard scrub pass before training on
    scraped text. Order matters: emails first, so their user/domain
    digits can't be re-matched as phones/IPs. Pure JVM regexp_replace
    chain (codegen), no Python."""
    out = text
    for kind, pat in PII_PATTERNS.items():
        out = F.regexp_replace(out, pat, f"<{kind}>")
    return out


def pii_counts(text: Column) -> dict[str, Column]:
    """Match count per PII family (regexp_count, JVM-side)."""
    return {k: F.regexp_count(text, F.lit(p)) for k, p in PII_PATTERNS.items()}


# --- BM25 relevance scoring (Okapi / Lucene formulation) --------------------

BM25_K1, BM25_B = 1.2, 0.75


def bm25_scores(
    docs,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = BM25_K1,
    b: float = BM25_B,
):
    """Per-document BM25 score against a fixed term set — the relevance
    ranking a corpus-curation pipeline uses to mine topical documents.
    Lucene idf: ln(1 + (N - df + 0.5)/(df + 0.5)).

    100 TB shape: one explode pass produces (doc, term) postings; term
    frequencies are restricted to the |q| query terms BEFORE any shuffle
    (the filter prunes the postings to matched rows only), doc lengths
    are a second narrow aggregation, and the corpus scalars (N, avgdl)
    stay IN the plan as broadcast one-row aggregates (the q11 pattern) —
    no driver actions, fully lazy. The per-term idf table is |q| rows,
    broadcast. No cartesian anything.

    Returns (id_col, bm25) for documents matching ≥1 query term."""
    toks = docs.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term"))
    lens = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    # corpus scalars as a broadcast 1-row frame: N docs + mean doc length
    scalars = lens.agg(
        F.count(F.lit(1)).cast("double").alias("_n"), F.avg("dl").alias("_avgdl")
    )

    matched = toks.filter(F.col("term").isin(query_terms))
    tf = matched.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = df_t.crossJoin(F.broadcast(scalars)).select(
        "term",
        F.log(
            F.lit(1.0) + (F.col("_n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        ).alias("idf"),
        "_avgdl",
    )
    return (
        tf.join(F.broadcast(idf), "term")
        .join(lens, id_col)
        .withColumn(
            "contrib",
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("_avgdl"))),
        )
        .groupBy(id_col)
        .agg(F.sum("contrib").alias("bm25"))
    )
