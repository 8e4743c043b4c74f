"""N-gram Jaccard near-duplicate detection (SURVEY §2C) — the exact
(non-approximate) tier: word n-gram shingles, inverted-index self-join,
Jaccard from intersection counts.

Scale shape: shingle explode → groupBy-join on the shingle (inverted
index). The join key is a shingle hash (8 bytes). Hot shingles (stopword
runs) create skew — ``max_shingle_freq`` drops shingles shared by more
than N docs (standard df-cut: they contribute candidates, not precision);
AQE skew-join covers the rest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from philotes_spark.functions.text import tokens
from philotes_spark.state import keep


def shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle), where
    ``shingle`` is the xxhash64 of the space-joined gram — an 8-byte
    long, hashed BEFORE the explode (r16, guide §2.3). Every downstream
    consumer (df-cut groupBy, posting self-join, intersection counts)
    keys on the shingle and never surfaces it, so shuffling the ~30-60
    byte gram strings through 2-3 exchanges paid pure overhead; the
    int64 key cuts those shuffle bytes ~5x and removes the string
    allocation per occurrence. Collisions (~1e-7 per corpus, same class
    as text_dup_ngram_fraction's hashed keys) would merge two shingles
    and surface deterministically as an oracle hash mismatch — the
    jaccard/containment/cross-source oracles group the REAL strings in
    DuckDB and stay hash-compared green. Measured interleaved same-JVM
    min-of-N cold (dedup_ngram_jaccard): sf0.1 1.80 → 1.29 s (−28%),
    sf1 25.2 → 20.7 s (−18%)."""
    t = tokens(F.col(text_col))
    toks = df.select(F.col(id_col).alias("doc"), t.alias("t")).filter(
        F.size("t") >= n
    )
    idx = F.sequence(F.lit(0), F.size("t") - n)
    grams = F.transform(
        idx, lambda i: F.xxhash64(F.array_join(F.slice("t", i + 1, n), " "))
    )
    return toks.select("doc", F.explode(F.array_distinct(grams)).alias("shingle"))


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.2,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """All document pairs with shingle-set Jaccard ≥ threshold:
    (doc_a, doc_b, n_common, jaccard). doc_a < doc_b.
    """
    sh = keep(shingles(df, id_col, text_col, n))
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))

    posting = sh
    if max_shingle_freq is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_shingle_freq)
            .select("shingle")
        )
        posting = sh.join(rare, "shingle", "left_semi")

    a = posting.select(F.col("doc").alias("doc_a"), "shingle")
    b = posting.select(F.col("doc").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.25,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Document pairs with shingle-set CONTAINMENT ≥ threshold, where
    containment = |A∩B| / min(|A|, |B|) — the asymmetric near-dup
    criterion: a short document embedded verbatim in a long one scores
    ~1.0 here while its symmetric Jaccard (|A∩B|/|A∪B|) stays low
    because the union is dominated by the long side. The standard second
    pass of corpus dedup (Lee et al. 2022 "Deduplicating Training Data"
    uses the same family of substring/containment criteria).

    Same inverted-index plan as jaccard_pairs: shingle explode →
    posting self-join (8-byte keys) → per-pair intersection counts →
    size join-back; df-cut + AQE handle hot shingles."""
    sh = keep(shingles(df, id_col, text_col, n))
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))

    posting = sh
    if max_shingle_freq is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_shingle_freq)
            .select("shingle")
        )
        posting = sh.join(rare, "shingle", "left_semi")

    a = posting.select(F.col("doc").alias("doc_a"), "shingle")
    b = posting.select(F.col("doc").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "containment",
            F.round(F.col("n_common") / F.least("n_a", "n_b"), 4),
        )
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "n_common", "containment")
    )
