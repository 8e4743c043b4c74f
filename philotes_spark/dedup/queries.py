"""Registered dedup queries over the `documents` table (SURVEY §2C).

Oracle-checked where SQL-expressible (exact, fingerprint-normalized,
n-gram Jaccard); the production hash-family approximations (MinHash-LSH,
SimHash) stay rows-only — their xxhash64 primitives are engine-local —
but each has a PORTABLE twin (r12: dedup_minhash_portable /
dedup_simhash_portable) that shares its md5-derived hashes verbatim with
the DuckDB oracle, so the LSH banding and the simhash bit-vote
constructions themselves are hash-compared.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from philotes_spark.dedup.exact import dedup_exact
from philotes_spark.dedup.minhash import minhash_dedup
from philotes_spark.dedup.ngram import containment_pairs, jaccard_pairs
from philotes_spark.dedup.simhash import simhash_near_dups
from philotes_spark.registry import query
from philotes_spark.sources.catalog import load_table, load_table_parallel

_TOKS = "regexp_extract_all(lower(text), '[a-z0-9]+')"

# Scan-parallelism site selection (r16, guide §2.5 — see
# catalog.load_table_parallel and the fuller note in text_queries.py).
# All dedup outputs are integer-count arithmetic, so the guarded
# repartition is result-safe everywhere; which sites WIN is decided by
# interleaved min-of-N cold A/B at sf0.1/sf1:
# - unconditional: simhash −52%/−33%, simhash_portable −6%/−68% (the
#   per-doc bit-vote projection dominates both);
# - min_bytes=1MB: cross_source_overlap +6%/−48%, minhash_portable
#   +30%/−25% (fixed exchange cost beats the win below ~1 MB of input);
# - unconditional (cache-honest A/B, caches cleared between cold reps —
#   the first A/B reused each arm's own persisted shingles/signatures
#   across reps and measured only post-cache stages): jaccard −67%/−75%,
#   containment −68%/−78%;
# - min_bytes=1MB: minhash_lsh +3%/−52% TRUE-cold (6.84 → 3.30 s sf1;
#   the bench's own min-of-N still reuses the persisted signatures, so
#   its artifact number is unchanged — the win is the real first-run
#   cost);
# - NOT converted: exact +175%/+66% and normalized +114%/+8% (one cheap
#   hash + an existing groupBy exchange; no persist involved, honest
#   numbers).


@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS content_hash,
           MIN(doc_id) AS survivor_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one survivor per distinct text (hash-groupBy)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup_exact(docs, "text", "doc_id")


@query(
    "dedup_normalized",
    oracle=f"""
    SELECT md5(array_to_string({_TOKS}, ' ')) AS content_hash,
           MIN(doc_id) AS survivor_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def q_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-aware exact dedup: case/punctuation/whitespace
    variants collapse to the same fingerprint before the hash-groupBy."""
    from philotes_spark.functions.text import fingerprint_md5, tokens

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(fingerprint_md5(tokens(F.col("text"))).alias("content_hash"))
        .agg(F.min("doc_id").alias("survivor_id"), F.count(F.lit(1)).alias("n_copies"))
    )


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    sh AS (
        SELECT DISTINCT doc_id,
               array_to_string(t[i.i : i.i + 2], ' ') AS shingle
        FROM toks,
             (SELECT UNNEST(generate_series(1, (SELECT MAX(len(t)) FROM toks))) AS i) i
        WHERE i.i <= len(t) - 2
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b, n_common,
           ROUND(n_common / (sa.n_sh + sb.n_sh - n_common), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE ROUND(n_common / (sa.n_sh + sb.n_sh - n_common), 4) >= 0.12
    """,
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard pairs ≥ 0.12 via inverted-index self-join."""
    docs = load_table_parallel(spark, sf_dir, "documents", "doc_id")
    return jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.12)


@query("dedup_minhash_lsh")  # rows-only: xxhash64 not portable to DuckDB
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(128) + LSH(32 bands × 4 rows) candidate pairs with
    signature-estimated Jaccard ≥ 0.35.

    min_bytes re-measured r17 under honest cold (the r16 1 MB crossover
    was set when "cold" reps still served the persisted signatures from
    the CacheManager): interleaved min-of-4 — guard −8% at 0.58 MB/sf0.1
    (1.439 → 1.323 s), −59% at 5.9 MB/sf1 (6.548 → 2.690 s), +76% at
    65 KB/sf0.01, so the gate sits at 256 KB."""
    docs = load_table_parallel(
        spark, sf_dir, "documents", "doc_id", min_bytes=256 << 10
    )
    return minhash_dedup(docs, "doc_id", "text", min_est_jaccard=0.35).orderBy(
        "doc_a", "doc_b"
    )


@query("dedup_simhash")  # rows-only: xxhash64 not portable to DuckDB
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-64 near-dups within hamming distance 3 via 4-band
    pigeonhole join."""
    docs = load_table_parallel(spark, sf_dir, "documents", "doc_id")
    return simhash_near_dups(docs, "doc_id", "text", max_hamming=3).orderBy(
        "doc_a", "doc_b"
    )


@query(
    "dedup_cross_source_overlap",
    oracle=f"""
    WITH toks AS (SELECT source, {_TOKS} AS t FROM documents),
    sh AS (
        SELECT DISTINCT source,
               array_to_string(t[i.i : i.i + 2], ' ') AS shingle
        FROM toks,
             (SELECT UNNEST(generate_series(1, (SELECT MAX(len(t)) FROM toks))) AS i) i
        WHERE i.i <= len(t) - 2
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS shared_contents
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q_dedup_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every source pair, how many
    distinct 3-gram shingles appear in BOTH — the report that tells a
    curation pipeline which feeds are mirroring each other (and which
    pair to dedup against first). The shingle key (not a whole-text
    hash) makes the signal graded: partial mirroring and boilerplate
    sharing surface long before full-document copies do. (r15: the
    whole-text-md5 variant was VACUOUS at sf ≤ 0.01 — the fixture has
    no cross-source exact duplicates there — so the driver's hash
    compare carried zero rows; VERDICT r14 what's-wrong #1.)

    100 TB shape: documents reduce to DISTINCT (source, shingle) pairs
    first (one distinct aggregate, partial map-side — output is bounded
    by per-source vocabulary, not corpus rows); the self-join then runs
    on that reduced set keyed by shingle, and only shingles present in
    2+ sources produce rows. No full-text ever shuffles — short
    shingles do."""
    from philotes_spark.dedup.ngram import shingles

    docs = load_table_parallel(
        spark, sf_dir, "documents", "doc_id", min_bytes=1 << 20
    )
    sh = shingles(docs, "source", "text").distinct()
    a = sh.select(F.col("shingle"), F.col("doc").alias("source_a"))
    b = sh.select(F.col("shingle"), F.col("doc").alias("source_b"))
    return (
        a.join(b, "shingle")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("shared_contents"))
        # ≤ |sources|² pairs (bounded): single-partition sort (r16)
        .coalesce(1)
        .orderBy("source_a", "source_b")
    )


@query(
    "dedup_ngram_containment",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    sh AS (
        SELECT DISTINCT doc_id,
               array_to_string(t[i.i : i.i + 2], ' ') AS shingle
        FROM toks,
             (SELECT UNNEST(generate_series(1, (SELECT MAX(len(t)) FROM toks))) AS i) i
        WHERE i.i <= len(t) - 2
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b, n_common,
           ROUND(n_common / LEAST(sa.n_sh, sb.n_sh), 4) AS containment
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE ROUND(n_common / LEAST(sa.n_sh, sb.n_sh), 4) >= 0.25
    """,
)
def q_dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric 3-gram containment pairs ≥ 0.25 (|A∩B| / min set size):
    the short-doc-inside-long-doc criterion symmetric Jaccard misses —
    on these fixtures it surfaces pairs dedup_ngram_jaccard's 0.12 gate
    does not. Same inverted-index join shape as the Jaccard tier."""
    docs = load_table_parallel(spark, sf_dir, "documents", "doc_id")
    return containment_pairs(docs, "doc_id", "text", n=3, threshold=0.25)


# Portable MinHash twin (r12): the SAME md5-derived shingle hash and the
# SAME 16 literal hash functions on both engines, so the LSH family gains
# a HASH-COMPARED member next to the rows-only production path
# (dedup/minhash.py, which keeps xxhash64 + the Arrow k-min fold — faster,
# but engine-local). Arithmetic stays inside 63 bits: 31-bit shingle
# hashes, multipliers < 2^31.
_MH_P = 4294967311
_MH_COEFFS = [(1009512132, 390210743), (1563935663, 1242003230), (652301076, 429929954), (1905458516, 1553736335), (880658540, 1626111328), (1538917682, 1629136661), (569558051, 1144996352), (526491372, 1366117076), (1745005757, 1578920875), (1070094068, 760579355), (893078532, 1132431089), (1562850844, 1322101141), (2068562873, 468424485), (664708926, 1167870002), (1511956877, 709182034), (1115297190, 160357132)]


@query(
    "dedup_minhash_portable",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    sh AS (
        SELECT DISTINCT doc_id,
               array_to_string(t[i.i : i.i + 2], ' ') AS g
        FROM toks,
             (SELECT UNNEST(generate_series(1, (SELECT MAX(len(t)) FROM toks))) AS i) i
        WHERE i.i <= len(t) - 2
    ),
    hs AS (
        SELECT doc_id,
               ('0x' || substring(md5(g), 1, 8))::BIGINT % 2147483648 AS h
        FROM sh
    ),
    sig AS (
        SELECT doc_id,
           MIN((1009512132 * h + 390210743) % 4294967311) AS m0,
           MIN((1563935663 * h + 1242003230) % 4294967311) AS m1,
           MIN((652301076 * h + 429929954) % 4294967311) AS m2,
           MIN((1905458516 * h + 1553736335) % 4294967311) AS m3,
           MIN((880658540 * h + 1626111328) % 4294967311) AS m4,
           MIN((1538917682 * h + 1629136661) % 4294967311) AS m5,
           MIN((569558051 * h + 1144996352) % 4294967311) AS m6,
           MIN((526491372 * h + 1366117076) % 4294967311) AS m7,
           MIN((1745005757 * h + 1578920875) % 4294967311) AS m8,
           MIN((1070094068 * h + 760579355) % 4294967311) AS m9,
           MIN((893078532 * h + 1132431089) % 4294967311) AS m10,
           MIN((1562850844 * h + 1322101141) % 4294967311) AS m11,
           MIN((2068562873 * h + 468424485) % 4294967311) AS m12,
           MIN((664708926 * h + 1167870002) % 4294967311) AS m13,
           MIN((1511956877 * h + 709182034) % 4294967311) AS m14,
           MIN((1115297190 * h + 160357132) % 4294967311) AS m15
        FROM hs GROUP BY doc_id
    ),
    banded AS (
        SELECT doc_id, 0 AS band, md5(concat_ws('|', m0, m1, m2, m3)) AS bh, m0, m1, m2, m3, m4, m5, m6, m7, m8, m9, m10, m11, m12, m13, m14, m15 FROM sig
        UNION ALL
        SELECT doc_id, 1 AS band, md5(concat_ws('|', m4, m5, m6, m7)) AS bh, m0, m1, m2, m3, m4, m5, m6, m7, m8, m9, m10, m11, m12, m13, m14, m15 FROM sig
        UNION ALL
        SELECT doc_id, 2 AS band, md5(concat_ws('|', m8, m9, m10, m11)) AS bh, m0, m1, m2, m3, m4, m5, m6, m7, m8, m9, m10, m11, m12, m13, m14, m15 FROM sig
        UNION ALL
        SELECT doc_id, 3 AS band, md5(concat_ws('|', m12, m13, m14, m15)) AS bh, m0, m1, m2, m3, m4, m5, m6, m7, m8, m9, m10, m11, m12, m13, m14, m15 FROM sig
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ROUND(((CASE WHEN a.m0 = b.m0 THEN 1 ELSE 0 END) + (CASE WHEN a.m1 = b.m1 THEN 1 ELSE 0 END) + (CASE WHEN a.m2 = b.m2 THEN 1 ELSE 0 END) + (CASE WHEN a.m3 = b.m3 THEN 1 ELSE 0 END) + (CASE WHEN a.m4 = b.m4 THEN 1 ELSE 0 END) + (CASE WHEN a.m5 = b.m5 THEN 1 ELSE 0 END) + (CASE WHEN a.m6 = b.m6 THEN 1 ELSE 0 END) + (CASE WHEN a.m7 = b.m7 THEN 1 ELSE 0 END) + (CASE WHEN a.m8 = b.m8 THEN 1 ELSE 0 END) + (CASE WHEN a.m9 = b.m9 THEN 1 ELSE 0 END) + (CASE WHEN a.m10 = b.m10 THEN 1 ELSE 0 END) + (CASE WHEN a.m11 = b.m11 THEN 1 ELSE 0 END) + (CASE WHEN a.m12 = b.m12 THEN 1 ELSE 0 END) + (CASE WHEN a.m13 = b.m13 THEN 1 ELSE 0 END) + (CASE WHEN a.m14 = b.m14 THEN 1 ELSE 0 END) + (CASE WHEN a.m15 = b.m15 THEN 1 ELSE 0 END)) / 16.0, 4) AS est_jaccard
    FROM banded a
    JOIN banded b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    WHERE ((CASE WHEN a.m0 = b.m0 THEN 1 ELSE 0 END) + (CASE WHEN a.m1 = b.m1 THEN 1 ELSE 0 END) + (CASE WHEN a.m2 = b.m2 THEN 1 ELSE 0 END) + (CASE WHEN a.m3 = b.m3 THEN 1 ELSE 0 END) + (CASE WHEN a.m4 = b.m4 THEN 1 ELSE 0 END) + (CASE WHEN a.m5 = b.m5 THEN 1 ELSE 0 END) + (CASE WHEN a.m6 = b.m6 THEN 1 ELSE 0 END) + (CASE WHEN a.m7 = b.m7 THEN 1 ELSE 0 END) + (CASE WHEN a.m8 = b.m8 THEN 1 ELSE 0 END) + (CASE WHEN a.m9 = b.m9 THEN 1 ELSE 0 END) + (CASE WHEN a.m10 = b.m10 THEN 1 ELSE 0 END) + (CASE WHEN a.m11 = b.m11 THEN 1 ELSE 0 END) + (CASE WHEN a.m12 = b.m12 THEN 1 ELSE 0 END) + (CASE WHEN a.m13 = b.m13 THEN 1 ELSE 0 END) + (CASE WHEN a.m14 = b.m14 THEN 1 ELSE 0 END) + (CASE WHEN a.m15 = b.m15 THEN 1 ELSE 0 END)) >= 8
    """,
)
def q_dedup_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + LSH(4 bands × 4 rows) near-dup pairs with every
    primitive PORTABLE (md5 shingle hash → 31 bits, literal (a·h+b) mod P
    minima, md5 band hashes), hash-compared against DuckDB running the
    identical algorithm — the differential proof that the LSH construction
    itself (banding, bucket join, signature-overlap estimate) is correct,
    complementing the recall-gated production path. Pairs report the
    signature-estimated Jaccard (≥ 8/16 minima equal). Scale shape matches
    minhash.py: shingles/signatures are a pure projection + one bounded
    aggregate; the self-join carries (band, bh) buckets only at
    production k (here the 16-col signature rides for the estimate —
    verification-sized, k=16)."""
    from philotes_spark.functions.text import tokens

    docs = load_table_parallel(
        spark, sf_dir, "documents", "doc_id", min_bytes=1 << 20
    )
    t = tokens(F.col("text"))
    grams = F.transform(
        F.sequence(F.lit(0), F.size("t") - 3),
        lambda i: F.array_join(F.slice("t", i + 1, 3), " "),
    )
    sh = (
        docs.select(F.col("doc_id").alias("doc"), t.alias("t"))
        .filter(F.size("t") >= 3)
        .select("doc", F.explode(F.array_distinct(grams)).alias("g"))
    )
    h = F.pmod(
        F.conv(F.substring(F.md5("g"), 1, 8), 16, 10).cast("long"),
        F.lit(2147483648),
    )
    sig = (
        sh.select("doc", h.alias("h"))
        .groupBy("doc")
        .agg(
            *[
                F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(_MH_P)).alias(
                    f"m{i}"
                )
                for i, (a, b) in enumerate(_MH_COEFFS)
            ]
        )
    )
    m = [f"m{i}" for i in range(16)]
    banded = None
    for j in range(4):
        part = sig.select(
            "doc",
            F.lit(j).alias("band"),
            F.md5(F.concat_ws("|", *m[4 * j : 4 * j + 4])).alias("bh"),
            *m,
        )
        banded = part if banded is None else banded.unionByName(part)
    a = banded.select(
        F.col("doc").alias("doc_a"), "band", "bh",
        *[F.col(c).alias(f"a_{c}") for c in m],
    )
    b = banded.select(
        F.col("doc").alias("doc_b"), "band", "bh",
        *[F.col(c).alias(f"b_{c}") for c in m],
    )
    n_eq = sum(
        F.when(F.col(f"a_{c}") == F.col(f"b_{c}"), 1).otherwise(0)
        for c in m
    )
    return (
        a.join(b, ["band", "bh"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("n_eq", n_eq)
        .filter(F.col("n_eq") >= 8)
        .select(
            "doc_a", "doc_b",
            F.round(F.col("n_eq") / 16.0, 4).alias("est_jaccard"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )


@query(
    "dedup_simhash_portable",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    sh AS (
        SELECT DISTINCT doc_id,
               array_to_string(t[i.i : i.i + 2], ' ') AS g
        FROM toks,
             (SELECT UNNEST(generate_series(1, (SELECT MAX(len(t)) FROM toks))) AS i) i
        WHERE i.i <= len(t) - 2
    ),
    hs AS (
        SELECT doc_id,
               ('0x' || substring(md5(g), 1, 8))::BIGINT % 2147483648 AS h
        FROM sh
    ),
    votes AS (
        SELECT doc_id,
           SUM(CASE WHEN (h >> 0) & 1 = 1 THEN 1 ELSE -1 END) AS v0,
           SUM(CASE WHEN (h >> 1) & 1 = 1 THEN 1 ELSE -1 END) AS v1,
           SUM(CASE WHEN (h >> 2) & 1 = 1 THEN 1 ELSE -1 END) AS v2,
           SUM(CASE WHEN (h >> 3) & 1 = 1 THEN 1 ELSE -1 END) AS v3,
           SUM(CASE WHEN (h >> 4) & 1 = 1 THEN 1 ELSE -1 END) AS v4,
           SUM(CASE WHEN (h >> 5) & 1 = 1 THEN 1 ELSE -1 END) AS v5,
           SUM(CASE WHEN (h >> 6) & 1 = 1 THEN 1 ELSE -1 END) AS v6,
           SUM(CASE WHEN (h >> 7) & 1 = 1 THEN 1 ELSE -1 END) AS v7,
           SUM(CASE WHEN (h >> 8) & 1 = 1 THEN 1 ELSE -1 END) AS v8,
           SUM(CASE WHEN (h >> 9) & 1 = 1 THEN 1 ELSE -1 END) AS v9,
           SUM(CASE WHEN (h >> 10) & 1 = 1 THEN 1 ELSE -1 END) AS v10,
           SUM(CASE WHEN (h >> 11) & 1 = 1 THEN 1 ELSE -1 END) AS v11,
           SUM(CASE WHEN (h >> 12) & 1 = 1 THEN 1 ELSE -1 END) AS v12,
           SUM(CASE WHEN (h >> 13) & 1 = 1 THEN 1 ELSE -1 END) AS v13,
           SUM(CASE WHEN (h >> 14) & 1 = 1 THEN 1 ELSE -1 END) AS v14,
           SUM(CASE WHEN (h >> 15) & 1 = 1 THEN 1 ELSE -1 END) AS v15
        FROM hs GROUP BY doc_id
    ),
    fps AS (SELECT doc_id, (CASE WHEN v0 > 0 THEN 1 ELSE 0 END) + (CASE WHEN v1 > 0 THEN 2 ELSE 0 END) + (CASE WHEN v2 > 0 THEN 4 ELSE 0 END) + (CASE WHEN v3 > 0 THEN 8 ELSE 0 END) + (CASE WHEN v4 > 0 THEN 16 ELSE 0 END) + (CASE WHEN v5 > 0 THEN 32 ELSE 0 END) + (CASE WHEN v6 > 0 THEN 64 ELSE 0 END) + (CASE WHEN v7 > 0 THEN 128 ELSE 0 END) + (CASE WHEN v8 > 0 THEN 256 ELSE 0 END) + (CASE WHEN v9 > 0 THEN 512 ELSE 0 END) + (CASE WHEN v10 > 0 THEN 1024 ELSE 0 END) + (CASE WHEN v11 > 0 THEN 2048 ELSE 0 END) + (CASE WHEN v12 > 0 THEN 4096 ELSE 0 END) + (CASE WHEN v13 > 0 THEN 8192 ELSE 0 END) + (CASE WHEN v14 > 0 THEN 16384 ELSE 0 END) + (CASE WHEN v15 > 0 THEN 32768 ELSE 0 END) AS fingerprint FROM votes)
    SELECT fingerprint,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS survivor_id
    FROM fps GROUP BY fingerprint HAVING COUNT(*) >= 2
    """,
)
def q_dedup_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(16-bit) near-dup buckets with every primitive PORTABLE
    (the same md5-derived 31-bit shingle hashes as dedup_minhash_portable;
    per-bit +1/-1 votes; fingerprint = the sign bits) — hash-compared
    against DuckDB running the identical algorithm, proving the bit-vote
    construction next to the minhash twin's banding proof. Integer-only
    arithmetic end to end is what makes it comparable; the production
    path (dedup/simhash.py, 64-bit xxhash64) stays rows-only. Buckets at
    hamming distance 0 with >= 2 members report (fingerprint, size,
    survivor) — the keep/drop assignment of a simhash dedup pass."""
    from philotes_spark.functions.text import tokens

    docs = load_table_parallel(spark, sf_dir, "documents", "doc_id")
    t = tokens(F.col("text"))
    grams = F.transform(
        F.sequence(F.lit(0), F.size("t") - 3),
        lambda i: F.array_join(F.slice("t", i + 1, 3), " "),
    )
    sh = (
        docs.select(F.col("doc_id").alias("doc"), t.alias("t"))
        .filter(F.size("t") >= 3)
        .select("doc", F.explode(F.array_distinct(grams)).alias("g"))
    )
    h = F.pmod(
        F.conv(F.substring(F.md5("g"), 1, 8), 16, 10).cast("long"),
        F.lit(2147483648),
    )
    votes = (
        sh.select("doc", h.alias("h"))
        .groupBy("doc")
        .agg(
            *[
                F.sum(
                    F.when(
                        F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1,
                        1,
                    ).otherwise(-1)
                ).alias(f"v{j}")
                for j in range(16)
            ]
        )
    )
    fp = sum(
        F.when(F.col(f"v{j}") > 0, F.lit(1 << j)).otherwise(0)
        for j in range(16)
    )
    return (
        votes.select("doc", fp.cast("long").alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc").alias("survivor_id"),
        )
        .filter(F.col("n_docs") >= 2)
    )
