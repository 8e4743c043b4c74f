"""MinHash + LSH near-duplicate detection (SURVEY §2C) — the approximate
tier that scales where exact n-gram Jaccard (ngram.py) cannot.

Pipeline (JVM-only — no Python in the hot path):
  per-row shingle hashes (tokens → slices → xxhash64 to 31-bit) → ONE
  ``aggregate`` fold keeping a running k-vector of minima
  (``zip_with``/``least`` against the coefficient array) → signature
  array → band hashes → inverted-index self-join on (band_idx,
  band_hash) → candidate pairs → signature-overlap Jaccard estimate.

Why the single fold: k=128 *separate* ``min((a*h+b)%p)`` aggregate
columns unroll into megabytes of generated Java and spend ~100 s in
Janino at any data size; a ``transform(coeffs, …)`` per-coefficient pass
re-evaluates the shingle pipeline k times once Catalyst collapses the
projections. The fold evaluates each hash exactly once and runs
whole-stage-codegen'd at ~k·|shingles| ops per document. (A pandas_udf
variant was measured too: correct, but it drags an Arrow boundary into
every recomputed plan branch, and concurrent branch stages stampede the
Python worker pool.)

Scale shape: ONE shuffle (candidate join on band hash) — signatures are
a pure projection, no groupBy. Band-hash postings are (long, long) pairs
— bytes, not documents. Hot buckets (boilerplate text) are handled the
same way as ngram.py's df-cut: ``max_bucket_size`` drops degenerate
buckets.

Arithmetic stays inside 63 bits (ANSI-safe): 31-bit shingle hashes,
multipliers < 2^31, so a*h+b < 2^62.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from philotes_spark.functions.text import tokens
from philotes_spark.state import keep

_P = 4294967311  # smallest prime > 2^32


def _coeffs(k: int, seed: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [(rng.randrange(1, 2**31 - 1), rng.randrange(0, 2**31 - 1)) for _ in range(k)]


def _shingle_hashes(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(doc, hs: array<long>) — 31-bit shingle hashes, one xxhash64 pass
    per gram, still a pure projection. Shared by both signature forms so
    their inputs are bit-identical (xxhash64 exists only JVM-side)."""
    t = tokens(F.col(text_col))
    src = df.select(F.col(id_col).alias("doc"), t.alias("t")).filter(
        F.size("t") >= n
    )
    grams = F.transform(
        F.sequence(F.lit(0), F.size("t") - n),
        lambda i: F.array_join(F.slice("t", i + 1, n), " "),
    )
    hs = F.transform(grams, lambda g: F.pmod(F.xxhash64(g), F.lit(2**31)))
    return src.select("doc", hs.alias("hs"))


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 128,
    seed: int = 42,
) -> DataFrame:
    """(doc, sig: array<long> of length k) — zero shuffle. MinHash over
    a multiset equals MinHash over the set (duplicates never change a
    min), so no explode → distinct → groupBy round-trip is needed.

    Two halves (r12): the shingle hashes stay a JVM projection
    (xxhash64 has no Python equivalent here), and the k-vector-of-minima
    fold runs as an Arrow-batched numpy pass — per batch, one flat
    (a·h + b) mod P sweep per coefficient with a segmented
    ``minimum.reduceat`` per document. The arithmetic is EXACTLY the
    expression form's (int64 throughout, a·h+b < 2^62, same P), so
    signatures are bit-identical — pinned in test_minhash_quality.
    The pure-expression fold (kept as
    :func:`minhash_signatures_expr`) evaluates k×|shingles| interpreted
    lambda steps per document — higher-order functions run outside
    whole-stage codegen — which made the signature build the dominant
    cost of dedup_minhash_lsh (~2.3 s of sf0.1 cold). An earlier
    pandas_udf variant was rejected in r05 for dragging an Arrow
    boundary into every recomputed plan branch; that objection died
    when lsh_candidate_pairs started PERSISTING the signatures (the
    boundary now evaluates once).

    r16 (guide §4.2): the boundary moved ``mapInPandas`` →
    ``mapInArrow``. The pandas form materialized every shingle-hash
    array as a Python list of Python ints (one object per gram) plus a
    per-row ``np.asarray`` + concatenate; the Arrow ListArray hands
    numpy its flat int64 values buffer and value lengths zero-copy —
    the same swap that won 31% on text_repetition_stats. Arithmetic is
    unchanged int64 (a·h+b < 2^62, same P, numpy ``%`` ≡ the
    expression form's pmod on non-negative operands), so signatures
    stay BIT-IDENTICAL to ``minhash_signatures_expr`` — the
    test_minhash_quality pin proves it, and dedup_minhash_lsh /
    dedup_semantic rows are unchanged."""
    import numpy as np
    import pyarrow as pa

    ab = _coeffs(k, seed)
    A = np.array([a for a, _ in ab], dtype=np.int64)
    B = np.array([b for _, b in ab], dtype=np.int64)

    def fold(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            hs = batch.column("hs")
            lens = hs.value_lengths().to_numpy(zero_copy_only=False).astype(
                np.int64
            )
            keep = lens > 0
            nk = int(keep.sum())
            if not nk:
                continue
            flat = hs.flatten().to_numpy(zero_copy_only=False).astype(
                np.int64, copy=False
            )
            klens = lens[keep]
            starts = np.zeros(nk, dtype=np.int64)
            np.cumsum(klens[:-1], out=starts[1:])
            sigs = np.empty((nk, len(A)), dtype=np.int64)
            for j in range(len(A)):
                vals = (A[j] * flat + B[j]) % _P
                sigs[:, j] = np.minimum.reduceat(vals, starts)
            # doc ids pass through as their Arrow type untouched
            # (string/decimal ids keep their type; ADVICE r12) — the
            # keep-mask filter stays aligned positionally with sigs
            doc = batch.column("doc").filter(pa.array(keep))
            offs = (np.arange(nk + 1, dtype=np.int32) * len(A)).astype(
                np.int32
            )
            sig = pa.ListArray.from_arrays(offs, pa.array(sigs.ravel()))
            yield pa.RecordBatch.from_arrays([doc, sig], ["doc", "sig"])

    src = _shingle_hashes(df, id_col, text_col, n)
    doc_type = src.schema["doc"].dataType.simpleString()
    return src.mapInArrow(fold, f"doc {doc_type}, sig array<long>")


def minhash_signatures_expr(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 128,
    seed: int = 42,
) -> DataFrame:
    """Pure-expression reference fold (no Python anywhere): one
    ``aggregate`` pass keeping a running k-vector of minima
    (``zip_with``/``least`` against the coefficient array). The hash
    array is evaluated exactly once per document — the nested
    ``transform(coeffs, …)`` alternative re-evaluates the shingle
    pipeline once per coefficient after Catalyst collapses the
    projections; k separate min-columns unroll into megabytes of
    generated Java. Kept as ground truth for the Arrow twin's
    bit-identical pin and for contexts that must stay Python-free."""
    coeffs = F.array(
        *[
            F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
            for a, b in _coeffs(k, seed)
        ]
    )
    init = F.array_repeat(F.lit(_P).cast("long"), k)
    sig = F.aggregate(
        F.col("hs"),
        init,
        lambda acc, h: F.zip_with(
            acc, coeffs, lambda mn, c: F.least(mn, (c["a"] * h + c["b"]) % F.lit(_P))
        ),
    )
    return _shingle_hashes(df, id_col, text_col, n).select(
        "doc", sig.alias("sig")
    )


def lsh_candidate_pairs(
    sig_df: DataFrame,
    bands: int = 32,
    k: int = 128,
    min_est_jaccard: float = 0.5,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Band the signatures, bucket-join, estimate Jaccard from signature
    overlap: (doc_a, doc_b, est_jaccard).

    Plan shape (deliberate, scale-critical):
    - band hashes come from ONE ``transform(sequence, slice)`` expression,
      not ``bands × rows`` inlined element extracts — the inlined form
      generates MB-scale codegen that dominates wall clock;
    - pair generation is ``collect_list`` per surviving bucket + an
      in-array i<j explosion, NOT a postings self-join (r12): the
      semi-join's output is already hash-partitioned on (band, bh), so
      the groupBy adds NO exchange — the self-join's two probe-side
      shuffles and the join stage itself disappear. Same pair set
      (sorted array, x<y slices ≡ doc_a<doc_b), measured row-identical;
      sf1 13.1 → 9.9 s, 17 → 12 jobs. The collect buffer is bounded:
      only buckets the count-filter kept (2..max_bucket_size rows) are
      ever collected — degenerate boilerplate buckets are dropped by the
      COUNT aggregate, whose partial-agg buffer is one long per key;
    - pairs carry 16 bytes each into the dedup shuffle; signatures are
      joined back onto the *deduplicated pairs* (orders of magnitude
      fewer rows than raw bucket candidates);
    - signatures are persisted because three branches (bucket postings,
      both estimate join-backs) would otherwise recompute the
      shingle→minhash pipeline per branch.
    """
    rows = k // bands
    sigs = keep(sig_df)
    band_hashes = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda bi: F.xxhash64(F.slice("sig", bi * rows + 1, rows)),
    )
    banded = sigs.select("doc", F.posexplode(band_hashes).alias("band", "bh"))

    # The count-filter always runs (even with max_bucket_size=None):
    # size-1 buckets yield no pairs, and dropping them BEFORE collect_list
    # keeps the collect buffer bounded to buckets that can produce output.
    sz_ok = F.col("sz") > 1
    if max_bucket_size is not None:
        sz_ok = sz_ok & (F.col("sz") <= max_bucket_size)
    ok = (
        banded.groupBy("band", "bh")
        .agg(F.count(F.lit(1)).alias("sz"))
        .filter(sz_ok)
        .select("band", "bh")
    )
    banded = banded.join(ok, ["band", "bh"], "left_semi")

    if max_bucket_size is None:
        # Uncapped buckets: a degenerate corpus (one huge band bucket,
        # e.g. shared boilerplate) would concentrate the whole bucket in
        # one collect_list row and one task (ADVICE r12), so fall back
        # to the distributed postings self-join — two probe shuffles,
        # but every bucket's pair generation spreads across tasks.
        a = banded.select("band", "bh", F.col("doc").alias("doc_a"))
        b = banded.select("band", "bh", F.col("doc").alias("doc_b"))
        pairs = (
            a.join(b, ["band", "bh"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
            .dropDuplicates(["doc_a", "doc_b"])
        )
    else:
        buckets = banded.groupBy("band", "bh").agg(
            F.array_sort(F.collect_list("doc")).alias("ds")
        )
        pair_arr = F.flatten(
            F.transform(
                F.col("ds"),
                lambda x, i: F.transform(
                    F.slice(F.col("ds"), i + 2, F.size(F.col("ds")) - i - 1),
                    lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
                ),
            )
        )
        pairs = (
            buckets.select(F.explode(pair_arr).alias("p"))
            .select("p.doc_a", "p.doc_b")
            .dropDuplicates(["doc_a", "doc_b"])
        )
    sig_a = sigs.select(F.col("doc").alias("doc_a"), F.col("sig").alias("sig_a"))
    sig_b = sigs.select(F.col("doc").alias("doc_b"), F.col("sig").alias("sig_b"))
    est = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v)
    ) / F.lit(k)
    return (
        pairs.join(sig_a, "doc_a")
        .join(sig_b, "doc_b")
        .withColumn("est_jaccard", F.round(est, 4))
        .filter(F.col("est_jaccard") >= min_est_jaccard)
        .select("doc_a", "doc_b", "est_jaccard")
    )


def minhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 128,
    bands: int = 32,
    min_est_jaccard: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """End-to-end near-dup candidate pairs for the documents table."""
    sigs = minhash_signatures(df, id_col, text_col, n=n, k=k, seed=seed)
    return lsh_candidate_pairs(
        sigs, bands=bands, k=k, min_est_jaccard=min_est_jaccard
    )
