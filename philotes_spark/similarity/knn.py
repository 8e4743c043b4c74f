"""Similarity search over an embedding column (SURVEY §2C).

Two tiers:
- ``cosine_topk``  — brute-force exact top-k: broadcast the (small) query
  set against the full corpus; dot products computed JVM-side with
  ``zip_with``/``aggregate`` — no Python, no shuffle of the corpus.
- ``lsh_topk``     — the 100 TB path: random-hyperplane LSH buckets both
  sides, the join touches only colliding buckets, exact cosine re-ranks
  within buckets. Probe multiple hash tables for recall.

Vectors are cast float→double before arithmetic so results are stable and
comparable with the DuckDB oracle.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (deterministic summation order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def unit_vector_fold(score):
    """A ``mapInArrow`` function over batches with a vector column ``v``:
    it yields what ``score(batch, U)`` yields for every batch, ``U`` the
    batch's unit vectors as an ``(n, d)`` float64 matrix. Zero-norm rows
    have no direction and are left out of both ``batch`` and ``U``.

    The decode reshapes by one shared length, so a ragged or null vector
    whose lengths happen to sum to ``n * d`` would shift every later row:
    both are refused. The returned closure ships to the Python workers
    by value and calls nothing else of this package."""

    def fold(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            if not batch.num_rows:
                continue
            col = batch.column("v")
            lens = col.value_lengths().to_numpy(zero_copy_only=False)
            if col.null_count or (lens != lens[0]).any():
                raise ValueError(
                    "expected non-null vectors of one length; got lengths "
                    f"{sorted(set(lens.tolist()))} and {col.null_count} "
                    "null(s) in a batch"
                )
            M = (
                col.flatten()
                .to_numpy(zero_copy_only=False)
                .astype(np.float64, copy=False)
                .reshape(len(col), int(lens[0]))
            )
            nrm = np.linalg.norm(M, axis=1)
            live = nrm > 0
            if not live.all():
                batch, M, nrm = batch.filter(pa.array(live)), M[live], nrm[live]
                if not batch.num_rows:
                    continue
            yield from score(batch, M / nrm[:, None])

    return fold


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus: DataFrame | None = None,
) -> DataFrame:
    """Exact top-k neighbors for each query id (excluding self):
    (query_id, neighbor_id, cosine_sim, rank).

    Plan: broadcast-nested-loop of |queries| × corpus — the corpus is
    scanned once, never shuffled; per-query top-k via window on the
    (tiny) scored set partitioned by query.

    ``corpus`` (r13, filtered ANN): when given, candidates come from it
    instead of ``emb`` — the FILTERED search ("nearest neighbors among
    label=1 vectors"), with the predicate already applied on the corpus
    DataFrame so it pushes to the scan; queries still resolve from the
    full ``emb``.

    Zero-norm vectors have no direction, so cosine similarity against
    them is undefined (0/0); they are EXCLUDED from both the query set
    and the candidate set (ADVICE r11 #2 — previously the raw NaN
    sorted FIRST under ``desc``, silently topping every ranking, while
    the Arrow twin mapped the same rows to sim 0.0; both twins now
    share this explicit filter and stay row-identical on any data)."""
    v = as_double(F.col(vec_col))
    base = emb.select(
        F.col(id_col).alias("id"), v.alias("v"), (l2_norm(v)).alias("nrm")
    ).filter(F.col("nrm") > 0)
    queries = base.filter(F.col("id").isin(query_ids)).select(
        F.col("id").alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    cand_src = base if corpus is None else (
        corpus.select(
            F.col(id_col).alias("id"), v.alias("v"), l2_norm(v).alias("nrm")
        ).filter(F.col("nrm") > 0)
    )
    cand = cand_src.select(
        F.col("id").alias("neighbor_id"), F.col("v").alias("cv"), F.col("nrm").alias("cn")
    )
    scored = (
        cand.crossJoin(F.broadcast(queries))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("sim", 4).alias("cosine_sim"),
            "rank",
        )
    )


def cosine_topk_arrow(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus: DataFrame | None = None,
) -> DataFrame:
    """Arrow-batched twin of :func:`cosine_topk` — identical results,
    vectorized scoring. The JVM version's per-element lambda fold
    (``zip_with`` + ``aggregate``) is interpreted per element: at 64
    dims × corpus × |queries| that is tens of millions of interpreted
    steps per scan. Here the 5 query vectors are a bounded driver-side
    collect (same class as the IVF codebook samples), closure-broadcast
    into one Arrow map, and each Arrow batch scores with ONE numpy
    matmul ``(batch / ‖batch‖) @ Qᵀ`` — corpus scanned once, never
    shuffled, no join node at all; only the (|queries| × k)-sized window
    shuffles. Measured at sf1 (interleaved A/B, min-of-4 cold):
    1.25 → 0.60 s. Summation-order float drift vs the sequential fold is
    ~1e-15 against the ROUND(·, 4) the callers apply — the recall suite
    pins the two implementations row-identical on the fixtures.

    r16 (guide §4.2): the boundary moved ``mapInPandas`` →
    ``mapInArrow`` — the pandas form materialized every embedding as a
    Python list of Python floats (``pdf["v"].tolist()``, one object per
    element) before numpy saw it; the Arrow ListArray hands numpy its
    flat float values buffer and value lengths zero-copy, and the
    result leaves as a RecordBatch instead of a per-batch pandas frame.
    The float32→float64 widening is exact on both paths, so sims are
    bit-identical (the recall pin and the DuckDB oracle hash prove it).

    Zero-norm handling matches :func:`cosine_topk` exactly (ADVICE r11
    #2): directionless vectors are EXCLUDED from queries and candidates
    — previously this twin clamped them to sim 0.0 while the JVM fold's
    0/0 NaN desc-sorted FIRST, so the two diverged on any data
    containing a zero vector.

    ``corpus`` (r13, filtered ANN): when given, the scoring scan runs
    over it instead of ``emb`` — the filter predicate is applied on the
    corpus DataFrame BEFORE this call, so it pushes down to the parquet
    scan and the matmul only ever sees qualifying vectors (pre-filter
    search, the correct plan when the predicate is selective); queries
    still resolve from the full ``emb``.

    :func:`cosine_topk` stays the shuffle-free-of-Python reference
    implementation (ground truth for the ANN recall gates)."""
    import numpy as np
    import pyarrow as pa

    qrows = (
        emb.filter(F.col(id_col).isin(query_ids))
        .select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .collect()
    )  # bounded: |query_ids| rows
    qids = np.array([r.id for r in qrows], dtype=np.int64)
    Q = np.array([r.v for r in qrows], dtype=np.float64).reshape(len(qrows), -1)
    qn = np.linalg.norm(Q, axis=1)
    qids, Q, qn = qids[qn > 0], Q[qn > 0], qn[qn > 0]
    Qn = Q / qn[:, None]
    n_q = len(qids)

    def score(batch, U):
        ids = batch.column("id").to_numpy(zero_copy_only=False)
        n = len(ids)
        sims = U @ Qn.T  # (n, n_q)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(np.tile(qids, n)),
                pa.array(np.repeat(ids.astype(np.int64), n_q)),
                pa.array(sims.ravel()),
            ],
            ["query_id", "neighbor_id", "sim"],
        )

    scored = (
        (emb if corpus is None else corpus)
        .select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .mapInArrow(unit_vector_fold(score), "query_id long, neighbor_id long, sim double")
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("sim", 4).alias("cosine_sim"),
            "rank",
        )
    )


def similarity_pairs(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 16,
) -> DataFrame:
    """All corpus pairs with cosine ≥ threshold (embedding near-dup tier):
    (vec_a, vec_b, cosine_sim). EXACT — every qualifying pair, no
    approximation (the DuckDB oracle twin is the same all-pairs compute).

    Plan shape (VERDICT r03 #4 — formerly a crossJoin): the O(n²)
    comparisons are inherent to the exact tier, but they are expressed as
    a *block-matrix equi-join*, not a cartesian product. Each vector is
    hashed to one of B blocks; the a-side replicates each row to block
    pairs (blk, j≥blk), the b-side to (i≤blk, blk), and the join is a
    plain shuffled equi-join on (ba, bb) — B(B+1)/2 evenly-sized key
    groups, so: no BroadcastNestedLoopJoin/CartesianProduct node, no
    driver-size dependence, per-task memory bounded by (n/B)² scoring a
    (n/B)-row buffered key group, parallelism = block pairs, and AQE can
    split any residual skew. At 100 TB you raise ``n_blocks`` ∝ n so a
    block fits an executor core; the sub-quadratic paths for when exact
    isn't required are ``lsh_topk``/``ann.topk``.

    A pair lands in exactly one block pair: cross-block (i<j) once by
    construction, diagonal (i=i) deduped by requiring raw id order; ids
    are then normalized to vec_a < vec_b via least/greatest."""
    v = as_double(F.col(vec_col))
    base = emb.select(
        F.col(id_col).alias("id"),
        v.alias("v"),
        l2_norm(v).alias("nrm"),
        F.pmod(F.xxhash64(F.col(id_col)), n_blocks).cast("int").alias("blk"),
    )
    a = base.select(
        F.col("id").alias("ida"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
        F.col("blk").alias("ba"),
        F.explode(F.sequence(F.col("blk"), F.lit(n_blocks - 1))).alias("bb"),
    )
    b = base.select(
        F.col("id").alias("idb"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("ba"),
        F.col("blk").alias("bb"),
    )
    return (
        a.join(b, ["ba", "bb"])
        .filter((F.col("ba") != F.col("bb")) | (F.col("ida") < F.col("idb")))
        .withColumn("sim", dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")))
        .filter(F.col("sim") >= threshold)
        .select(
            F.least("ida", "idb").alias("vec_a"),
            F.greatest("ida", "idb").alias("vec_b"),
            F.round("sim", 4).alias("cosine_sim"),
        )
    )


def _hyperplanes(n_planes: int, dim: int, seed: int) -> list[list[float]]:
    """Deterministic Gaussian-ish hyperplanes (Box-Muller-free: sum of
    uniforms is fine for sign hashes)."""
    rng = random.Random(seed)
    return [
        [rng.uniform(-1.0, 1.0) for _ in range(dim)] for _ in range(n_planes)
    ]


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit bucket id for one hash table: bit_p = 1[<v, plane_p> > 0].

    The plane matrix is a single nested-array literal (one AST node);
    the bit-fold runs as one aggregate over (plane, bit-weight) pairs —
    keeps codegen linear in expression count, not in n_planes × dim."""
    plane_lit = F.lit([[float(w) for w in p] for p in planes])
    weights = F.lit([1 << p for p in range(len(planes))])
    bits = F.zip_with(
        plane_lit,
        weights,
        lambda plane, wt: F.when(dot(vec, plane) > 0, wt).otherwise(F.lit(0)),
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, b: acc + b)


def lsh_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: random-hyperplane buckets × n_tables hash tables;
    exact cosine re-rank within colliding buckets.

    At 100 TB: corpus bucket ids are computed once in a projection; the
    join per table is equi on (table, bucket) — no cross join anywhere.
    Recall is tuned by n_tables/n_planes, not by scanning more data."""
    v = as_double(F.col(vec_col))
    base = emb.select(F.col(id_col).alias("id"), v.alias("v"), l2_norm(v).alias("nrm"))
    tables = [
        _hyperplanes(n_planes, dim, seed + 1000 * t) for t in range(n_tables)
    ]
    buckets = F.array(*[lsh_bucket(F.col("v"), planes) for planes in tables])
    bucketed = base.select(
        "id", "v", "nrm", F.posexplode(buckets).alias("tbl", "bucket")
    )
    q = bucketed.filter(F.col("id").isin(query_ids)).select(
        F.col("id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        "tbl",
        "bucket",
    )
    c = bucketed.select(
        F.col("id").alias("neighbor_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
        "tbl",
        "bucket",
    )
    scored = (
        c.join(F.broadcast(q), ["tbl", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("sim", dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("sim", 4).alias("cosine_sim"), "rank")
    )


# --- int8-quantized tier (memory-bound scale path) --------------------------


def quantized_cosine_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k by cosine over int8-quantized vectors: (query_id, neighbor_id,
    est_cosine, rank). Same plan shape as the exact tier (broadcast small
    query side × one corpus scan, no corpus shuffle); only the element
    width changes.

    The per-vector max is materialized as its own projected column before
    the quantizing transform — embedding it in the lambda re-evaluates the
    array_max per element (measured 10× slower at d=64)."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    # zero-norm vectors have no defined cosine: drop them explicitly here
    # rather than letting 0/0 nulls silently erase them mid-plan
    pre = (
        emb.select(F.col(id_col).alias("id"), v.alias("v"))
        .withColumn("_mx", F.array_max(F.transform(F.col("v"), lambda x: F.abs(x))))
        .filter(F.col("_mx") > 0)
    )
    qv = F.transform(
        F.col("v"), lambda x: F.round(x * 127.0 / F.col("_mx")).cast("int")
    )
    base = pre.select("id", qv.alias("qv")).select(
        "id", "qv", F.sqrt(dot_int("qv", "qv")).alias("nrm")
    )
    queries = base.filter(F.col("id").isin(query_ids)).select(
        F.col("id").alias("query_id"), F.col("qv").alias("a"), F.col("nrm").alias("na")
    )
    cand = base.select(
        F.col("id").alias("neighbor_id"), F.col("qv").alias("b"), F.col("nrm").alias("nb")
    )
    scored = (
        cand.crossJoin(F.broadcast(queries))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", dot_int("a", "b") / (F.col("na") * F.col("nb")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("sim", 4).alias("est_cosine"),
            "rank",
        )
    )


def dot_int(a, b) -> Column:
    """Integer-accumulator dot product (exact: |q|≤127 ⇒ fits long)."""
    return F.aggregate(
        F.zip_with(F.col(a) if isinstance(a, str) else a,
                   F.col(b) if isinstance(b, str) else b,
                   lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    ).cast("double")
