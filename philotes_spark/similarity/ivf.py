"""IVF (inverted-file) approximate nearest neighbor — the cluster-pruned
scale path beside lsh_topk (SURVEY §2C).

Index shape (classic IVF-Flat, e.g. the FAISS scheme):
  train: k-means centroids on a BOUNDED sample (driver-side numpy — at any
         corpus scale the training sample stays ~`sample_size` rows; this
         is the standard IVF training path, not a driver-side corpus scan);
  assign: every corpus vector → nearest centroid, computed as one JVM
         expression over the broadcast centroid literal (no shuffle — a
         projection on the scan);
  probe: each query expands to its `n_probe` closest centroid lists; the
         candidate join is equi on `cell`, so the corpus is never
         cross-joined; exact cosine re-ranks within probed cells.

At 100 TB the corpus-side work is: one projection (cell id) + one shuffle
by cell for the join. Recall tunes with n_probe/n_centroids, not data
scanned. All vector math is whole-stage-codegen'd (`transform`/
`aggregate`); Python appears only in centroid training on the sample.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from philotes_spark.similarity.knn import as_double, dot, l2_norm
from philotes_spark.state import keep


def train_centroids(
    emb: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    sample_size: int = 4096,
    n_iter: int = 8,
    seed: int = 42,
) -> list[list[float]]:
    """K-means(ish) centroids from a bounded sample, L2-normalized so
    nearest-by-dot == nearest-by-cosine."""
    import numpy as np

    rows = (
        emb.select(as_double(F.col(vec_col)).alias("v"))
        .limit(sample_size)
        .collect()
    )
    x = np.asarray([r.v for r in rows], dtype=np.float64)
    x = x / np.linalg.norm(x, axis=1, keepdims=True)
    rng = np.random.RandomState(seed)
    c = x[rng.choice(len(x), size=min(n_centroids, len(x)), replace=False)].copy()
    for _ in range(n_iter):
        sims = x @ c.T  # cosine == dot on normalized vectors
        assign = sims.argmax(axis=1)
        for j in range(len(c)):
            members = x[assign == j]
            if len(members):
                m = members.mean(axis=0)
                c[j] = m / np.linalg.norm(m)
    return c.tolist()


def _centroid_lit(centroids: list[list[float]]) -> Column:
    # one nested-array Literal node — NOT array(array(lit,...)) which
    # expands to n_centroids × dim AST nodes and dominates codegen time
    return F.lit([[float(w) for w in c] for c in centroids])


def assign_cells(
    emb: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, v, nrm, cell): nearest-centroid cell id as a pure projection."""
    v = as_double(F.col(vec_col))
    base = emb.select(F.col(id_col).alias("id"), v.alias("v"), l2_norm(v).alias("nrm"))
    unit = F.transform(F.col("v"), lambda x: x / F.col("nrm"))
    sims = F.transform(_centroid_lit(centroids), lambda c: dot(unit, c))
    cell = (F.array_position(sims, F.array_max(sims)) - 1).cast("int")
    return base.withColumn("cell", cell)


def assign_cells_arrow(
    emb: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow-batched twin of :func:`assign_cells` for the index-build
    encode pass (r17, guide §4.2). The expression form evaluates
    n_centroids × dim interpreted lambda steps per row — higher-order
    functions run outside whole-stage codegen — which made the corpus
    assignment the dominant cold cost of the IVF build (sf1: 4.0 s of a
    4.1 s build). Per Arrow batch this is ONE numpy matmul + argmax —
    the exact cell rule :func:`encode_ivfpq` already uses, with the same
    precedent: numpy's pairwise dot sums drift ~1e-15 from the
    sequential JVM fold, ties break identically (both pick the FIRST
    maximal cell), and the fixture corpora are pinned cell-identical in
    tests/test_similarity_recall.py. ``v`` passes through Arrow
    untouched and ``nrm`` is recomputed JVM-side after the fold, so
    every downstream cosine is bit-identical to the expression path —
    only the cell id itself comes from numpy.

    Zero-norm vectors: the expression form raises under ANSI mode
    (division by zero building the unit vector); this form assigns them
    deterministically to the first cell instead (same safe-divide as
    encode_ivfpq). No fixture contains one; queries exclude
    directionless vectors regardless."""
    import numpy as np
    import pyarrow as pa

    C = np.asarray(centroids, dtype=np.float64)

    def assign(batches):
        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            col = batch.column("v")
            lens = col.value_lengths().to_numpy(zero_copy_only=False)
            # the reshape below trusts one shared length: a ragged or
            # null vector whose lengths happen to sum to n*lens[0] would
            # shift every later row into the wrong cell
            if col.null_count or (lens != lens[0]).any():
                raise ValueError(
                    "assign_cells_arrow needs non-null vectors of one "
                    f"length; got lengths {sorted(set(lens.tolist()))} "
                    f"and {col.null_count} null(s) in a batch"
                )
            M = (
                col.flatten()
                .to_numpy(zero_copy_only=False)
                .astype(np.float64, copy=False)
                .reshape(n, int(lens[0]))
            )
            nrm = np.linalg.norm(M, axis=1)
            safe = np.where(nrm == 0, 1.0, nrm)
            cells = ((M / safe[:, None]) @ C.T).argmax(axis=1)
            yield pa.RecordBatch.from_arrays(
                [batch.column("id"), col, pa.array(cells.astype(np.int32))],
                ["id", "v", "cell"],
            )

    v = as_double(F.col(vec_col))
    src = emb.select(F.col(id_col).alias("id"), v.alias("v"))
    id_type = src.schema["id"].dataType.simpleString()
    folded = src.mapInArrow(
        assign, f"id {id_type}, v array<double>, cell int"
    )
    # nrm from the SAME JVM expression as assign_cells: downstream
    # scores stay bit-identical to the expression path
    return folded.select("id", "v", l2_norm(F.col("v")).alias("nrm"), "cell")


def probe_cells(
    queries: DataFrame,
    centroids: list[list[float]],
    n_probe: int,
) -> DataFrame:
    """Expand each query row to its n_probe nearest cells: one row per
    (query, cell). Sort-by-similarity is expressed with array_sort over
    (sim, idx) structs — still a projection."""
    unit = F.transform(F.col("qv"), lambda x: x / F.col("qn"))
    sims = F.transform(_centroid_lit(centroids), lambda c: dot(unit, c))
    pairs = F.zip_with(
        sims,
        F.sequence(F.lit(0), F.lit(len(centroids) - 1)),
        lambda s, i: F.struct(s.alias("sim"), i.alias("idx")),
    )
    probed = F.slice(F.reverse(F.array_sort(pairs)), 1, n_probe)
    return queries.withColumn(
        "cell", F.explode(F.transform(probed, lambda p: p["idx"].cast("int")))
    )


def build_index(
    emb: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    centroids: list[list[float]] | None = None,
    encode_df: DataFrame | None = None,
) -> tuple[list[list[float]], DataFrame]:
    """Build the IVF index once: (centroids, persisted cell assignment).
    This is the amortized half of IVF — train + one corpus projection —
    reused across every subsequent query batch. The cells are kept in
    the session's store (``state.keep``): ``state.release`` them to drop
    the index.

    ``encode_df`` (r17, VERDICT r16 #5): the two passes have different
    ordering contracts. Training samples with ``limit`` — its row order
    must stay the plain scan's so centroids are byte-stable across
    builds — while the encode pass is a row-local projection whose
    output is partitioning-independent, so callers may hand it a
    repartitioned scan (``catalog.load_table_parallel``) to lift the
    per-row lambda evaluation off a single task on row-group-starved
    layouts. Defaults to ``emb`` (identical behavior)."""
    if centroids is None:
        centroids = train_centroids(
            emb, n_centroids=n_centroids, vec_col=vec_col, seed=seed
        )
    cells = assign_cells_arrow(
        emb if encode_df is None else encode_df,
        centroids,
        id_col=id_col,
        vec_col=vec_col,
    )
    return centroids, keep(cells)


def ivf_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    centroids: list[list[float]] | None = None,
    index: tuple[list[list[float]], DataFrame] | None = None,
    corpus: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k via IVF cells: (query_id, neighbor_id,
    cosine_sim, rank). Pass ``index`` from build_index to skip both
    training and the corpus assignment scan (the production shape:
    build once, query many).

    ``corpus`` (r13, filtered ANN at scale): when given, only vectors
    present in it are candidates — the index stays built on the FULL
    corpus (one index serves every predicate; rebuilding per filter
    would defeat the amortization), and the filter lands as a semi-join
    on the posting lists BEFORE scoring, so a probed cell contributes
    only qualifying vectors. This is pre-filter search over an
    unfiltered index; for very selective predicates raise ``n_probe``
    (fewer qualifying candidates per cell ⇒ recall needs more cells) —
    the brute-force pre-filter twin (``cosine_topk_arrow(corpus=...)``)
    is the exact fallback when the predicate leaves little behind.
    Queries still resolve from the full index."""
    if index is None:
        index = build_index(
            emb,
            n_centroids=n_centroids,
            id_col=id_col,
            vec_col=vec_col,
            seed=seed,
            centroids=centroids,
        )
    centroids, cells = index
    # driver-side probe prep (r12, same pattern as ivfpq_topk): the
    # query set is a BOUNDED collect either way, so the n_probe nearest
    # cells per query are picked in numpy and the broadcast side becomes
    # plain data — probe_cells' array_sort-over-structs tree (and its
    # analysis/codegen cost on every cold build) drops out of the plan.
    # Tie rule matches probe_cells exactly (desc sim, higher cell index
    # first); zero-norm queries are directionless and excluded, the
    # cosine_topk convention.
    import numpy as np

    C = np.asarray(centroids, dtype=np.float64)
    qrows = cells.filter(F.col("id").isin(query_ids)).select(
        "id", "v", "nrm"
    ).collect()  # bounded: |query_ids| rows
    q_out = []
    for r in qrows:
        qn = float(r.nrm)
        if qn == 0:
            continue
        qv = np.asarray(r.v, dtype=np.float64)
        sims = (qv / qn) @ C.T
        order = np.lexsort((-np.arange(len(C)), -sims))[:n_probe]
        q_out.extend(
            (int(r.id), [float(x) for x in qv], qn, int(cell))
            for cell in order
        )
    probed = emb.sparkSession.createDataFrame(
        q_out, "query_id long, qv array<double>, qn double, cell int"
    )
    cand = cells.select(
        F.col("id").alias("neighbor_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
        "cell",
    )
    if corpus is not None:
        cand = cand.join(
            corpus.select(F.col(id_col).alias("neighbor_id")),
            "neighbor_id",
            "left_semi",
        )
    scored = (
        cand.join(F.broadcast(probed), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("sim", 4).alias("cosine_sim"), "rank")
    )
