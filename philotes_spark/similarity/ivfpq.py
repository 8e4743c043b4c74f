"""IVF-PQ approximate nearest neighbor — the combined production ANN
layout (FAISS ``IVFx,PQy``; Jégou et al. 2011 §IV): an inverted-file
coarse quantizer prunes WHICH corpus rows are scored, product-quantized
RESIDUAL codes shrink WHAT is read to score them. The two tiers compose:
IVF alone (similarity/ivf.py) still reads float vectors inside probed
cells; PQ alone (similarity/pq.py) scans every code row. IVF-PQ probes
``n_probe`` cells and scores only their code rows — at 100 TB that is
the difference between touching ~n_probe/n_centroids of 8-byte codes vs
either full-corpus anything.

Residual encoding is the load-bearing detail: each unit vector is
encoded as PQ codes of (v − centroid[cell]), so for a unit query q

    <q, v>  ≈  <q, centroid[cell]>  +  <q, reconstruction(residual)>
            =  base(cell)           +  Σ_j LUT[j][codes[j]]

with the LUT built from q's subvectors against the SHARED residual
codebooks — one m×ks table per query, cell-independent, so the probe
join stays an equi-join on cell with a broadcast query side.

Plan shape at 100 TB:
  train:  centroids + residual codebooks from ONE bounded driver-side
          sample (numpy) — never a corpus scan;
  encode: one corpus projection producing (cell, codes) — the index
          build, persisted and reused across query batches;
  query:  probe_cells explodes each query to n_probe (query, cell) rows
          (broadcast-sized); candidates equi-join on cell; ADC score is
          a pure expression over the codes column; optional exact
          re-rank reads float vectors for the top-R candidates only.

Reference scope note: the reference platform has no ANN surface at all
(SURVEY §2C north-star tier); this module exists for the LLM-pipeline
mandate, not Go parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from philotes_spark.similarity.ivf import _centroid_lit, assign_cells
from philotes_spark.similarity.knn import as_double, dot, l2_norm
from philotes_spark.similarity.pq import _books_lit
from philotes_spark.state import keep


def train_ivfpq(
    emb: DataFrame,
    n_centroids: int = 16,
    m: int = 8,
    ks: int = 16,
    vec_col: str = "embedding",
    sample_size: int = 4096,
    n_iter: int = 8,
    seed: int = 42,
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """(centroids, residual codebooks) from ONE bounded sample: k-means
    the unit sample for the coarse quantizer, then per-subspace k-means
    on the sample's residuals — the same driver-side training budget as
    the single-tier indexes, one collect instead of two."""
    import numpy as np

    rows = (
        emb.select(as_double(F.col(vec_col)).alias("v"))
        .limit(sample_size)
        .collect()
    )
    x = np.asarray([r.v for r in rows], dtype=np.float64)
    x = x / np.linalg.norm(x, axis=1, keepdims=True)
    d = x.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    rng = np.random.RandomState(seed)

    # coarse quantizer (same loop as ivf.train_centroids, shared sample)
    c = x[rng.choice(len(x), size=min(n_centroids, len(x)), replace=False)].copy()
    for _ in range(n_iter):
        assign = (x @ c.T).argmax(axis=1)
        for j in range(len(c)):
            members = x[assign == j]
            if len(members):
                mu = members.mean(axis=0)
                c[j] = mu / np.linalg.norm(mu)

    # residual codebooks (same per-subspace loop as pq.train_pq_codebooks,
    # but over residuals — the IVFPQ pairing)
    r = x - c[(x @ c.T).argmax(axis=1)]
    sub = d // m
    books: list[list[list[float]]] = []
    for j in range(m):
        rs = r[:, j * sub : (j + 1) * sub]
        cb = rs[rng.choice(len(rs), size=min(ks, len(rs)), replace=False)].copy()
        for _ in range(n_iter):
            d2 = ((rs[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for ci in range(len(cb)):
                members = rs[assign == ci]
                if len(members):
                    cb[ci] = members.mean(axis=0)
        books.append(cb.tolist())
    return c.tolist(), books


def encode_ivfpq(
    emb: DataFrame,
    centroids: list[list[float]],
    books: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell, codes): nearest coarse cell + PQ codes of the residual
    — the index build, one corpus pass, no shuffle. Persist the result
    to amortize across query batches.

    Served by an Arrow-batched numpy scorer (r12): the expression form
    (kept below as :func:`encode_ivfpq_expr`, the reference the
    determinism test pins against) evaluates m×ks×sub ≈ 1024 interpreted
    lambda steps per row — Spark's higher-order functions
    (transform/aggregate) run interpreted, outside whole-stage codegen —
    which dominated the sf0.1 cold build (~4.8 s of the headline, the
    r11 'non-oracle trio' growth). Per Arrow batch this is two numpy
    matmuls (cell assign + per-subspace codeword distances): measured
    sf0.1 cold ivfpq_topk 4.76 → see PERF.md r12. Ties break identically
    (both argmin pick the FIRST minimal codeword); float drift between
    the sequential fold and numpy's pairwise sums is ~1e-15 — the
    row-identical pin in tests/test_similarity_recall.py holds.

    r16 (guide §4.2): the boundary moved ``mapInPandas`` →
    ``mapInArrow`` — the pandas form materialized every (already
    double-cast) embedding as a Python list of floats before numpy saw
    it; the Arrow ListArray hands numpy its flat float64 values buffer
    zero-copy and codes leave as one ListArray built from the flat
    int32 matrix. Arithmetic untouched — the row-identical pin vs
    :func:`encode_ivfpq_expr` still proves bit-equality."""
    import numpy as np
    import pyarrow as pa

    C = np.asarray(centroids, dtype=np.float64)  # (n_centroids, d)
    B = np.asarray(books, dtype=np.float64)  # (m, ks, sub)
    m, sub = B.shape[0], B.shape[2]

    def encode(batches):
        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            col = batch.column("v")
            lens = col.value_lengths().to_numpy(zero_copy_only=False)
            M = (
                col.flatten()
                .to_numpy(zero_copy_only=False)
                .astype(np.float64, copy=False)
                .reshape(n, int(lens[0]))
            )
            nrm = np.linalg.norm(M, axis=1)
            safe = np.where(nrm == 0, 1.0, nrm)
            U = M / safe[:, None]
            cells = (U @ C.T).argmax(axis=1)
            R = U - C[cells]  # residuals (n, d)
            codes = np.empty((n, m), dtype=np.int32)
            for j in range(m):
                rs = R[:, j * sub : (j + 1) * sub]  # (n, sub)
                # direct (rs - cb)² form, same arithmetic as the
                # expression reference (drift-minimal); (n, ks, sub) is
                # bounded by the Arrow batch size
                d2 = ((rs[:, None, :] - B[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d2.argmin(axis=1)
            offs = (np.arange(n + 1, dtype=np.int32) * m).astype(np.int32)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("id"),
                    pa.array(cells.astype(np.int32)),
                    pa.ListArray.from_arrays(offs, pa.array(codes.ravel())),
                ],
                ["id", "cell", "codes"],
            )

    v = as_double(F.col(vec_col))
    return emb.select(F.col(id_col).alias("id"), v.alias("v")).mapInArrow(
        encode, "id long, cell int, codes array<int>"
    )


def encode_ivfpq_expr(
    emb: DataFrame,
    centroids: list[list[float]],
    books: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Pure-expression reference encode (no Python anywhere): the
    original JVM form, kept as ground truth for the Arrow twin's
    row-identical pin and for contexts that must stay Python-free."""
    m, sub = len(books), len(books[0][0])
    cells = assign_cells(emb, centroids, id_col=id_col, vec_col=vec_col)
    unit = F.transform(F.col("v"), lambda x: x / F.col("nrm"))
    cvec = F.element_at(_centroid_lit(centroids), F.col("cell") + 1)
    resid = F.zip_with(unit, cvec, lambda a, b: a - b)
    subs = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda j: F.slice(resid, j * sub + 1, sub),
    )
    dists = F.zip_with(
        subs,
        _books_lit(books),
        lambda s, book: F.transform(
            book,
            lambda cw: F.aggregate(
                F.zip_with(s, cw, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, e: acc + e,
            ),
        ),
    )
    codes = F.transform(
        dists, lambda dv: (F.array_position(dv, F.array_min(dv)) - 1).cast("int")
    )
    return cells.select("id", "cell", codes.alias("codes"))


def build_ivfpq_index(
    emb: DataFrame,
    n_centroids: int = 16,
    m: int = 8,
    ks: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    encode_df: DataFrame | None = None,
) -> tuple[list[list[float]], list[list[list[float]]], DataFrame]:
    """Train + encode once: (centroids, books, persisted coded corpus).
    The coded corpus is kept in the session's store (``state.keep``). ``encode_df`` (r17): training keeps the
    plain scan's ``limit`` order (byte-stable codebooks); the encode is
    a row-local projection, so callers may pass a repartitioned scan for
    parallelism — see ivf.build_index."""
    centroids, books = train_ivfpq(
        emb, n_centroids=n_centroids, m=m, ks=ks, vec_col=vec_col, seed=seed
    )
    coded = encode_ivfpq(
        emb if encode_df is None else encode_df,
        centroids,
        books,
        id_col=id_col,
        vec_col=vec_col,
    )
    return centroids, books, keep(coded)


def ivfpq_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 8,
    ks: int = 16,
    rerank: int | None = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    index: tuple[list[list[float]], list[list[list[float]]], DataFrame] | None = None,
) -> DataFrame:
    """ADC top-k over probed cells: (query_id, neighbor_id,
    est_cosine | cosine_sim, rank). Pass ``index`` from
    ``build_ivfpq_index`` to skip training + the corpus encode (the
    serving shape: build once, query many). With ``rerank`` set, the
    top-``rerank`` ADC candidates are re-scored with exact cosine
    (float reads for candidates only)."""
    if index is None:
        index = build_ivfpq_index(
            emb,
            n_centroids=n_centroids,
            m=m,
            ks=ks,
            id_col=id_col,
            vec_col=vec_col,
            seed=seed,
        )
    centroids, books, coded = index

    # Query-side prep (probe cells + base dots + the per-query LUT) is
    # computed driver-side in numpy from the SAME bounded |query_ids|
    # collect the expression form needed anyway (r12): the broadcast q
    # becomes plain data instead of a deep transform/zip_with/aggregate
    # tree over the codebook literals, dropping that tree's analysis +
    # codegen cost from every query batch. Corpus-side work is
    # unchanged: equi-join on cell against the broadcast q, ADC fold
    # per candidate, exact re-rank for the top-R only. Tie rules match
    # probe_cells exactly (desc sim, HIGHER cell index first — its
    # reverse(array_sort) order); results pinned row-identical in
    # tests/test_similarity_recall.py.
    import numpy as np

    C = np.asarray(centroids, dtype=np.float64)
    B = np.asarray(books, dtype=np.float64)  # (m, ks, sub)
    m, ks, sub = B.shape
    qrows = (
        emb.filter(F.col(id_col).isin(query_ids))
        .select(F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v"))
        .collect()
    )  # bounded: |query_ids| rows
    q_out = []
    for r in qrows:
        qv = np.asarray(r.v, dtype=np.float64)
        qn = float(np.linalg.norm(qv))
        if qn == 0:
            continue  # directionless query: no defined neighbors
        u = qv / qn
        sims = u @ C.T
        order = np.lexsort((-np.arange(len(C)), -sims))[:n_probe]
        lut = [
            [float(u[j * sub : (j + 1) * sub] @ B[j][ci]) for ci in range(ks)]
            for j in range(m)
        ]
        q_out.extend(
            (int(r.id), [float(x) for x in qv], qn, int(cell), lut,
             float(sims[cell]))
            for cell in order
        )
    spark = emb.sparkSession
    q = spark.createDataFrame(
        q_out,
        "query_id long, qv array<double>, qn double, cell int, "
        "lut array<array<double>>, base double",
    )

    est = F.col("base") + F.aggregate(
        F.zip_with(
            F.col("codes"), F.col("lut"), lambda cj, row: F.element_at(row, cj + 1)
        ),
        F.lit(0.0),
        lambda acc, e: acc + e,
    )
    scored = (
        coded.join(F.broadcast(q), "cell")
        .filter(F.col("id") != F.col("query_id"))
        .withColumn("est", est)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("est"), "id")
    if rerank is None:
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(
                "query_id",
                F.col("id").alias("neighbor_id"),
                F.round("est", 4).alias("est_cosine"),
                "rank",
            )
        )
    cand = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= rerank)
        .select("query_id", "qv", "qn", F.col("id").alias("neighbor_id"))
    )
    v = as_double(F.col(vec_col))
    cvec = emb.select(
        F.col(id_col).alias("neighbor_id"), v.alias("cv"), l2_norm(v).alias("cn")
    )
    exact = cand.join(cvec, "neighbor_id").withColumn(
        "sim", dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("sim"), "neighbor_id")
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("sim", 4).alias("cosine_sim"),
            "rank",
        )
    )
