"""One approximate-nearest-neighbor core: IVF, PQ and IVF-PQ are three
settings of the same index (IVFADC, Jégou et al., TPAMI 2011; the FAISS
``IVFx,PQy`` layout).

The index is a coarse quantizer of ``n_cells`` unit centroids and ``m``
per-subspace codebooks of ``ks`` codewords over each unit vector's
residual from its cell's centroid. For a unit query q,

    <q, v>  ≈  <q, centroid[cell]>  +  Σ_j LUT[j][codes[j]]

(asymmetric distance computation, ADC), where LUT[j][c] is the dot of
q's j-th subvector with codeword c of book j: one m×ks table per query,
independent of the cell, so candidates equi-join a broadcast query side
on ``cell``.

Settings (the registered queries pass these values, nothing else):
  IVF-Flat  cells, no codes (``m=0``). The index keeps the float
            vectors, and a query scores exact cosine in its probed cells.
  PQ        codes, no cells (``n_cells=0``). The quantizer is one zero
            centroid: every vector is in cell 0, its residual is the unit
            vector itself, and every query probes that one cell.
  IVF-PQ    both. A query ranks the code rows of its ``n_probe`` cells by
            ADC, keeps the top ``rerank`` and re-ranks those by exact
            cosine, reading float vectors for the shortlist only.

Plan shape at any scale:
  train:  k-means on one bounded driver-side sample (numpy), never a
          corpus scan;
  encode: one ``mapInArrow`` pass over the corpus (a matmul for the cell
          and one distance table per subspace, per Arrow batch), kept as
          the index and reused by every query batch;
  query:  the query rows are a bounded collect; probing, the LUTs and
          the base dots are computed driver-side and broadcast as plain
          data; candidates equi-join on ``cell``; each ranking is one
          ``row_number`` window per query.

Zero-norm vectors have no direction, so cosine against them is 0/0. They
are left out of the training sample, the queries and the candidates: the
``knn.cosine_topk`` convention.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from philotes_spark.similarity.knn import as_double, dot, l2_norm, unit_vector_fold
from philotes_spark.state import keep

SAMPLE_SIZE = 4096  # training rows, whatever the corpus size

Index = tuple[list, "list | None", DataFrame]  # (centroids, books, encoded corpus)


def _nearest(x: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Index of each row's L2-nearest row of ``c`` (the first on ties),
    in the direct (x - c)² form."""
    return ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)


def _kmeans(
    x: np.ndarray, k: int, n_iter: int, rng: np.random.RandomState, cosine: bool
) -> np.ndarray:
    """Lloyd's k-means seeded from ``k`` sample rows: by cosine with unit
    centroids (the coarse quantizer) or by L2 (a PQ codebook)."""
    c = x[rng.choice(len(x), size=min(k, len(x)), replace=False)].copy()
    for _ in range(n_iter):
        assign = (x @ c.T).argmax(axis=1) if cosine else _nearest(x, c)
        for j in range(len(c)):
            members = x[assign == j]
            if len(members):
                mu = members.mean(axis=0)
                c[j] = mu / np.linalg.norm(mu) if cosine else mu
    return c


def train(
    emb: DataFrame,
    n_cells: int = 16,
    m: int = 0,
    ks: int = 16,
    n_iter: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
) -> tuple[list[list[float]], list[list[list[float]]] | None]:
    """(centroids, books) from one bounded sample of unit vectors and one
    ``RandomState(seed)``: cosine k-means for the ``n_cells`` coarse
    centroids (one zero centroid when ``n_cells`` is 0), then, when ``m``
    is set, L2 k-means of ``ks`` codewords in each of the ``m`` subspaces
    of the residuals (``books`` is None when ``m`` is 0).

    The sample is the first ``SAMPLE_SIZE`` rows of the plain scan, so
    the result depends on scan order: train on an unrepartitioned
    DataFrame."""
    rows = (
        emb.select(as_double(F.col(vec_col)).alias("v"))
        .limit(SAMPLE_SIZE)
        .collect()
    )
    x = np.asarray([r.v for r in rows], dtype=np.float64)
    nrm = np.linalg.norm(x, axis=1, keepdims=True)
    live = nrm[:, 0] > 0
    x = x[live] / nrm[live]
    d = x.shape[1]
    if m and d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    rng = np.random.RandomState(seed)
    c = _kmeans(x, n_cells, n_iter, rng, cosine=True) if n_cells else np.zeros((1, d))
    if not m:
        return c.tolist(), None
    r = x - c[(x @ c.T).argmax(axis=1)]
    sub = d // m
    books = [
        _kmeans(r[:, j * sub : (j + 1) * sub], ks, n_iter, rng, cosine=False).tolist()
        for j in range(m)
    ]
    return c.tolist(), books


def encode(
    emb: DataFrame,
    centroids: list[list[float]],
    books: list[list[list[float]]] | None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The index's corpus side, one ``mapInArrow`` pass: each vector's
    nearest cell (the first maximal cosine) and, with ``books``, the PQ
    codes of its residual (the first L2-nearest codeword per subspace):
    ``(id, cell, codes)``. Without ``books`` (IVF-Flat) the float vectors
    stay in the index for exact scoring: ``(id, v, nrm, cell)``, where
    ``nrm`` is the JVM ``l2_norm``, the expression every exact cosine of
    this package uses. Zero-norm vectors are left out.

    Each Arrow batch is a few numpy matmuls instead of the expression
    form's n_centroids × dim (and m × ks × sub) interpreted lambda steps
    per row. Numpy's pairwise sums drift ~1e-15 from the JVM's
    sequential fold and ties break alike (first extremum), so the cells
    and codes match the expression references in
    ``tests/ann_reference.py`` row for row on the fixtures."""
    C = np.asarray(centroids, dtype=np.float64)
    B = None if books is None else np.asarray(books, dtype=np.float64)

    def score(batch, U):
        cells = (U @ C.T).argmax(axis=1)
        cell = pa.array(cells.astype(np.int32))
        if B is None:
            yield pa.RecordBatch.from_arrays(
                [batch.column("id"), batch.column("v"), cell], ["id", "v", "cell"]
            )
            return
        R = U - C[cells]
        m, sub = B.shape[0], B.shape[2]
        # per subspace, the first L2-nearest codeword: _nearest, inlined
        # because this closure runs on workers without the package
        codes = np.stack(
            [
                ((R[:, None, j * sub : (j + 1) * sub] - B[j][None, :, :]) ** 2)
                .sum(axis=2)
                .argmin(axis=1)
                for j in range(m)
            ],
            axis=1,
        ).astype(np.int32)
        offs = np.arange(len(codes) + 1, dtype=np.int32) * m
        yield pa.RecordBatch.from_arrays(
            [batch.column("id"), cell, pa.ListArray.from_arrays(offs, pa.array(codes.ravel()))],
            ["id", "cell", "codes"],
        )

    src = emb.select(F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v"))
    id_type = src.schema["id"].dataType.simpleString()
    if B is None:
        folded = src.mapInArrow(unit_vector_fold(score), f"id {id_type}, v array<double>, cell int")
        return folded.select("id", "v", l2_norm(F.col("v")).alias("nrm"), "cell")
    return src.mapInArrow(unit_vector_fold(score), f"id {id_type}, cell int, codes array<int>")


def build(
    emb: DataFrame,
    n_cells: int = 16,
    m: int = 0,
    ks: int = 16,
    n_iter: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    encode_df: DataFrame | None = None,
) -> Index:
    """Train and encode once: ``(centroids, books, encoded corpus)``, the
    corpus kept in the session's store (``state.release`` it to drop the
    index). Training samples ``emb``'s plain scan; the encode is
    row-local, so ``encode_df`` may be a repartitioned scan of the same
    table (``catalog.load_table_parallel``) for a parallel encode."""
    centroids, books = train(emb, n_cells, m, ks, n_iter, seed, vec_col)
    coded = encode(emb if encode_df is None else encode_df, centroids, books, id_col, vec_col)
    return centroids, books, keep(coded)


def _ranked(scored: DataFrame, by: str, n: int) -> DataFrame:
    """The top ``n`` rows per query by ``by`` (desc, then neighbor_id)."""
    w = Window.partitionBy("query_id").orderBy(F.desc(by), "neighbor_id")
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= n)


def _top(scored: DataFrame, by: str, k: int, name: str) -> DataFrame:
    return _ranked(scored, by, k).select(
        "query_id", "neighbor_id", F.round(by, 4).alias(name), "rank"
    )


def topk(
    emb: DataFrame,
    query_ids: list[int],
    index: Index,
    k: int = 10,
    n_probe: int = 4,
    rerank: int | None = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k over ``index`` (from :func:`build`):
    ``(query_id, neighbor_id, cosine_sim, rank)``.

    Each query probes its ``n_probe`` nearest cells (desc cosine, the
    higher cell first on ties). Without codes the probed cells' vectors
    score by exact cosine. With codes they rank by ADC; ``rerank`` keeps
    that many per query and re-ranks them by exact cosine, and
    ``rerank=None`` returns the ADC ranking as ``est_cosine``.

    ``corpus`` (filtered search): only vectors present in it are
    candidates. The index stays built on the full corpus, one index for
    every predicate, and the filter is a semi-join on the encoded rows
    before scoring, so for a selective predicate raise ``n_probe``.
    Queries resolve from the full corpus."""
    centroids, books, coded = index
    C = np.asarray(centroids, dtype=np.float64)
    v = as_double(F.col(vec_col))
    # an IVF-Flat index holds the vectors: reading the queries from it
    # also materializes it, in the one pass the query read needs anyway
    vecs = coded if books is None else emb.select(
        F.col(id_col).alias("id"), v.alias("v"), l2_norm(v).alias("nrm")
    )
    qrows = (
        vecs.filter(F.col("id").isin(query_ids)).select("id", "v", "nrm").collect()
    )  # bounded: |query_ids| rows
    schema = "query_id long, qv array<double>, qn double, cell int"
    if books is not None:
        B = np.asarray(books, dtype=np.float64)  # (m, ks, sub)
        m, ks, sub = B.shape
        schema += ", lut array<array<double>>, base double"
    q_out = []
    for r in qrows:
        qn = float(r.nrm)
        if qn == 0:
            continue  # a zero-norm query has no direction
        qv = np.asarray(r.v, dtype=np.float64)
        u = qv / qn
        sims = u @ C.T
        probed = np.lexsort((-np.arange(len(C)), -sims))[:n_probe]
        q = (int(r.id), [float(x) for x in qv], qn)
        if books is None:
            q_out.extend((*q, int(cell)) for cell in probed)
            continue
        lut = [
            [float(u[j * sub : (j + 1) * sub] @ B[j][ci]) for ci in range(ks)]
            for j in range(m)
        ]
        q_out.extend((*q, int(cell), lut, float(sims[cell])) for cell in probed)
    probes = emb.sparkSession.createDataFrame(q_out, schema)

    cand = coded.withColumnRenamed("id", "neighbor_id")
    if corpus is not None:
        cand = cand.join(
            corpus.select(F.col(id_col).alias("neighbor_id")), "neighbor_id", "left_semi"
        )
    pairs = cand.join(F.broadcast(probes), "cell").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    exact = dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    if books is None:
        flat = pairs.withColumnsRenamed({"v": "cv", "nrm": "cn"})
        return _top(flat.withColumn("sim", exact), "sim", k, "cosine_sim")
    est = F.col("base") + F.aggregate(
        F.zip_with("codes", "lut", lambda cj, row: F.element_at(row, cj + 1)),
        F.lit(0.0),
        lambda acc, e: acc + e,
    )
    adc = pairs.withColumn("est", est)
    if rerank is None:
        return _top(adc, "est", k, "est_cosine")
    shortlist = _ranked(adc, "est", rerank).select("query_id", "qv", "qn", "neighbor_id")
    cvec = emb.select(F.col(id_col).alias("neighbor_id"), v.alias("cv"), l2_norm(v).alias("cn"))
    return _top(shortlist.join(cvec, "neighbor_id").withColumn("sim", exact), "sim", k, "cosine_sim")
