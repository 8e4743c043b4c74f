"""Pure-expression reference encoders for the ANN core
(``philotes_spark.similarity.ann.encode``): the original JVM forms, no
Python anywhere, kept as ground truth for the Arrow encoder's
row-identical pins in test_similarity_recall.py. Every step is a
higher-order function, so each row costs n_centroids × dim (and
m × ks × sub) interpreted lambda steps: too slow to serve, exact enough
to pin against.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from philotes_spark.similarity.knn import as_double, dot, l2_norm


def _centroid_lit(centroids: list[list[float]]) -> Column:
    # one nested-array Literal node — NOT array(array(lit,...)) which
    # expands to n_centroids × dim AST nodes and dominates codegen time
    return F.lit([[float(w) for w in c] for c in centroids])


def _books_lit(books: list[list[list[float]]]) -> Column:
    # one 3-level Literal node (m × ks × sub), same reasoning
    return F.lit([[[float(w) for w in c] for c in b] for b in books])


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


def _codes(vecs: Column, books: list[list[list[float]]]) -> Column:
    """Per subspace of ``vecs``, the index of the L2-nearest codeword:
    argmin = array_position(dists, array_min(dists))."""
    m, sub = len(books), len(books[0][0])
    subs = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda j: F.slice(vecs, j * sub + 1, sub),
    )
    dists = F.zip_with(
        subs,
        _books_lit(books),
        lambda s, book: F.transform(
            book,
            lambda c: F.aggregate(
                F.zip_with(s, c, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, e: acc + e,
            ),
        ),
    )
    return F.transform(
        dists, lambda dv: (F.array_position(dv, F.array_min(dv)) - 1).cast("int")
    )


def encode_pq(
    emb: DataFrame,
    books: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes): each subspace of the unit vector encoded as its
    L2-nearest codeword."""
    v = as_double(F.col(vec_col))
    base = emb.select(F.col(id_col).alias("id"), v.alias("v"), l2_norm(v).alias("nrm"))
    unit = F.transform(F.col("v"), lambda x: x / F.col("nrm"))
    return base.select("id", _codes(unit, books).alias("codes"))


def encode_ivfpq_expr(
    emb: DataFrame,
    centroids: list[list[float]],
    books: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell, codes): nearest coarse cell + PQ codes of the residual."""
    cells = assign_cells(emb, centroids, id_col=id_col, vec_col=vec_col)
    unit = F.transform(F.col("v"), lambda x: x / F.col("nrm"))
    cvec = F.element_at(_centroid_lit(centroids), F.col("cell") + 1)
    resid = F.zip_with(unit, cvec, lambda a, b: a - b)
    return cells.select("id", "cell", _codes(resid, books).alias("codes"))
