"""Recall/quality tests for the approximate similarity tiers: the ANN
paths (LSH, IVF) must actually find what the exact path finds — a bucket
scheme with broken recall passes any rows-only check, so pin it here.
"""

import pytest

from philotes_spark.similarity.ivf import assign_cells, ivf_topk, train_centroids
from philotes_spark.similarity.knn import cosine_topk, lsh_topk
from philotes_spark.sources.catalog import load_table

QUERY_IDS = [0, 1, 2, 3, 4]


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


@pytest.fixture(scope="module")
def exact_neighbors(spark, emb):
    rows = cosine_topk(emb, QUERY_IDS, k=10).collect()
    return {
        q: {r.neighbor_id for r in rows if r.query_id == q} for q in QUERY_IDS
    }


def _recall(approx_rows, exact):
    found = {q: set() for q in exact}
    for r in approx_rows:
        if r.query_id in found:
            found[r.query_id].add(r.neighbor_id)
    hits = sum(len(found[q] & exact[q]) for q in exact)
    total = sum(len(exact[q]) for q in exact)
    return hits / total


def test_ivf_recall_beats_random_pruning(emb, exact_neighbors):
    # this corpus is weakly structured (top cosine ≈ 0.33), so absolute
    # recall is data-limited; the index contract is relative: probing
    # 4/16 cells must find well over 4/16 of the true neighbors
    rows = ivf_topk(emb, QUERY_IDS, k=10, n_centroids=16, n_probe=4).collect()
    assert _recall(rows, exact_neighbors) >= 0.40  # random pruning ⇒ 0.25


def test_ivf_half_probe_recall(emb, exact_neighbors):
    rows = ivf_topk(emb, QUERY_IDS, k=10, n_centroids=16, n_probe=8).collect()
    assert _recall(rows, exact_neighbors) >= 0.65


def test_ivf_full_probe_equals_exact(emb, exact_neighbors):
    # probing every cell must reduce IVF to the exact result
    rows = ivf_topk(emb, QUERY_IDS, k=10, n_centroids=8, n_probe=8).collect()
    assert _recall(rows, exact_neighbors) == 1.0


def test_lsh_recall_vs_exact(emb, exact_neighbors):
    # 4 planes × 16 tables: per-table collision ≈ 0.13 for cos≈0.3
    # neighbors → expected recall ≈ 0.9 (measured 0.92)
    rows = lsh_topk(emb, QUERY_IDS, k=10, n_planes=4, n_tables=16).collect()
    assert _recall(rows, exact_neighbors) >= 0.75


def test_ivf_cells_partition_corpus(emb):
    cents = train_centroids(emb, n_centroids=16)
    cells = assign_cells(emb, cents)
    n = emb.count()
    assert cells.count() == n  # assignment is a projection: no row fan-out
    stats = cells.groupBy("cell").count().collect()
    assert len(stats) > 1, "corpus must spread across cells"
    assert max(s["count"] for s in stats) < n, "one cell swallowing all = broken index"


def test_ivf_deterministic(emb):
    a = ivf_topk(emb, QUERY_IDS, k=5, seed=7).collect()
    b = ivf_topk(emb, QUERY_IDS, k=5, seed=7).collect()
    assert a == b


def test_quantized_recall_near_exact(emb, exact_neighbors):
    from philotes_spark.similarity.knn import quantized_cosine_topk

    rows = quantized_cosine_topk(emb, QUERY_IDS, k=10).collect()
    # int8 keeps ~1/127 cosine resolution: near-perfect top-10 agreement
    assert _recall(rows, exact_neighbors) >= 0.9


def test_quantized_estimate_close_to_exact(emb):
    from philotes_spark.similarity.knn import cosine_topk, quantized_cosine_topk

    exact = {
        (r.query_id, r.neighbor_id): float(r.cosine_sim)
        for r in cosine_topk(emb, QUERY_IDS, k=10).collect()
    }
    est = {
        (r.query_id, r.neighbor_id): float(r.est_cosine)
        for r in quantized_cosine_topk(emb, QUERY_IDS, k=10).collect()
    }
    common = set(exact) & set(est)
    assert common, "no overlapping top-k pairs?"
    for p in common:
        assert abs(exact[p] - est[p]) < 0.02  # ~2 LSBs of int8 resolution


# --- product quantization (PQ/ADC) tier --------------------------------------


@pytest.fixture(scope="module")
def pq_books(emb):
    from philotes_spark.similarity.pq import train_pq_codebooks

    return train_pq_codebooks(emb, m=16, ks=16)


def test_pq_adc_recall_beats_chance(emb, exact_neighbors, pq_books):
    """16×16 codes ≈ 16 bytes/vector (16× vs float32): raw ADC ranking (no float reads at
    query time) must still land well above random top-10 (10/499 ≈ 2%)."""
    from philotes_spark.similarity.pq import pq_topk

    rows = pq_topk(emb, QUERY_IDS, pq_books, k=10, rerank=None).collect()
    assert _recall(rows, exact_neighbors) >= 0.35  # measured 0.48


def test_pq_rerank_recovers_exact_ranking(emb, exact_neighbors, pq_books):
    """Exact re-rank of the ADC candidate list is the serving stack:
    candidates=50 → most of exact top-10; candidates=100 → nearly all.
    The returned similarities must BE the exact cosines."""
    from philotes_spark.similarity.knn import cosine_topk
    from philotes_spark.similarity.pq import pq_topk

    r50 = pq_topk(emb, QUERY_IDS, pq_books, k=10, rerank=50).collect()
    assert _recall(r50, exact_neighbors) >= 0.75  # measured 0.90
    r100 = pq_topk(emb, QUERY_IDS, pq_books, k=10, rerank=100).collect()
    assert _recall(r100, exact_neighbors) >= 0.85  # measured 0.96
    exact_sims = {
        (r.query_id, r.neighbor_id): r.cosine_sim
        for r in cosine_topk(emb, QUERY_IDS, k=10).collect()
    }
    for r in r100:
        if (r.query_id, r.neighbor_id) in exact_sims:
            assert abs(r.cosine_sim - exact_sims[(r.query_id, r.neighbor_id)]) < 1e-9


def test_pq_codes_deterministic_and_bounded(emb, pq_books):
    from philotes_spark.similarity.pq import encode_pq

    a = {r.id: tuple(r.codes) for r in encode_pq(emb, pq_books).collect()}
    b = {r.id: tuple(r.codes) for r in encode_pq(emb, pq_books).collect()}
    assert a == b
    assert all(len(c) == 16 and all(0 <= x < 16 for x in c) for c in a.values())


# --- IVF-PQ (combined index) --------------------------------------------------


def test_ivfpq_probe_rerank_recall(emb, exact_neighbors):
    """The serving config (probe 4/16 cells, exact re-rank of ADC top-50)
    must beat IVF-style random-pruning chance by a wide margin."""
    from philotes_spark.similarity.ivfpq import ivfpq_topk

    rows = ivfpq_topk(emb, QUERY_IDS, k=10, n_probe=4, rerank=50).collect()
    assert _recall(rows, exact_neighbors) >= 0.40  # measured 0.50
    rows = ivfpq_topk(emb, QUERY_IDS, k=10, n_probe=8, rerank=100).collect()
    assert _recall(rows, exact_neighbors) >= 0.55  # measured 0.68


def test_ivfpq_full_probe_rerank_near_exact(emb, exact_neighbors):
    """Probing every cell with a deep re-rank approaches exact top-10,
    and the returned similarities ARE the exact cosines — the quality
    ceiling is the ADC candidate list, not the re-scorer. (Measured on
    this corpus: residual-ADC alone ≈ plain-PQ ADC — the fixture's weak
    cluster structure gives residual coding little to remove — but the
    stacked index still wins on bytes touched: n_probe/n_centroids of
    the code rows.)"""
    from philotes_spark.similarity.ivfpq import ivfpq_topk
    from philotes_spark.similarity.knn import cosine_topk

    rows = ivfpq_topk(
        emb, QUERY_IDS, k=10, n_centroids=16, n_probe=16, rerank=200, m=16
    ).collect()
    assert _recall(rows, exact_neighbors) >= 0.85  # measured 0.94
    exact_sims = {
        (r.query_id, r.neighbor_id): r.cosine_sim
        for r in cosine_topk(emb, QUERY_IDS, k=10).collect()
    }
    for r in rows:
        if (r.query_id, r.neighbor_id) in exact_sims:
            assert abs(r.cosine_sim - exact_sims[(r.query_id, r.neighbor_id)]) < 1e-9


def test_ivfpq_index_deterministic_and_bounded(emb):
    from philotes_spark.similarity.ivfpq import build_ivfpq_index

    c1, b1, coded1 = build_ivfpq_index(emb, seed=7)
    c2, b2, coded2 = build_ivfpq_index(emb, seed=7)
    assert c1 == c2 and b1 == b2
    a = {r.id: (r.cell, tuple(r.codes)) for r in coded1.collect()}
    b = {r.id: (r.cell, tuple(r.codes)) for r in coded2.collect()}
    coded1.unpersist(), coded2.unpersist()
    assert a == b
    assert all(0 <= cell < 16 and len(codes) == 8 and all(0 <= x < 16 for x in codes)
               for cell, codes in a.values())


def test_arrow_ivfpq_encode_row_identical_to_expr(emb):
    """The Arrow-batched numpy IVF-PQ encode (r12 — serves
    build_ivfpq_index, removing ~1024 interpreted lambda steps per row)
    is row-identical to the pure-expression reference on the fixture:
    same cell and same m PQ codes for every corpus row. Both argmins
    break ties on the FIRST minimal codeword; drift between the
    sequential fold and numpy's pairwise sums sits far below any
    observed distance gap."""
    from philotes_spark.similarity.ivfpq import (
        encode_ivfpq,
        encode_ivfpq_expr,
        train_ivfpq,
    )

    centroids, books = train_ivfpq(emb, seed=7)
    arrow = {
        r.id: (r.cell, tuple(r.codes))
        for r in encode_ivfpq(emb, centroids, books).collect()
    }
    expr = {
        r.id: (r.cell, tuple(r.codes))
        for r in encode_ivfpq_expr(emb, centroids, books).collect()
    }
    assert arrow == expr


def test_arrow_ivf_assign_row_identical_to_expr(emb):
    """The Arrow-batched numpy cell assignment (r17 — serves
    build_index, removing n_centroids × dim interpreted lambda steps
    per corpus row) is row-identical to the pure-expression
    assign_cells on the fixture: same cell for every corpus row, and
    the (v, nrm) columns it carries downstream are the SAME JVM
    expressions, so every cosine the serving path computes is
    bit-identical. Ties break identically (both pick the FIRST maximal
    cell); numpy's pairwise dot drift (~1e-15) sits far below any
    observed centroid-sim gap."""
    from philotes_spark.similarity.ivf import assign_cells_arrow

    cents = train_centroids(emb, 16)
    expr = {
        r.id: (r.cell, tuple(r.v), r.nrm)
        for r in assign_cells(emb, cents).collect()
    }
    arrow = {
        r.id: (r.cell, tuple(r.v), r.nrm)
        for r in assign_cells_arrow(emb, cents).collect()
    }
    assert arrow == expr


@pytest.mark.parametrize(
    "vecs",
    [
        # lengths 3+2+4 = 3*3: a reshape by the first length "fits"
        [[1.0, 0.0, 0.0], [0.0, 1.0], [0.0, 0.0, 1.0, 1.0]],
        [[1.0, 0.0, 0.0], None, [0.0, 0.0, 1.0]],
    ],
    ids=["ragged", "null"],
)
def test_arrow_ivf_assign_refuses_ragged_or_null_vectors(spark, vecs):
    """One Arrow batch holding vectors of different lengths (or a null
    vector) must fail loudly instead of being reshaped into the wrong
    rows and assigned to the wrong cells."""
    from philotes_spark.similarity.ivf import assign_cells_arrow

    emb = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id long, embedding array<double>"
    ).coalesce(1)
    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]]
    with pytest.raises(Exception, match="non-null vectors of one length"):
        assign_cells_arrow(emb, cents).collect()


def test_arrow_cosine_topk_row_identical_to_jvm(emb):
    """The Arrow-batched numpy scorer (r11 — serves the registered
    sim_cosine_topk) is row-identical to the JVM lambda-fold reference
    on the fixture: same neighbors, same ranks, same ROUND(·,4) sims.
    Summation-order drift between the sequential fold and numpy's
    pairwise matmul sits ~1e-15 under the rounding."""
    from philotes_spark.similarity.knn import cosine_topk_arrow

    jvm = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine_sim)
        for r in cosine_topk(emb, QUERY_IDS, k=10).collect()
    }
    arrow = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine_sim)
        for r in cosine_topk_arrow(emb, QUERY_IDS, k=10).collect()
    }
    assert jvm == arrow


def test_zero_norm_vectors_excluded_identically(spark, emb):
    """ADVICE r11 #2: a zero vector has no direction — cosine against it
    is 0/0. Previously the JVM fold's NaN desc-sorted FIRST (topping
    every ranking) while the Arrow twin clamped it to 0.0, so the twins
    diverged on any data with a zero vector. Both now EXCLUDE zero-norm
    rows from queries and candidates: inject a zero corpus vector and a
    zero QUERY vector and the twins stay row-identical, the zero row
    never appears as a neighbor, and the zero query emits no rows."""
    from pyspark.sql import functions as F

    from philotes_spark.similarity.knn import cosine_topk, cosine_topk_arrow

    dim = len(emb.select("embedding").first()[0])
    zeros = spark.createDataFrame(
        [(100001, [0.0] * dim), (100002, [0.0] * dim)],
        "vec_id long, embedding array<double>",
    ).select("vec_id", F.transform("embedding", lambda x: x.cast("float")).alias("embedding"))
    poisoned = emb.select("vec_id", "embedding").unionByName(zeros)
    qids = QUERY_IDS + [100002]  # one zero-norm QUERY too
    jvm = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine_sim)
        for r in cosine_topk(poisoned, qids, k=10).collect()
    }
    arrow = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine_sim)
        for r in cosine_topk_arrow(poisoned, qids, k=10).collect()
    }
    assert jvm == arrow
    assert jvm  # non-degenerate: the real queries still rank
    assert all(q != 100002 for q, _ in jvm)  # zero query emits nothing
    assert all(n not in (100001, 100002) for n, _ in jvm.values())
    # and the zero rows never top a ranking (the old NaN-first bug)
    assert all(sim == sim for _, sim in jvm.values())  # no NaN survives


def test_filtered_topk_twins_row_identical_and_filtered(emb):
    """Filtered ANN (r13): the pre-filtered Arrow scorer and the JVM
    fold are row-identical under a corpus predicate, every returned
    neighbor satisfies it, and the ranking differs from the unfiltered
    one (the filter is load-bearing on the fixture). Queries resolve
    from the FULL table even when they don't satisfy the predicate."""
    from pyspark.sql import functions as F

    from philotes_spark.similarity.knn import cosine_topk, cosine_topk_arrow

    corpus = emb.filter(F.col("label") == 1)
    allowed = {r.vec_id for r in corpus.select("vec_id").collect()}
    assert allowed and len(allowed) < emb.count()  # predicate selective

    jvm = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine_sim)
        for r in cosine_topk(emb, QUERY_IDS, k=10, corpus=corpus).collect()
    }
    arrow = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine_sim)
        for r in cosine_topk_arrow(
            emb, QUERY_IDS, k=10, corpus=corpus
        ).collect()
    }
    assert jvm == arrow
    assert {n for n, _ in jvm.values()} <= allowed
    assert {q for q, _ in jvm} == set(QUERY_IDS)  # queries from full emb
    unfiltered = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine_sim)
        for r in cosine_topk_arrow(emb, QUERY_IDS, k=10).collect()
    }
    assert jvm != unfiltered


def test_filtered_ivf_recall_and_full_probe_exact(emb):
    """Filtered IVF (r13): candidates are posting-list semi-joined to
    the predicate before scoring — every hit satisfies it — and probing
    ALL cells recovers the exact filtered ranking (the filter prunes
    candidates, never reorders them). Partial probe keeps useful recall
    against the filtered exact ground truth."""
    from pyspark.sql import functions as F

    from philotes_spark.similarity.ivf import build_index, ivf_topk
    from philotes_spark.similarity.knn import cosine_topk

    corpus = emb.filter(F.col("label") == 1)
    allowed = {r.vec_id for r in corpus.select("vec_id").collect()}
    index = build_index(emb, n_centroids=16)
    exact = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine_sim)
        for r in cosine_topk(emb, QUERY_IDS, k=10, corpus=corpus).collect()
    }
    full = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine_sim)
        for r in ivf_topk(
            emb, QUERY_IDS, k=10, n_probe=16, index=index, corpus=corpus
        ).collect()
    }
    assert full == exact  # all cells probed == exact filtered
    part = ivf_topk(
        emb, QUERY_IDS, k=10, n_probe=8, index=index, corpus=corpus
    ).collect()
    assert {r.neighbor_id for r in part} <= allowed
    got = {q: {r.neighbor_id for r in part if r.query_id == q}
           for q in QUERY_IDS}
    want = {q: {n for (qq, _), (n, _) in exact.items() if qq == q}
            for q in QUERY_IDS}
    recall = sum(len(got[q] & want[q]) for q in QUERY_IDS) / sum(
        len(want[q]) for q in QUERY_IDS
    )
    assert recall >= 0.6, recall
    index[1].unpersist()
