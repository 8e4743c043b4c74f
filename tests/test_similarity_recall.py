"""Recall/quality tests for the approximate similarity tiers: the ANN
paths (LSH, IVF) must actually find what the exact path finds — a bucket
scheme with broken recall passes any rows-only check, so pin it here.
"""

import warnings

import pytest

from philotes_spark.similarity.ann import build, encode, topk, train
from philotes_spark.similarity.knn import cosine_topk, lsh_topk
from philotes_spark.sources.catalog import load_table
from philotes_spark.state import release
from tests.ann_reference import assign_cells, encode_ivfpq_expr, encode_pq

QUERY_IDS = [0, 1, 2, 3, 4]

# the registered queries' index settings (similarity/queries.py _ANN)
IVF = dict(n_cells=16)
PQ = dict(n_cells=0, m=16, ks=16, n_iter=10)
IVFPQ = dict(n_cells=16, m=8, ks=16)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


@pytest.fixture(scope="module")
def ivf_index(emb):
    index = build(emb, **IVF)
    yield index
    release(index[2])


@pytest.fixture(scope="module")
def pq_index(emb):
    index = build(emb, **PQ)
    yield index
    release(index[2])


@pytest.fixture(scope="module")
def ivfpq_index(emb):
    index = build(emb, **IVFPQ)
    yield index
    release(index[2])


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


def test_ivf_recall_beats_random_pruning(emb, exact_neighbors, ivf_index):
    # this corpus is weakly structured (top cosine ≈ 0.33), so absolute
    # recall is data-limited; the index contract is relative: probing
    # 4/16 cells must find well over 4/16 of the true neighbors
    rows = topk(emb, QUERY_IDS, ivf_index, k=10, n_probe=4).collect()
    assert _recall(rows, exact_neighbors) >= 0.40  # random pruning ⇒ 0.25


def test_ivf_half_probe_recall(emb, exact_neighbors, ivf_index):
    rows = topk(emb, QUERY_IDS, ivf_index, k=10, n_probe=8).collect()
    assert _recall(rows, exact_neighbors) >= 0.65


def test_ivf_full_probe_equals_exact(emb, exact_neighbors):
    # probing every cell must reduce IVF to the exact result
    index = build(emb, n_cells=8)
    rows = topk(emb, QUERY_IDS, index, k=10, n_probe=8).collect()
    release(index[2])
    assert _recall(rows, exact_neighbors) == 1.0


def test_lsh_recall_vs_exact(emb, exact_neighbors):
    # 4 planes × 16 tables: per-table collision ≈ 0.13 for cos≈0.3
    # neighbors → expected recall ≈ 0.9 (measured 0.92)
    rows = lsh_topk(emb, QUERY_IDS, k=10, n_planes=4, n_tables=16).collect()
    assert _recall(rows, exact_neighbors) >= 0.75


def test_ivf_cells_partition_corpus(emb):
    cells = encode(emb, *train(emb, **IVF))
    n = emb.count()
    assert cells.count() == n  # assignment is a projection: no row fan-out
    stats = cells.groupBy("cell").count().collect()
    assert len(stats) > 1, "corpus must spread across cells"
    assert max(s["count"] for s in stats) < n, "one cell swallowing all = broken index"


def test_ivf_deterministic(emb):
    runs = []
    for _ in range(2):
        index = build(emb, seed=7)
        runs.append(topk(emb, QUERY_IDS, index, k=5).collect())
        release(index[2])
    assert runs[0] == runs[1]


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


def test_pq_adc_recall_beats_chance(emb, exact_neighbors, pq_index):
    """16×16 codes ≈ 16 bytes/vector (16× vs float32): raw ADC ranking (no float reads at
    query time) must still land well above random top-10 (10/499 ≈ 2%)."""
    rows = topk(emb, QUERY_IDS, pq_index, k=10, rerank=None).collect()
    assert _recall(rows, exact_neighbors) >= 0.35  # measured 0.48


def test_pq_rerank_recovers_exact_ranking(emb, exact_neighbors, pq_index):
    """Exact re-rank of the ADC candidate list is the serving stack:
    candidates=50 → most of exact top-10; candidates=100 → nearly all.
    The returned similarities must BE the exact cosines."""
    r50 = topk(emb, QUERY_IDS, pq_index, k=10, rerank=50).collect()
    assert _recall(r50, exact_neighbors) >= 0.75  # measured 0.90
    r100 = topk(emb, QUERY_IDS, pq_index, k=10, rerank=100).collect()
    assert _recall(r100, exact_neighbors) >= 0.85  # measured 0.96
    exact_sims = {
        (r.query_id, r.neighbor_id): r.cosine_sim
        for r in cosine_topk(emb, QUERY_IDS, k=10).collect()
    }
    for r in r100:
        if (r.query_id, r.neighbor_id) in exact_sims:
            assert abs(r.cosine_sim - exact_sims[(r.query_id, r.neighbor_id)]) < 1e-9


def test_pq_codes_deterministic_and_bounded(emb, pq_index):
    centroids, books, _ = pq_index
    a = {r.id: (r.cell, tuple(r.codes)) for r in encode(emb, centroids, books).collect()}
    b = {r.id: (r.cell, tuple(r.codes)) for r in encode(emb, centroids, books).collect()}
    assert a == b
    assert all(cell == 0 and len(c) == 16 and all(0 <= x < 16 for x in c)
               for cell, c in a.values())


def test_arrow_pq_encode_row_identical_to_expr(emb, pq_index):
    """PQ is the one-cell setting of the Arrow encoder: its codes are
    row-identical to the pure-expression PQ reference on the fixture."""
    centroids, books, coded = pq_index
    arrow = {r.id: tuple(r.codes) for r in coded.collect()}
    expr = {r.id: tuple(r.codes) for r in encode_pq(emb, books).collect()}
    assert arrow == expr


# --- IVF-PQ (combined index) --------------------------------------------------


def test_ivfpq_probe_rerank_recall(emb, exact_neighbors, ivfpq_index):
    """The serving config (probe 4/16 cells, exact re-rank of ADC top-50)
    must beat IVF-style random-pruning chance by a wide margin."""
    rows = topk(emb, QUERY_IDS, ivfpq_index, k=10, n_probe=4, rerank=50).collect()
    assert _recall(rows, exact_neighbors) >= 0.40  # measured 0.50
    rows = topk(emb, QUERY_IDS, ivfpq_index, k=10, n_probe=8, rerank=100).collect()
    assert _recall(rows, exact_neighbors) >= 0.55  # measured 0.68


def test_ivfpq_full_probe_rerank_near_exact(emb, exact_neighbors):
    """Probing every cell with a deep re-rank approaches exact top-10,
    and the returned similarities ARE the exact cosines — the quality
    ceiling is the ADC candidate list, not the re-scorer. (Measured on
    this corpus: residual-ADC alone ≈ plain-PQ ADC — the fixture's weak
    cluster structure gives residual coding little to remove — but the
    stacked index still wins on bytes touched: n_probe/n_centroids of
    the code rows.)"""
    index = build(emb, n_cells=16, m=16, ks=16)
    rows = topk(emb, QUERY_IDS, index, k=10, n_probe=16, rerank=200).collect()
    release(index[2])
    assert _recall(rows, exact_neighbors) >= 0.85  # measured 0.94
    exact_sims = {
        (r.query_id, r.neighbor_id): r.cosine_sim
        for r in cosine_topk(emb, QUERY_IDS, k=10).collect()
    }
    for r in rows:
        if (r.query_id, r.neighbor_id) in exact_sims:
            assert abs(r.cosine_sim - exact_sims[(r.query_id, r.neighbor_id)]) < 1e-9


def test_ivfpq_index_deterministic_and_bounded(emb):
    c1, b1, coded1 = build(emb, **IVFPQ, seed=7)
    c2, b2, coded2 = build(emb, **IVFPQ, seed=7)
    assert c1 == c2 and b1 == b2
    a = {r.id: (r.cell, tuple(r.codes)) for r in coded1.collect()}
    b = {r.id: (r.cell, tuple(r.codes)) for r in coded2.collect()}
    release(coded1), release(coded2)
    assert a == b
    assert all(0 <= cell < 16 and len(codes) == 8 and all(0 <= x < 16 for x in codes)
               for cell, codes in a.values())


def test_arrow_ivfpq_encode_row_identical_to_expr(emb):
    """The Arrow-batched numpy IVF-PQ encode (r12 — serves the IVF-PQ
    index, removing ~1024 interpreted lambda steps per row) is
    row-identical to the pure-expression reference on the fixture:
    same cell and same m PQ codes for every corpus row. Both argmins
    break ties on the FIRST minimal codeword; drift between the
    sequential fold and numpy's pairwise sums sits far below any
    observed distance gap."""
    centroids, books = train(emb, **IVFPQ, seed=7)
    arrow = {
        r.id: (r.cell, tuple(r.codes))
        for r in encode(emb, centroids, books).collect()
    }
    expr = {
        r.id: (r.cell, tuple(r.codes))
        for r in encode_ivfpq_expr(emb, centroids, books).collect()
    }
    assert arrow == expr


def test_arrow_ivf_assign_row_identical_to_expr(emb):
    """The Arrow-batched numpy cell assignment (r17 — serves the IVF
    index, removing n_centroids × dim interpreted lambda steps
    per corpus row) is row-identical to the pure-expression
    assign_cells on the fixture: same cell for every corpus row, and
    the (v, nrm) columns it carries downstream are the SAME JVM
    expressions, so every cosine the serving path computes is
    bit-identical. Ties break identically (both pick the FIRST maximal
    cell); numpy's pairwise dot drift (~1e-15) sits far below any
    observed centroid-sim gap."""
    cents, _ = train(emb, **IVF)
    expr = {
        r.id: (r.cell, tuple(r.v), r.nrm)
        for r in assign_cells(emb, cents).collect()
    }
    arrow = {
        r.id: (r.cell, tuple(r.v), r.nrm)
        for r in encode(emb, cents, None).collect()
    }
    assert arrow == expr


# lengths 3+2+4 = 3*3: a reshape by the first length "fits"
_RAGGED = [[1.0, 0.0, 0.0], [0.0, 1.0], [0.0, 0.0, 1.0, 1.0]]
_NULL = [[1.0, 0.0, 0.0], None, [0.0, 0.0, 1.0]]
_CELLS = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]]
_BOOKS = [[[0.0], [1.0]]] * 3  # m=3 subspaces of one dim, ks=2


@pytest.mark.parametrize(
    "vecs, centroids, books",
    [
        (_RAGGED, _CELLS, None),
        (_NULL, _CELLS, None),
        (_RAGGED, [[0.0] * 3], _BOOKS),
        (_NULL, [[0.0] * 3], _BOOKS),
        (_RAGGED, _CELLS, _BOOKS),
        (_NULL, _CELLS, _BOOKS),
    ],
    # the IVF setting keeps this test's original ids
    ids=["ragged", "null", "pq-ragged", "pq-null", "ivfpq-ragged", "ivfpq-null"],
)
def test_arrow_ivf_assign_refuses_ragged_or_null_vectors(spark, vecs, centroids, books):
    """One Arrow batch holding vectors of different lengths (or a null
    vector) must fail loudly in every encoder setting instead of being
    reshaped into the wrong rows and assigned to the wrong cells and
    codes."""
    emb = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id long, embedding array<double>"
    ).coalesce(1)
    with pytest.raises(Exception, match="non-null vectors of one length"):
        encode(emb, centroids, books).collect()


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


def _with_zero_vectors(spark, emb):
    """``emb`` plus two all-zero vectors (ids 100001, 100002) at the end."""
    from pyspark.sql import functions as F

    dim = len(emb.select("embedding").first()[0])
    zeros = spark.createDataFrame(
        [(100001, [0.0] * dim), (100002, [0.0] * dim)],
        "vec_id long, embedding array<double>",
    ).select("vec_id", F.transform("embedding", lambda x: x.cast("float")).alias("embedding"))
    return emb.select("vec_id", "embedding").unionByName(zeros)


def test_zero_norm_vectors_excluded_identically(spark, emb):
    """ADVICE r11 #2: a zero vector has no direction — cosine against it
    is 0/0. Previously the JVM fold's NaN desc-sorted FIRST (topping
    every ranking) while the Arrow twin clamped it to 0.0, so the twins
    diverged on any data with a zero vector. Both now EXCLUDE zero-norm
    rows from queries and candidates: inject a zero corpus vector and a
    zero QUERY vector and the twins stay row-identical, the zero row
    never appears as a neighbor, and the zero query emits no rows."""
    from philotes_spark.similarity.knn import cosine_topk_arrow

    poisoned = _with_zero_vectors(spark, emb)
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


@pytest.mark.parametrize("setting", [IVF, PQ, IVFPQ], ids=["ivf", "pq", "ivfpq"])
def test_ann_zero_norm_vectors_excluded(spark, emb, setting):
    """The ANN core's one exclusion rule, in every setting: a zero
    corpus vector and a zero query vector are left out of the training
    sample (no NaN row in k-means, so no RuntimeWarning), the queries
    and the candidates (nothing divides by zero under ANSI). The zero
    rows are appended after the first rows, so the sample, the index
    and every real query's rows equal those of the clean corpus."""
    poisoned = _with_zero_vectors(spark, emb)
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        index = build(poisoned, **setting)
    clean = build(emb, **setting)
    assert index[:2] == clean[:2]
    got = topk(poisoned, QUERY_IDS + [100002], index, k=10).collect()
    want = topk(emb, QUERY_IDS, clean, k=10).collect()
    release(index[2]), release(clean[2])
    assert got and got == want


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


def test_filtered_ivf_recall_and_full_probe_exact(emb, ivf_index):
    """Filtered IVF (r13): candidates are posting-list semi-joined to
    the predicate before scoring — every hit satisfies it — and probing
    ALL cells recovers the exact filtered ranking (the filter prunes
    candidates, never reorders them). Partial probe keeps useful recall
    against the filtered exact ground truth."""
    from pyspark.sql import functions as F

    corpus = emb.filter(F.col("label") == 1)
    allowed = {r.vec_id for r in corpus.select("vec_id").collect()}
    exact = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine_sim)
        for r in cosine_topk(emb, QUERY_IDS, k=10, corpus=corpus).collect()
    }
    full = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine_sim)
        for r in topk(
            emb, QUERY_IDS, ivf_index, k=10, n_probe=16, corpus=corpus
        ).collect()
    }
    assert full == exact  # all cells probed == exact filtered
    part = topk(
        emb, QUERY_IDS, ivf_index, k=10, n_probe=8, corpus=corpus
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
