"""Connected components over a near-duplicate pair graph — the
transitive-closure canonicalization step of a dedup pass (SURVEY §2C).

The single-pass canonicalizers (``dedup_embedding_cosine``,
``minhash_dedup``) assign each doc the smallest id it *directly*
duplicates; chains A~B~C where A and C don't match directly leave two
clusters. This operator closes the transitivity gap: every node in a
connected component maps to the component's minimum id — the standard
"cluster then keep one per cluster" semantics of large-scale dedup
(e.g. the MinHash-cluster step in web-scale corpus pipelines).

Algorithm (default): the large-star/small-star alternation of Kiveris
et al., "Connected Components in MapReduce and Beyond" (SoCC'14) —
provably O(log n) rounds on ANY graph shape, including the adversarial
long-chain case where plain min-label propagation needs O(diameter)
rounds. Each phase is a min-aggregate on the node key plus an equi-join
back to the edge list (the join reuses the aggregate's hash
partitioning on ``u``), then a distinct — no driver-side graph, no
cartesian anything, edge-set size never grows beyond the input's.

``algorithm="propagate"`` keeps the previous iterated min-label
propagation (one shuffle pair per round, O(diameter) rounds) — the
cheaper choice when the pair graph is known to be tiny-diameter
near-dup clusters (pairs/triples), which real corpora overwhelmingly
are.

At 100 TB: rounds are bounded (``max_iter``), every step is an
equi-join/agg on long keys, and each round ends in an eager
``localCheckpoint`` so Catalyst analysis cost stays flat instead of
growing superlinearly with the iteration count (measured: a 12-round
chain took minutes un-truncated, seconds truncated). On a cluster use
``checkpoint()`` against the checkpoint dir for fault tolerance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from philotes_spark.state import keep, release


def _edge_signature(edges: DataFrame) -> tuple:
    """Deterministic one-action fingerprint of an edge set. Equality
    across rounds is the convergence probe: at the algorithm's fixpoint
    the edge set is exactly stable, so the signature is too (count +
    three independent sums make a collision effectively impossible)."""
    row = edges.agg(
        F.count("*").alias("n"),
        F.sum("u").alias("su"),
        F.sum("v").alias("sv"),
        F.sum(F.col("u") * F.col("v")).alias("suv"),
    ).collect()[0]
    return tuple(row)


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) ∪ {u}).
    ``edges`` must be symmetric (both directions present)."""
    mins = edges.groupBy("u").agg(F.least(F.min("v"), F.col("u")).alias("m"))
    return (
        edges.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient each edge large→small, then connect every smaller neighbor
    of u (and u itself) to the minimum of u's smaller neighborhood."""
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).distinct()
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    with_min = oriented.join(mins, "u")
    return (
        with_min.select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(with_min.select(F.col("u"), F.col("m").alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_iter: int = 20,
    algorithm: str = "star",
) -> DataFrame:
    """(node, component) for every node in the pair list, where
    ``component`` is the minimum node id reachable through the pairs.
    Pairs are undirected; self-loops and duplicates are tolerated.
    ``algorithm``: "star" (large-star/small-star, O(log n) rounds) or
    "propagate" (min-label propagation, O(diameter) rounds)."""
    if algorithm not in ("star", "propagate"):
        raise ValueError(f"unknown algorithm {algorithm!r}")
    nodes = keep(
        pairs.select(F.col(src).alias("node"))
        .union(pairs.select(F.col(dst).alias("node")))
        .distinct()
    )
    edges = keep(
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(pairs.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct(),
        checkpoint=True,
    )
    if algorithm == "star":
        prev_sig = None
        for _ in range(max_iter):
            # one alternation round; each phase ends in an eager
            # local checkpoint to keep the plan flat, and frees the
            # phase before it once it is materialized
            flipped = edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
            after_large = keep(_large_star(edges.union(flipped)), checkpoint=True)
            release(edges)
            edges = keep(_small_star(after_large), checkpoint=True)
            release(after_large)
            sig = _edge_signature(edges)
            if sig == prev_sig:
                break
            prev_sig = sig
        # fixpoint edges form stars: every non-min node has a direct edge
        # to its component min
        labels = (
            edges.select(
                F.greatest("u", "v").alias("node"), F.least("u", "v").alias("m")
            )
            .groupBy("node")
            .agg(F.min("m").alias("component"))
        )
        # materialize before freeing the nodes and edges: `out` is lazy,
        # so a release-then-return would recompute the distinct node set
        # at the caller's first action with its blocks already gone
        # (ADVICE r05)
        out = keep(
            nodes.join(labels, "node", "left").select(
                "node", F.coalesce("component", "node").alias("component")
            ),
            checkpoint=True,
        )
        release(nodes)
        release(edges)
        return out

    labels = keep(
        nodes.select("node", F.col("node").alias("component")), checkpoint=True
    )
    prev_sum = None
    for _ in range(max_iter):
        # propagate: each node takes min(own label, neighbors' labels)
        neighbor_min = (
            edges.join(labels, edges["v"] == labels["node"])
            .groupBy(F.col("u").alias("node"))
            .agg(F.min("component").alias("nbr_min"))
        )
        prev = labels
        labels = keep(
            labels.join(neighbor_min, "node", "left").select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
                ).alias("component"),
            ),
            checkpoint=True,
        )
        release(prev)
        # convergence probe: labels only ever decrease, so an unchanged
        # sum means a fixpoint (1-row action; no label collect)
        cur_sum = labels.agg(F.sum("component")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    release(edges)
    release(nodes)
    return labels


def dedup_components(
    pairs: DataFrame,
    universe: DataFrame,
    id_col: str,
    src: str = "a",
    dst: str = "b",
    max_iter: int = 20,
) -> DataFrame:
    """Cluster-canonical dedup assignment: every id in ``universe`` maps
    to its component minimum (itself when unpaired) plus an
    ``is_duplicate`` flag — the transitive version of the single-pass
    canonicalizers."""
    comp = connected_components(pairs, src, dst, max_iter)
    return (
        universe.select(F.col(id_col))
        .join(comp, universe[id_col] == comp["node"], "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("component"), F.col(id_col)).alias("canonical_id"),
            (
                F.col("component").isNotNull()
                & (F.col("component") != F.col(id_col))
            ).alias("is_duplicate"),
        )
    )
