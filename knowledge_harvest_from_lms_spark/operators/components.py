"""Connected components at scale: the alternating large-star /
small-star algorithm (Kiveris, Lattanzi, Mirrokni, Rastogi &
Vassilvitskii, "Connected Components in MapReduce and Beyond",
SoCC 2014 — re-derived from the published algorithm, no engine code
consulted).

This is the package's one connected-components loop. ``star_forest``
runs it; ``connected_components`` emits its (vertex, component) rows
and ``graph.canonical_map`` labels an entity column from the same
converged edges. The star algorithm contracts components in O(log n)
rounds regardless of shape (each large-star halves tree heights in
expectation), so a long path or chain costs no more rounds than a
near-clique dup cluster. ``tests/test_components.py`` pins it against
a driver-side union-find on random graphs and adversarial chains.

Per round: explode edges both directions (every undirected edge
appears as (u,v) and (v,u)) in one pass, no union, so an
unmaterialized input is read once; large-star takes ``min(N(u) ∪ {u})``
per node as a window over the node's edges and re-points every larger
neighbor to it; small-star does the same over the big → small edges
large-star emits, then drops duplicate rows. The edge set only
shrinks or re-points — never grows. An eager ``localCheckpoint`` per
round keeps lineage depth O(1) (the pagerank/BPE-trainer discipline).

Stopping: small-star output always has ``dst < src`` and no duplicate
rows, so it is the final star forest — every member pointing at its
component's minimum — exactly when no ``src`` has two ``dst``s and no
``dst`` is also a ``src``. One per-node aggregate over the round's
checkpoint, read with ``take(1)``, tests that; the loop stops on the
round that converges, with no confirming round.

Scale: per round three shuffles of the current edge set (two window
partitions, one distinct) plus the per-node check, O(log n) rounds;
the driver holds at most one row per round. Skew: a hub's edges share
one window partition, and the algorithm itself shrinks hubs every
round (that is its point).

Output contract: one row per VERTEX that appears in the edge set,
``(vertex, component)`` with component = the component's minimum
vertex id — the canonical-representative convention of
``canonical_map``, so downstream survivor rules compose unchanged.
Isolated vertices never enter an edge list; union them in upstream
if they must appear. ``dedup.cluster_decisions`` runs the loop over
text prefixes, not doc ids: the component minimum is a prefix that
labels the cluster, and the keeper is the cluster's lowest doc id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

# The algorithm's O(log n) bound makes 50 rounds absurdly safe: hitting
# it means the input violates the contract, e.g. ids mutating between
# actions.
MAX_ROUNDS = 50


def _undirected(edges: DataFrame) -> DataFrame:
    """(u, v) both directions of every (src, dst) edge, in one pass;
    self-loops and NULLs dropped (an edge to an unknown vertex
    identifies nothing). The drop filters the exploded rows: a filter
    on the input would be pushed into it, and the pushdown copies the
    src/dst expressions into the filter, evaluating them twice."""
    both = F.explode(
        F.array(
            F.struct(F.col("src").alias("u"), F.col("dst").alias("v")),
            F.struct(F.col("dst").alias("u"), F.col("src").alias("v")),
        )
    )
    return (
        edges.select(both.alias("_e"))
        .select("_e.u", "_e.v")
        .filter(
            F.col("u").isNotNull()
            & F.col("v").isNotNull()
            & (F.col("u") != F.col("v"))
        )
    )


def _min_neighbor(direct: DataFrame) -> DataFrame:
    """``direct`` (u, v) plus m = min(N(u) ∪ {u}) on every row."""
    return direct.withColumn(
        "m", F.least(F.min("v").over(W.partitionBy("u")), F.col("u"))
    )


def _large_star(direct: DataFrame) -> DataFrame:
    """(src, dst) big → small: every neighbor LARGER than u re-points
    to min(N(u) ∪ {u})."""
    return (
        _min_neighbor(direct)
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(down: DataFrame) -> DataFrame:
    """Over big → small (src, dst) edges (the smaller-neighbor half of
    the undirected view): every smaller neighbor of u, and u itself,
    re-points to m = min(N(u) ∪ {u}). The row whose neighbor is m
    carries u's own edge (u, m) instead of the self-loop (m, m), so
    each row emits one edge; duplicates across nodes are dropped."""
    half = _min_neighbor(
        down.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    )
    return half.select(
        F.when(F.col("v") == F.col("m"), F.col("u"))
        .otherwise(F.col("v"))
        .alias("src"),
        F.col("m").alias("dst"),
    ).distinct()


def _is_star_forest(edges: DataFrame) -> bool:
    """True when no src has two dsts and no dst is a src — for
    small-star output (dst < src, no duplicate rows), the converged
    member → component-minimum edges."""
    ends = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("src").alias("n"), F.lit(1).alias("out")),
                F.struct(F.col("dst").alias("n"), F.lit(0).alias("out")),
            )
        ).alias("_n")
    ).select("_n.*")
    stuck = (
        ends.groupBy("n")
        .agg(F.max("out").alias("out"), F.count(F.lit(1)).alias("ends"))
        .filter((F.col("out") == 1) & (F.col("ends") > 1))
    )
    return not stuck.take(1)


def star_forest(edges: DataFrame) -> DataFrame:
    """Converged ``(src, dst)`` edges over ``edges(src, dst)``: one row
    per vertex that is not its component's minimum, pointing at that
    minimum. Ids must be orderable and of one type. Raises past
    ``MAX_ROUNDS`` rounds."""
    cur = edges.select("src", "dst")
    for _ in range(MAX_ROUNDS):
        cur = _small_star(_large_star(_undirected(cur))).localCheckpoint()
        if _is_star_forest(cur):
            return cur
    raise RuntimeError(
        f"connected components did not converge in {MAX_ROUNDS} rounds"
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    out_vertex: str = "vertex",
    out_component: str = "component",
) -> DataFrame:
    """(vertex, component) for every vertex in ``edges``; component =
    min vertex id of its connected component. Ids travel as strings."""
    forest = star_forest(
        edges.select(
            F.col(src).cast("string").alias("src"),
            F.col(dst).cast("string").alias("dst"),
        )
    )
    # every member has one row; roots appear only as dst, so emitting
    # them as their own component members adds no duplicate
    members = forest.select(
        F.col("src").alias(out_vertex), F.col("dst").alias(out_component)
    )
    roots = forest.select(F.col("dst").alias(out_vertex)).distinct().withColumn(
        out_component, F.col(out_vertex)
    )
    return members.union(roots)
