"""Connected components via alternating large-star/small-star
(operators/components.py): pinned against an independent driver-side
union-find on random graphs and adversarial chains; graph.canonical_map,
which labels entities from the same loop, is pinned against the
union-find too, isolated entities included, and held to a job budget."""

import random

import pytest
from pyspark.sql import functions as F

from knowledge_harvest_from_lms_spark.operators import components
from knowledge_harvest_from_lms_spark.operators.components import (
    connected_components,
)


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def _run(spark, edges):
    df = spark.createDataFrame(edges, "src string, dst string")
    got = connected_components(df).collect()
    out = {r["vertex"]: r["component"] for r in got}
    assert len(got) == len(out), "duplicate vertex rows"
    return out


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_random_graphs_match_union_find(spark, seed):
    rng = random.Random(seed)
    nodes = [f"n{i:03d}" for i in range(150)]
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(120)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    assert _run(spark, edges) == _union_find(edges)


def test_adversarial_chain_converges_logarithmically(spark):
    # a 200-node path with ids PERMUTED against the chain order — the
    # shape where plain min-label propagation needs ~path-length
    # rounds; the star algorithm must finish inside its O(log n) bound
    rng = random.Random(42)
    ids = [f"v{i:04d}" for i in range(200)]
    rng.shuffle(ids)
    edges = list(zip(ids, ids[1:]))
    want = _union_find(edges)
    got = _run(spark, edges)
    assert got == want
    assert set(got.values()) == {min(ids)}


def test_cliques_chains_and_singleton_edges(spark):
    edges = (
        [(f"c{i}", f"c{j}") for i in range(5) for j in range(i + 1, 5)]
        + [("x1", "x2"), ("x2", "x3")]
        + [("solo_a", "solo_b")]
    )
    got = _run(spark, edges)
    assert got == _union_find(edges)


def test_nulls_and_self_loops_dropped(spark):
    df = spark.createDataFrame(
        [("a", "a"), ("a", None), (None, "b"), ("c", "d")],
        "src string, dst string",
    )
    got = {
        r["vertex"]: r["component"]
        for r in connected_components(df).collect()
    }
    assert got == {"c": "c", "d": "c"}


def test_matches_canonical_map_on_pair_graphs(spark):
    from knowledge_harvest_from_lms_spark.operators.graph import (
        canonical_map,
    )

    rng = random.Random(9)
    ents = [f"ent{i:02d}" for i in range(40)]
    pairs = [
        (rng.choice(ents), rng.choice(ents)) for _ in range(25)
    ]
    pairs = [(a, b) for a, b in pairs if a != b]
    pdf = spark.createDataFrame(pairs, "ent_a string, ent_b string")
    edf = spark.createDataFrame([(e,) for e in ents], "ent string")
    cm = {
        r["ent"]: r["canonical"]
        for r in canonical_map(edf, pdf).collect()
    }
    cc = {
        r["vertex"]: r["component"]
        for r in connected_components(
            pdf, src="ent_a", dst="ent_b"
        ).collect()
    }
    assert cc == _union_find(pairs)
    # on the edge-touched subset both agree exactly; every other ent
    # (isolated) maps to itself
    isolated = set(ents) - set(cc)
    assert isolated
    assert cm == {**{e: e for e in isolated}, **cc}


def test_max_iters_guard(spark, monkeypatch):
    monkeypatch.setattr(components, "MAX_ROUNDS", 0)
    df = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(df)


def test_canonical_map_star_graph_job_count(spark):
    """A star-shaped pair graph (every member paired with its group
    minimum, the shape of ``dedup.exact_dup_star_edges``) is already
    the converged forest: the star loop stops after ONE round, checked
    on that round's own output, with no confirming round. One round is
    its three shuffle stages (two window partitions, one distinct) and
    the checkpoint, plus the check's shuffle and take: six jobs."""
    from knowledge_harvest_from_lms_spark.operators.graph import canonical_map

    groups = [[f"d{g}{i:02d}" for i in range(1 + g * 3)] for g in range(6)]
    ents = spark.createDataFrame(
        [(d,) for grp in groups for d in grp], "ent string"
    ).localCheckpoint(eager=True)
    pairs = spark.createDataFrame(
        [(grp[0], d) for grp in groups for d in grp[1:]],
        "ent_a string, ent_b string",
    ).localCheckpoint(eager=True)
    sc = spark.sparkContext
    group = "canonical-map-jobs"
    sc.setJobGroup(group, "canonical_map")
    try:
        cmap = canonical_map(ents, pairs)
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    got = {r.ent: r.canonical for r in cmap.collect()}
    assert got == {d: grp[0] for grp in groups for d in grp}
    assert len(jobs) <= 6
