"""Weighted PageRank operator (operators/graph.py::pagerank):
mass conservation, symmetry, weight proportionality, dangling
redistribution."""

import random

import pytest

from knowledge_harvest_from_lms_spark.operators.graph import pagerank


def _pr(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src string, dst string, weight double")
    return {r.node: r.rank for r in pagerank(df, **kw).collect()}


def test_cycle_is_uniform(spark):
    ranks = _pr(spark, [("a", "b", 1.0), ("b", "c", 1.0), ("c", "a", 1.0)])
    assert set(ranks) == {"a", "b", "c"}
    for v in ranks.values():
        assert v == pytest.approx(1 / 3, abs=1e-9)
    assert sum(ranks.values()) == pytest.approx(1.0, abs=1e-9)


def test_star_hub_dominates_and_mass_conserved(spark):
    ranks = _pr(
        spark,
        [("a", "hub", 1.0), ("b", "hub", 1.0), ("c", "hub", 1.0)],
        iters=8,
    )
    assert sum(ranks.values()) == pytest.approx(1.0, abs=1e-9)
    assert ranks["hub"] == max(ranks.values())
    # leaves are symmetric
    assert ranks["a"] == pytest.approx(ranks["b"], abs=1e-12)
    assert ranks["b"] == pytest.approx(ranks["c"], abs=1e-12)


def test_weight_proportional_contribution(spark):
    # a splits its mass 3:1 between b and c; both are dangling
    ranks = _pr(
        spark, [("a", "b", 3.0), ("a", "c", 1.0)], iters=1, damping=0.85
    )
    n = 3
    base = (1 - 0.85) / n
    dangling0 = 2 / n  # b and c hold 2/3 of the initial mass, no out-edges
    assert ranks["b"] == pytest.approx(
        base + 0.85 * ((1 / n) * 0.75 + dangling0 / n), abs=1e-12
    )
    assert ranks["c"] == pytest.approx(
        base + 0.85 * ((1 / n) * 0.25 + dangling0 / n), abs=1e-12
    )
    assert sum(ranks.values()) == pytest.approx(1.0, abs=1e-9)


def test_iteration_is_a_contraction(spark):
    """Damped PageRank contracts at rate ~d per iteration: the step
    delta at iteration 12 must be well below the delta at iteration 4
    (0.85^8 ≈ 0.27)."""
    edges = [("a", "b", 1.0), ("b", "c", 2.0), ("c", "a", 1.0),
             ("b", "a", 1.0), ("c", "b", 3.0)]
    r3 = _pr(spark, edges, iters=3)
    r4 = _pr(spark, edges, iters=4)
    r11 = _pr(spark, edges, iters=11)
    r12 = _pr(spark, edges, iters=12)
    early = max(abs(r4[k] - r3[k]) for k in r3)
    late = max(abs(r12[k] - r11[k]) for k in r11)
    assert late < early * 0.5, (early, late)
    assert sum(r12.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_empty_edges(spark):
    df = spark.createDataFrame([], "src string, dst string, weight double")
    out = pagerank(df)
    assert out.columns == ["node", "rank"]
    assert out.count() == 0


def test_pagerank_job_count(spark):
    """The dangling mass stays in the plan: no driver round-trip per
    iteration. Setup is the node frame (one groupBy), its count and
    the edge-probability frame, 8 jobs; each iteration is the
    dangling-mass aggregate and its broadcast, the edges ⋈ ranks
    shuffles, the one groupBy that sums messages and rank rows, and
    the checkpoint, 7 jobs (12 when the dangling mass was collected to
    the driver and the update re-joined the node frame)."""
    rnd = random.Random(3)
    edges = spark.createDataFrame(
        [(f"v{rnd.randrange(60)}", f"v{rnd.randrange(80)}",
          float(rnd.randint(1, 5))) for _ in range(180)],
        "src string, dst string, weight double",
    ).localCheckpoint(eager=True)
    sc = spark.sparkContext
    jobs = {}
    for iters in (1, 3):
        group = f"pagerank-jobs-{iters}"
        sc.setJobGroup(group, "pagerank")
        try:
            pagerank(edges, iters=iters)
            jobs[iters] = len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    assert (jobs[3] - jobs[1]) / 2 <= 7, jobs
    assert jobs[3] <= 29, jobs
