"""Exact set-similarity self-join (operators/setsim.py): prefix
filtering must be LOSSLESS — output == the brute-force cross join,
pairs and values — while actually pruning candidates."""

import itertools
import random

import pytest
from pyspark.sql import functions as F

from knowledge_harvest_from_lms_spark.operators import bitsets
from knowledge_harvest_from_lms_spark.operators.setsim import (
    setsim_self_join,
)


def _vocab_params(ts):
    """(t, universe) cases over two token universes: the 40-token one
    keeps the bare threshold id and fits the bitmap dictionary; the
    2000-token one (``-vocab2000``) has more distinct tokens than the
    dictionary holds, so rare tokens reach the exact overflow arrays."""
    return [
        pytest.param(t, universe, id=f"{t}{suffix}")
        for universe, suffix in ((40, ""), (2000, "-vocab2000"))
        for t in ts
    ]


def _rows(universe):
    rows = _fixture() if universe == 40 else _fixture(n=300, universe=universe)
    if universe > 40:
        vocab = set().union(*(s for _, s in rows))
        assert len(vocab) > bitsets.NW * 64
    return rows


def _brute(rows, t):
    out = {}
    for (ia, sa), (ib, sb) in itertools.combinations(rows, 2):
        if not sa or not sb:
            continue
        inter = len(sa & sb)
        j = inter / (len(sa) + len(sb) - inter)
        if j >= t:
            a, b = (ia, ib) if ia < ib else (ib, ia)
            out[(a, b)] = round(j, 9)
    return out


def _fixture(n=120, universe=40, seed=7):
    rng = random.Random(seed)
    toks = [f"t{i:02d}" for i in range(universe)]
    rows = []
    for i in range(n):
        k = rng.randint(2, 10)
        rows.append((i, frozenset(rng.sample(toks, k))))
    # plant exact duplicates and a near-dup so threshold=1.0 and the
    # high-threshold band are non-trivially exercised
    rows.append((n, rows[0][1]))
    rows.append((n + 1, rows[1][1] | {"t_extra"}))
    return rows


@pytest.mark.parametrize("t,universe", _vocab_params([0.5, 0.8, 1.0]))
def test_matches_brute_force(spark, t, universe):
    rows = _rows(universe)
    df = spark.createDataFrame(
        [(i, sorted(s)) for i, s in rows], "id long, s array<string>"
    )
    res = setsim_self_join(df, "id", "s", t)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in res.collect()}
    want = _brute(rows, t)
    assert got.keys() == want.keys()
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-9)


def test_prefix_actually_prunes_and_no_cartesian(spark):
    # distinct-ish sets: candidate volume must be far below n*(n-1)/2
    rng = random.Random(11)
    toks = [f"w{i:03d}" for i in range(600)]
    rows = [(i, frozenset(rng.sample(toks, 12))) for i in range(200)]
    df = spark.createDataFrame(
        [(i, sorted(s)) for i, s in rows], "id long, s array<string>"
    )
    res = setsim_self_join(df, "id", "s", 0.8)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert {(r["id_a"], r["id_b"]) for r in res.collect()} == set(
        _brute(rows, 0.8)
    )


def test_nulls_and_empties_excluded(spark):
    df = spark.createDataFrame(
        [
            (1, ["a", "b"]),
            (2, ["a", "b"]),
            (3, []),
            (4, None),
            (None, ["a", "b"]),
        ],
        "id long, s array<string>",
    )
    got = setsim_self_join(df, "id", "s", 0.5).collect()
    assert [(r["id_a"], r["id_b"], r["jaccard"]) for r in got] == [(1, 2, 1.0)]


def test_duplicate_tokens_deduped(spark):
    df = spark.createDataFrame(
        [(1, ["a", "a", "b"]), (2, ["b", "a"])], "id long, s array<string>"
    )
    got = setsim_self_join(df, "id", "s", 0.9).collect()
    assert [(r["id_a"], r["id_b"], r["jaccard"]) for r in got] == [(1, 2, 1.0)]


# ---------------------------------------------------------------------------
# containment_join (asymmetric)
# ---------------------------------------------------------------------------

from knowledge_harvest_from_lms_spark.operators.setsim import (  # noqa: E402
    containment_join,
)


def _brute_containment(rows, t):
    out = {}
    for ia, sa in rows:
        if not sa:
            continue
        for ib, sb in rows:
            if ia == ib or not sb:
                continue
            c = len(sa & sb) / len(sa)
            if c >= t:
                out[(ia, ib)] = round(c, 9)
    return out


@pytest.mark.parametrize("t,universe", _vocab_params([0.6, 0.8, 1.0]))
def test_containment_matches_brute_force(spark, t, universe):
    rows = _rows(universe)
    # plant a strict subset pair: a tiny doc inside a big one —
    # symmetric jaccard misses it, containment must not
    big = frozenset(f"x{i}" for i in range(30))
    rows.append((900, big))
    rows.append((901, frozenset(list(big)[:6])))
    df = spark.createDataFrame(
        [(i, sorted(s)) for i, s in rows], "id long, s array<string>"
    )
    res = containment_join(df, "id", "s", t)
    got = {(r["id_a"], r["id_b"]): r["containment"] for r in res.collect()}
    want = _brute_containment(rows, t)
    assert got.keys() == want.keys()
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-9)
    assert (901, 900) in got and (900, 901) not in got


def test_containment_is_directional(spark):
    df = spark.createDataFrame(
        [(1, ["a", "b"]), (2, ["a", "b", "c", "d"])],
        "id long, s array<string>",
    )
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_join(df, "id", "s", 0.9).collect()
    }
    assert got == {(1, 2): 1.0}


def test_plan_build_runs_no_spark_job(spark):
    """Building either join's plan is lazy: no vocabulary count, no
    eager checkpoint, no AQE stage materialized by a lazy checkpoint —
    every job runs when the caller asks for rows."""
    rows = _fixture()
    df = spark.createDataFrame(
        [(i, sorted(s)) for i, s in rows], "id long, s array<string>"
    )
    sc = spark.sparkContext
    group = "setsim-plan-build"
    sc.setJobGroup(group, "build setsim plans")
    try:
        setsim_self_join(df, "id", "s", 0.5)
        containment_join(df, "id", "s", 0.6)
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == []
