"""Bitset intersection kernel (operators/bitsets.py): |A ∩ B| must be
exact at any vocabulary size — dictionary tokens through the bitmap
words, the rest through the overflow arrays — checked against Python
sets over a universe larger than the dictionary."""

import itertools
import random

from pyspark.sql import functions as F

from knowledge_harvest_from_lms_spark.operators import bitsets


def _sets(n=90, seed=5):
    """Sets over 400 frequent 'head' and 800 rare 'tail' tokens: every
    third set has head tokens only, every third tail tokens only, the
    rest both."""
    rng = random.Random(seed)
    head = [f"h{i:03d}" for i in range(400)]
    tail = [f"t{i:03d}" for i in range(800)]
    out = {}
    for i in range(n):
        kind = i % 3
        s = set(rng.sample(head, rng.randint(20, 60))) if kind != 2 else set()
        if kind:
            s |= set(rng.sample(tail, rng.randint(1, 12)))
        out[i] = s
    return out


def _dictionary(sets):
    """The top NW*64 tokens by (set frequency desc, token asc)."""
    df = {}
    for s in sets.values():
        for t in s:
            df[t] = df.get(t, 0) + 1
    ranked = sorted(df, key=lambda t: (-df[t], t))
    assert len(ranked) > bitsets.NW * 64
    return set(ranked[: bitsets.NW * 64])


def test_encode_and_intersection_match_python_sets(spark):
    sets = _sets()
    dic = _dictionary(sets)
    post = spark.createDataFrame(
        [(i, t) for i, s in sets.items() for t in sorted(s)], "id long, tok string"
    )
    enc = bitsets.encode(
        post, ["id"], "tok", post.groupBy("tok").count(), F.min("tok").alias("first")
    )
    assert enc.columns == (
        ["id", "sz"] + [f"b{w}" for w in range(bitsets.NW)] + ["ov", "first"]
    )
    rows = {r.id: r for r in enc.collect()}
    assert rows.keys() == sets.keys()
    for i, s in sets.items():
        assert rows[i].sz == len(s)
        assert sorted(rows[i].ov) == sorted(s - dic)
        assert rows[i].first == min(s)

    inter = bitsets.intersection("a", "b")
    got = {
        (r.id_a, r.id_b): r.n
        for r in bitsets.side(enc, "a")
        .join(bitsets.side(enc, "b"), F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", inter.alias("n"))
        .collect()
    }
    kinds = set()
    for a, b in itertools.combinations(sorted(sets), 2):
        assert got[(a, b)] == len(sets[a] & sets[b]), (a, b)
        kinds.add((bool(sets[a] - dic), bool(sets[b] - dic)))
    # pairs where both, one or neither side carry overflow tokens
    assert {(True, True), (False, False)} <= kinds
    assert (True, False) in kinds or (False, True) in kinds
