"""Exact |A ∩ B| over token sets, as fixed-width bitmaps plus an
overflow array — the one intersection kernel of the similarity paths
(q14's anchored Jaccard, ``graph.lsh_candidate_pairs`` and the
``setsim`` joins).

Each set is encoded ONCE, by ``encode``, as ``NW`` BIGINT words
``b0..b{NW-1}`` and an array ``ov``; a pair's intersection size is
then ``NW`` codegen'd ``bit_count(a_w & b_w)`` terms instead of an
interpreted per-pair ``array_intersect`` (a hash set per call).

The dictionary is the top ``NW*64`` tokens by (set frequency desc,
token asc): a distributed top-k — one map-side-combining count and a
``TakeOrderedAndProject`` — indexed inside those <= ``NW*64`` rows
and broadcast, so no window ever runs over the whole vocabulary and
building the plan runs no Spark job (the top-k idea of "Distributed
Similarity Joins over Top-K Rankings", EDBT 2020).

Exactness, at any vocabulary size: a dictionary token has exactly one
index, so it sets exactly one bit in every set that holds it, and two
sets share that bit iff both hold the token; the token itself never
reaches ``ov``. Every other token is kept verbatim in ``ov``, so it
is matched by equality and never collides. The two parts partition
the tokens, hence ``bits ∩ bits + ov ∩ ov = |A ∩ B|``. The ranking
decides only which tokens take the fast path; frequent tokens are the
ones most pairs share, so ``ov`` stays empty on small vocabularies
and short where it is not. ``array_intersect`` allocates a hash set
per call even on empty arrays, so it runs only when both overflow
arrays are non-empty.

Integer intersection sizes are what an ``array_intersect`` over the
same distinct sets returns, so every downstream int/int double
division is bit-identical to the array formulation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

NW = 8  # bitmap words per set: the top NW*64 tokens take the bit path


def encode(
    postings: DataFrame, keys: list[str], tok: str, freq: DataFrame, *extra_aggs: Column
) -> DataFrame:
    """``keys…, sz, b0..b{NW-1}, ov`` and then ``extra_aggs``, one row
    per set.

    ``postings`` holds one row per distinct (keys…, ``tok``) with a
    non-NULL ``tok``; ``sz`` is the set size. ``freq`` (``tok``,
    ``count``) holds their set frequencies, which rank the dictionary.
    ``extra_aggs`` are more aggregates over the same postings grouped
    by ``keys`` (the LSH path's minhash MINs), so callers keep a single
    ``groupBy``."""
    rank = [F.desc("count"), F.col(tok)]
    top = freq.orderBy(*rank).limit(NW * 64)
    dic = top.select(tok, (F.row_number().over(W.orderBy(*rank)) - 1).alias("__idx"))
    words = [
        F.expr(
            f"bit_or(if(__idx div 64 = {w}, shiftleft(bigint(1), __idx % 64), "
            "bigint(0)))"
        ).alias(f"b{w}")
        for w in range(NW)
    ]
    return (
        postings.join(F.broadcast(dic), tok, "left")
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("sz"),
            *words,
            F.collect_list(F.when(F.col("__idx").isNull(), F.col(tok))).alias("ov"),
            *extra_aggs,
        )
    )


def side(enc: DataFrame, tag: str) -> DataFrame:
    """``enc`` with every column renamed ``{column}_{tag}`` — one side
    of a pair join, named the way ``intersection`` reads it."""
    return enc.select(*[F.col(c).alias(f"{c}_{tag}") for c in enc.columns])


def intersection(a: str, b: str) -> Column:
    """|A ∩ B| of the ``side(enc, a)`` and ``side(enc, b)`` rows of a
    pair (INT)."""
    bits = sum(
        [F.bit_count(F.col(f"b{w}_{a}").bitwiseAND(F.col(f"b{w}_{b}"))) for w in range(NW)],
        F.lit(0),
    )
    ova, ovb = F.col(f"ov_{a}"), F.col(f"ov_{b}")
    return bits + F.when(
        (F.size(ova) == 0) | (F.size(ovb) == 0), F.lit(0)
    ).otherwise(F.size(F.array_intersect(ova, ovb)))
