"""Exact set-similarity self-join via prefix filtering (AllPairs /
PPJoin family).

The all-pairs companion to the ANCHORED jaccard join in
``plans/queries.py::q14`` (which broadcasts a sampled anchor set
against the corpus) and the APPROXIMATE MinHash/SimHash paths in
``operators/dedup.py``: this finds EVERY pair of records whose token
sets have Jaccard >= t, exactly, without the O(n^2) cross join.

Algorithm (Bayardo, Ma & Srikant, WWW 2007 "Scaling Up All Pairs
Similarity Search"; the MapReduce formulation is Vernica, Carey &
Li, SIGMOD 2010) — re-derived here as DataFrame ops, no engine code
consulted:

1. **Global token order, rarest first.** Count each token's record
   frequency (one map-side-combining aggregate, vocab-bounded), and
   order every record's distinct tokens by ``(df, token)`` — a
   TOTAL order, realized per-row as ``sort_array`` over
   ``struct(df, token)``. No global rank window is needed: prefix
   filtering only requires a CONSISTENT total order, so the (df,
   token) pair itself serves as the sort key and the plan never
   creates the single-partition ``row_number`` a dense token-rank
   port would.
2. **Prefix explode.** A record x with |x| tokens emits its first
   ``p = |x| - ceil(t*|x|) + 1`` tokens (the prefix-filter lemma:
   two records with J >= t must share a token inside both prefixes —
   if all of x's intersection tokens sat outside the prefix, the
   suffix of size ceil(t|x|)-1 < t|x| <= |x ∩ y| could not hold
   them). The explode factor is ~(1-t)|x|+1 per record — at t=0.9
   one tenth of the token stream; and prefixes hold each record's
   RAREST tokens, so the candidate join's key distribution is
   deliberately skew-light (the frequent tokens that would create
   hot buckets are exactly the ones prefixes exclude).
3. **Candidate equi-join** on the prefix token, ``id_a < id_b`` and
   the lossless length filter ``least(|a|,|b|) >= t*greatest`` in
   the join condition (cheap-first, the repo-wide join-ordering
   rule), then ``distinct`` pairs.
4. **Verify** exact Jaccard by joining the full sorted-token arrays
   back for the candidate pairs only: |union| = |a|+|b|-|inter| (the
   arrays are distinct), one O(n·m) intersect per candidate.

Scale: the only corpus-wide shuffles are the token-df aggregate
(vocab-bounded after partials), the df join back onto the exploded
tokens (model side is one row per token — AQE skew-split lossless),
and the per-record re-collect (uniform record key). Candidate and
verify volume are bounded by the prefix lemma, not the corpus.
Float safety: the prefix length uses ``ceil(t*|x| - 1e-9)`` so a
float product landing epsilon ABOVE an exact integer cannot shorten
the prefix below the lossless bound (an epsilon-longer prefix only
adds candidates).

Exactness is pinned two ways: a pytest comparing against the brute
force cross join on a seeded fixture, and the q73 oracle replaying
the brute force in DuckDB at sf0.01.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

# Verify-kernel cutover (r6): vocabularies at or below this size use
# dense-dictionary bitmap intersections (ceil(V/64) BIGINT words per
# record, <= 8 KB/row); larger vocabularies keep the array_intersect
# path whose per-row cost does not depend on V.
_MAX_BITMAP_VOCAB = 65536


def _bitmap_sets(sets: DataFrame) -> DataFrame | None:
    """(__id, sz, bits) bitmap encoding of ``_ordered_sets`` output,
    or None when the vocabulary exceeds ``_MAX_BITMAP_VOCAB``.

    r6 (guide §4.1, the q14 lesson): the per-candidate
    ``array_intersect`` on string arrays is interpreted — a hash set
    per call — and dominated q73/q76/q79/q80 wall time. Each record's
    token set is encoded ONCE as bitmap words over a dense,
    collision-free dictionary (row_number over the distinct vocab —
    bounded by the guard, so the single-partition window is fine);
    |intersection| per pair becomes codegen'd bit_count(a & b) folds.
    Integer cardinalities are unchanged, so downstream int/int double
    divisions are bit-identical to the array formulation."""
    vocab = sets.select(F.explode("toks").alias("tok")).distinct()
    nv = vocab.count()
    if nv == 0 or nv > _MAX_BITMAP_VOCAB:
        return None
    dic = vocab.withColumn(
        "idx", F.row_number().over(W.orderBy("tok")) - 1
    ).localCheckpoint()
    nw = (nv + 63) // 64
    return (
        sets.select("__id", "sz", F.explode("toks").alias("tok"))
        .join(F.broadcast(dic), "tok")
        .groupBy("__id", "sz")
        .agg(F.collect_list("idx").alias("ix"))
        .select(
            "__id",
            "sz",
            F.expr(
                f"transform(sequence(0, {nw - 1}), w -> aggregate(ix, "
                "bigint(0), (acc, i) -> if(i div 64 = w, "
                "acc | shiftleft(bigint(1), i % 64), acc)))"
            ).alias("bits"),
        )
        .localCheckpoint(eager=False)
    )


_BITS_INTER = (
    "aggregate(zip_with({a}, {b}, (x, y) -> bit_count(x & y)), 0, "
    "(acc, e) -> acc + e)"
)


def _ordered_sets(df: DataFrame, id_col: str, set_col: str) -> DataFrame:
    """(id, toks array<string> sorted rarest-first, sz) — tokens
    deduped, ordered by the global (df, token) total order.

    The deduped set is exploded as an expression, not through a named
    column: exploding a bare attribute makes the optimizer infer a
    ``size(set) > 0`` filter, and pushdown substitutes the alias into
    it, so a computed ``set_col`` (q73/q80's gram ``transform``) would
    be evaluated twice per record."""
    tok = df.select(
        F.col(id_col).alias("__id"),
        F.explode(F.array_distinct(F.col(set_col))).alias("tok"),
    )
    dfreq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    return (
        tok.join(dfreq, "tok")
        .groupBy("__id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("df", "tok"))),
                lambda s: s["tok"],
            ).alias("toks")
        )
        .withColumn("sz", F.size("toks"))
    )


def setsim_self_join(
    df: DataFrame,
    id_col: str,
    set_col: str,
    threshold: float,
    out_a: str = "id_a",
    out_b: str = "id_b",
    out_sim: str = "jaccard",
) -> DataFrame:
    """Every pair ``id_a < id_b`` with Jaccard(set_a, set_b) >=
    ``threshold`` over the distinct elements of ``set_col``
    (array<string>), with the exact similarity (published rounded at
    9, the repo determinism rule; the threshold compares the
    UNROUNDED value — an integer/integer double division both engines
    compute identically). Rows with NULL ids or NULL/empty sets are
    excluded (an empty set has no similarity-1 twin under Jaccard's
    0/0 convention and would emit no prefix anyway).

    Building the plan runs Spark jobs: ``_bitmap_sets`` counts the
    vocabulary (``vocab.count()``, which also materializes the lazily
    checkpointed sets) and eagerly checkpoints the token dictionary.
    The sets, dictionary and encoding are localCheckpointed, so their
    blocks cannot be recomputed after an executor is lost; the
    returned frame then fails instead of rebuilding them."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0,1], got {threshold}")
    t = float(threshold)
    sets = _ordered_sets(
        df.filter(F.col(id_col).isNotNull()), id_col, set_col
    ).filter(F.col("sz") > 0)
    # feeds the prefix stream AND two verify probes; without the lazy
    # checkpoint Catalyst clones the df-join/re-collect subtree per
    # consumer (the measured-4x lesson from the q56 flagged set)
    sets = sets.localCheckpoint(eager=False)

    p = (F.col("sz") - F.ceil(F.lit(t) * F.col("sz") - F.lit(1e-9)) + 1).cast(
        "int"
    )
    prefix = sets.select(
        "__id", "sz", F.explode(F.slice("toks", F.lit(1), p)).alias("ptok")
    )
    left = prefix.select(
        F.col("__id").alias("__ia"),
        F.col("sz").alias("__sa"),
        F.col("ptok").alias("__pa"),
    )
    right = prefix.select(
        F.col("__id").alias("__ib"),
        F.col("sz").alias("__sb"),
        F.col("ptok").alias("__pb"),
    )
    cand = (
        left.join(
            right,
            (F.col("__ia") < F.col("__ib"))
            & (
                F.least("__sa", "__sb")
                >= F.lit(t) * F.greatest("__sa", "__sb")
            )
            & (F.col("__pa") == F.col("__pb")),
        )
        .select("__ia", "__ib")
        .distinct()
    )
    enc = _bitmap_sets(sets)
    if enc is not None:
        a = enc.select(
            F.col("__id").alias("__ia"),
            F.col("sz").alias("__na"),
            F.col("bits").alias("__ba"),
        )
        b = enc.select(
            F.col("__id").alias("__ib"),
            F.col("sz").alias("__nb"),
            F.col("bits").alias("__bb"),
        )
        inter = F.expr(_BITS_INTER.format(a="__ba", b="__bb"))
        jac = inter / (F.col("__na") + F.col("__nb") - inter)
    else:
        a = sets.select(
            F.col("__id").alias("__ia"), F.col("toks").alias("__ta")
        )
        b = sets.select(
            F.col("__id").alias("__ib"), F.col("toks").alias("__tb")
        )
        inter = F.size(F.array_intersect("__ta", "__tb"))
        jac = inter / (F.size("__ta") + F.size("__tb") - inter)
    return (
        cand.join(a, "__ia")
        .join(b, "__ib")
        .filter(jac >= F.lit(t))
        .select(
            F.col("__ia").alias(out_a),
            F.col("__ib").alias(out_b),
            F.round(jac, 9).alias(out_sim),
        )
    )


def containment_join(
    df: DataFrame,
    id_col: str,
    set_col: str,
    threshold: float,
    out_a: str = "id_a",
    out_b: str = "id_b",
    out_sim: str = "containment",
) -> DataFrame:
    """Every ORDERED pair ``(a, b)``, a != b, with containment
    |A ∩ B| / |A| >= ``threshold`` — the asymmetric cousin of
    ``setsim_self_join`` that finds records SUBSUMED by another
    (quote farms, boilerplate-wrapped copies, partial mirrors: the
    near-dup class Jaccard misses when |B| >> |A| drowns the union).

    Prefix filtering still applies on the CONTAINED side only: if
    cont(A,B) >= t then |A ∩ B| >= ceil(t*|A|), so A's rarest-first
    prefix of size |A| - ceil(t*|A|) + 1 must intersect B (same lemma
    as the symmetric join — the suffix is too short to hold the
    intersection). B cannot be prefix-pruned (its matching tokens may
    sit anywhere), so B explodes ALL tokens; the size guard
    |B| >= t*|A| (containment needs that many shared tokens inside B)
    rides in the join condition cheap-first. The candidate key is
    still a RAREST token of A, so hot tokens stay out of the join's
    bucket distribution exactly as in the symmetric case.

    Exact: verified per candidate on the full arrays; the brute-force
    oracle (q80) replays it in DuckDB. Published value rounded at 9;
    the threshold compares the unrounded int/int division.

    As for ``setsim_self_join``, building the plan runs Spark jobs
    (``vocab.count()`` and an eager dictionary checkpoint), and the
    localCheckpointed sets, dictionary and encoding cannot be
    recomputed after executor loss."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0,1], got {threshold}")
    t = float(threshold)
    sets = _ordered_sets(
        df.filter(F.col(id_col).isNotNull()), id_col, set_col
    ).filter(F.col("sz") > 0)
    sets = sets.localCheckpoint(eager=False)

    p = (F.col("sz") - F.ceil(F.lit(t) * F.col("sz") - F.lit(1e-9)) + 1).cast(
        "int"
    )
    left = sets.select(
        F.col("__id").alias("__ia"),
        F.col("sz").alias("__sa"),
        F.explode(F.slice("toks", F.lit(1), p)).alias("__pa"),
    )
    right = sets.select(
        F.col("__id").alias("__ib"),
        F.col("sz").alias("__sb"),
        F.explode("toks").alias("__pb"),
    )
    cand = (
        left.join(
            right,
            (F.col("__ia") != F.col("__ib"))
            & (F.col("__sb") >= F.lit(t) * F.col("__sa"))
            & (F.col("__pa") == F.col("__pb")),
        )
        .select("__ia", "__ib")
        .distinct()
    )
    enc = _bitmap_sets(sets)
    if enc is not None:
        a = enc.select(
            F.col("__id").alias("__ia"),
            F.col("sz").alias("__na"),
            F.col("bits").alias("__ba"),
        )
        b = enc.select(
            F.col("__id").alias("__ib"), F.col("bits").alias("__bb")
        )
        cont = F.expr(_BITS_INTER.format(a="__ba", b="__bb")) / F.col("__na")
    else:
        a = sets.select(
            F.col("__id").alias("__ia"), F.col("toks").alias("__ta")
        )
        b = sets.select(
            F.col("__id").alias("__ib"), F.col("toks").alias("__tb")
        )
        cont = F.size(F.array_intersect("__ta", "__tb")) / F.size("__ta")
    return (
        cand.join(a, "__ia")
        .join(b, "__ib")
        .filter(cont >= F.lit(t))
        .select(
            F.col("__ia").alias(out_a),
            F.col("__ib").alias(out_b),
            F.round(cont, 9).alias(out_sim),
        )
    )
