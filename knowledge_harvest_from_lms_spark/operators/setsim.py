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
   port would. The same counts rank the ``bitsets`` dictionary.
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
   rule), then ``distinct`` pairs: on gram sets a pair meets on many
   prefix tokens, so dropping repeats per row would cost more.
4. **Verify** exact Jaccard by joining each record's set, encoded
   once as a ``bitsets`` bitmap plus overflow array, back for the
   candidate pairs only: |union| = |a|+|b|-|inter| (the sets are
   distinct), |inter| being a few codegen'd ``bit_count`` terms per
   candidate.

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
from pyspark.sql import functions as F

from . import bitsets


def _prefix_join(
    df: DataFrame, id_col: str, set_col: str, t: float, right_toks, pair, sim,
    out_a: str, out_b: str, out_sim: str,
) -> DataFrame:
    """The body of both joins. One token-frequency aggregate orders
    each record's distinct tokens rarest first (``toks``) and ranks the
    ``bitsets`` dictionary. Each record's prefix (``_prefix``) joins the
    ``right_toks`` of every record on a shared token under the ``pair``
    predicate over (__ia, __sa, __ib, __sb); each distinct candidate is
    joined to both records' encodings and kept where ``sim(|A ∩ B|,
    |A|, |B|) >= t`` — the unrounded int/int division — and published
    rounded at 9.

    The set is exploded as an expression, not through a named column:
    exploding a bare attribute makes the optimizer infer a
    ``size(set) > 0`` filter, and pushdown substitutes the alias into
    it, so a computed ``set_col`` (q73/q80's gram ``transform``) would
    be evaluated twice per record.

    The encoding re-explodes ``toks`` within the list's partitions, so
    it adds no shuffle; one groupBy for both would be split by column
    pruning into two record shuffles. Building the plan runs no Spark
    job; the consumers share the record and token shuffles through
    exchange reuse, not a checkpoint, so the returned frame recomputes
    after an executor is lost."""
    tok = df.select(
        F.col(id_col).alias("__id"),
        F.explode(F.array_distinct(F.col(set_col))).alias("tok"),
    ).filter(F.col("__id").isNotNull() & F.col("tok").isNotNull())
    freq = tok.groupBy("tok").count()
    sets = (
        tok.join(freq, "tok")
        .groupBy("__id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("count", "tok"))),
                lambda s: s["tok"],
            ).alias("toks")
        )
        .withColumn("sz", F.size("toks"))
    )
    enc = bitsets.encode(
        sets.select("__id", F.explode("toks").alias("tok")), ["__id"], "tok", freq
    )
    left = sets.select(
        F.col("__id").alias("__ia"),
        F.col("sz").alias("__sa"),
        F.explode(_prefix(t)).alias("__pa"),
    )
    right = sets.select(
        F.col("__id").alias("__ib"),
        F.col("sz").alias("__sb"),
        F.explode(right_toks).alias("__pb"),
    )
    cand = (
        left.join(right, pair & (F.col("__pa") == F.col("__pb")))
        .select("__ia", "__ib")
        .distinct()
    )
    s = sim(bitsets.intersection("a", "b"), F.col("sz_a"), F.col("sz_b"))
    return (
        cand.toDF("__id_a", "__id_b")
        .join(bitsets.side(enc, "a"), "__id_a")
        .join(bitsets.side(enc, "b"), "__id_b")
        .filter(s >= F.lit(t))
        .select(
            F.col("__id_a").alias(out_a),
            F.col("__id_b").alias(out_b),
            F.round(s, 9).alias(out_sim),
        )
    )


def _threshold(threshold: float) -> float:
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0,1], got {threshold}")
    return float(threshold)


def _prefix(t: float):
    """A record's first ``|x| - ceil(t*|x|) + 1`` tokens: the prefix
    any record it reaches similarity t with must share a token with."""
    p = (F.col("sz") - F.ceil(F.lit(t) * F.col("sz") - F.lit(1e-9)) + 1).cast(
        "int"
    )
    return F.slice("toks", F.lit(1), p)


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

    Both sides join on their prefixes, under ``id_a < id_b`` and the
    lossless length filter ``least(|a|,|b|) >= t*greatest``. Building
    the plan runs no Spark job, and the returned frame recomputes
    after executor loss (``_prefix_join``)."""
    t = _threshold(threshold)
    return _prefix_join(
        df, id_col, set_col, t,
        right_toks=_prefix(t),
        pair=(F.col("__ia") < F.col("__ib"))
        & (F.least("__sa", "__sb") >= F.lit(t) * F.greatest("__sa", "__sb")),
        sim=lambda n, na, nb: n / (na + nb - n),
        out_a=out_a, out_b=out_b, out_sim=out_sim,
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

    Exact: verified per candidate on the full sets; the brute-force
    oracle (q80) replays it in DuckDB. Published value rounded at 9;
    the threshold compares the unrounded int/int division.

    As for ``setsim_self_join``, building the plan runs no Spark job,
    and the returned frame recomputes after executor loss."""
    t = _threshold(threshold)
    return _prefix_join(
        df, id_col, set_col, t,
        right_toks=F.col("toks"),
        pair=(F.col("__ia") != F.col("__ib"))
        & (F.col("__sb") >= F.lit(t) * F.col("__sa")),
        sim=lambda n, na, nb: n / na,
        out_a=out_a, out_b=out_b, out_sim=out_sim,
    )
