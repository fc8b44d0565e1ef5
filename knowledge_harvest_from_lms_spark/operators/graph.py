"""Entity canonicalization + graph materialization (north_star:
"entity canonicalization via salted groupBy + minhash-LSH dedup into a
materialized edge/vertex Iceberg graph"; SURVEY.md §1.3, J7/J8).

Pipeline:
  1. distinct entity strings from the harvested triples;
  2. MinHash-LSH over character 3-grams (JVM-side xxhash64, no Python)
     → near-duplicate pairs above a Jaccard threshold;
  3. connected groups via the star loop on the pair graph
     (operators/components.py: min-id per component, O(log n)
     rounds whatever the component's shape);
  4. canonical id = xxhash64(canonical string) — deterministic across
     runs and partitionings (no monotonically_increasing_id);
  5. edges aggregated with a single hash groupBy — map-side partial
     aggregation already combines head entities ("people", "water")
     per task, so hot keys reach the reducer pre-collapsed (explicit
     salting is reserved for the JOIN path, where no partial agg can
     help: operators/corpus_grounding.py entity_mentions_salted_join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from . import bitsets
from .components import star_forest

N_MINHASH = 32
SHINGLE = 3


def char_shingles(col, n: int = SHINGLE):
    """Distinct character n-grams of ``col`` (space-padded), in
    first-occurrence order; a string shorter than n yields its whole
    padded form, NULL yields [NULL]."""
    padded = F.concat(F.lit(" "), col, F.lit(" "))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(padded) - (n - 1), F.lit(1))),
            lambda i: padded.substr(i, F.lit(n)),
        )
    )


def minhash_signature(grams_col, n_hashes: int = N_MINHASH):
    """array of n_hashes min-values; hash_i(gram) = xxhash64(gram, i).

    NB: the seed is captured via a factory, never a `lambda g, i=i:`
    default arg — PySpark counts lambda params for higher-order-
    function arity, so a 2-param lambda binds the 2nd to the ELEMENT
    INDEX (which silently turned all 32 permutations into one
    position-dependent hash and killed near-dup recall)."""

    def perm_min(i: int):
        return F.array_min(F.transform(grams_col, lambda g: F.xxhash64(g, F.lit(i))))

    return F.array(*[perm_min(i) for i in range(n_hashes)])


def _gram_postings(ents: DataFrame) -> DataFrame:
    """(ent, gram) rows: one per distinct character 3-gram of ``ent``.

    The gram array is exploded as an expression, not through a named
    column: exploding a bare attribute makes the optimizer infer a
    ``size(grams) > 0`` filter, and pushdown substitutes the alias into
    it, so the shingle ``transform`` would run twice per entity."""
    return ents.select("ent", F.explode(char_shingles(F.col("ent"))).alias("gram"))


def _band_shape(
    sim_threshold: float, n_hashes: int, n_bands: int | None
) -> tuple[int, int]:
    """(rows per band, bands). Unless ``n_bands`` is given, rows is the
    LARGEST r (most selective buckets) whose candidate recall for a
    pair AT the threshold, 1-(1-t^r)^(n_hashes//r), stays >= 0.9 —
    e.g. r=2/b=16 at t=0.5, r=3/b=10 at t=0.7, r=7/b=4 at t=0.9 with 32
    hashes (a fixed 8x4 banding had only ~0.89 recall at t=0.7 and
    ~0.4 at t=0.5; and deriving b first then recomputing
    rows = n_hashes//b inflated r past the guarantee)."""
    if n_bands is not None:
        return n_hashes // n_bands, n_bands
    for r in range(min(n_hashes, 30), 0, -1):
        if (1.0 - sim_threshold**r) ** (n_hashes // r) <= 0.1:
            return r, max(1, n_hashes // r)
    return 1, n_hashes


def _banded(
    ents: DataFrame, sim_threshold: float, n_hashes: int, n_bands: int | None
) -> DataFrame:
    """(ent, grams, band, bucket) rows — the shared LSH banding of an
    entity column, shaped by ``_band_shape``."""
    rows, n_bands = _band_shape(sim_threshold, n_hashes, n_bands)
    sig = (
        ents.select("ent")
        .withColumn("grams", char_shingles(F.col("ent")))
        .withColumn("sig", minhash_signature(F.col("grams"), n_hashes))
    )
    return sig.select(
        "ent",
        "grams",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                F.transform(
                                    F.slice("sig", b * rows + 1, rows),
                                    lambda x: x.cast("string"),
                                ),
                            )
                        ).alias("bucket"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select(
        "ent", "grams", F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
    )


def lsh_candidate_pairs(
    ents: DataFrame, sim_threshold: float = 0.7, n_hashes: int = N_MINHASH,
    n_bands: int | None = None,
) -> DataFrame:
    """ents(ent) → (ent_a, ent_b, jaccard) for near-duplicates.

    Banding (``_band_shape``): equal band-hash → candidate. The
    minhash values are 32 codegen'd MIN aggregates over the exploded
    (ent, gram) posting stream, computed in the same ``groupBy`` that
    encodes each entity's gram set for ``bitsets``; each pair is
    emitted once, at its FIRST shared band (no bucket collision in any
    earlier band), and verified there with the exact bitset
    intersection, so candidate pairs never shuffle. The posting
    stream and the encoded table are each localCheckpointed once, so
    every entity is shingled once."""
    rows, n_bands = _band_shape(sim_threshold, n_hashes, n_bands)
    post = _gram_postings(ents).localCheckpoint()
    minaggs = [
        F.min(F.xxhash64("gram", F.lit(i))).alias(f"_h{i}") for i in range(n_hashes)
    ]
    buckets = F.array(
        *[
            F.xxhash64(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"_h{b * rows + j}").cast("string")
                        for j in range(rows)
                    ],
                )
            )
            for b in range(n_bands)
        ]
    )
    enc = (
        bitsets.encode(post, ["ent"], "gram", post.groupBy("gram").count(), *minaggs)
        .withColumn("bks", buckets)
        .drop(*[f"_h{i}" for i in range(n_hashes)])
        .localCheckpoint()
    )
    a, b = (
        bitsets.side(enc, t).select("*", F.posexplode(f"bks_{t}").alias("band", "bucket"))
        for t in ("a", "b")
    )
    first_band = F.expr(
        "size(filter(zip_with(slice(bks_a, 1, band), slice(bks_b, 1, band), "
        "(x, y) -> x = y), v -> v)) = 0"
    )
    inter = bitsets.intersection("a", "b")
    jac = inter / (F.col("sz_a") + F.col("sz_b") - inter)
    cond = (
        (F.col("ent_a") < F.col("ent_b"))
        & first_band
        & (jac >= sim_threshold)
    )
    return (
        a.join(b, ["band", "bucket"])
        .filter(cond)
        .select("ent_a", "ent_b", jac.alias("jaccard"))
    )


def build_vertex_band_index(
    ents: DataFrame, sim_threshold: float = 0.7,
    n_hashes: int = N_MINHASH, n_bands: int | None = None,
) -> DataFrame:
    """Materializable LSH band index of an entity column: the
    (ent, grams, band, bucket) rows ``lsh_cross_pairs`` needs for its
    build side. Persist this as a side table of the vertex table and
    APPEND the output of this function over just the new vertices per
    incremental drop (banding is row-local, so append == rebuild) —
    instead of re-shingling and re-banding the entire vertex table on
    every merge (ADVICE r3). Must be built with the same
    sim_threshold / n_hashes / n_bands the consuming ``lsh_cross_pairs``
    call uses, since rows-per-band derive from them; duplicate rows
    (e.g. an append replayed after a crash) are harmless — the
    candidate join dedups pairs."""
    return _banded(ents, sim_threshold, n_hashes, n_bands)


def lsh_cross_pairs(
    probe: DataFrame, build: DataFrame, sim_threshold: float = 0.7,
    n_hashes: int = N_MINHASH, n_bands: int | None = None,
    build_banded: DataFrame | None = None,
) -> DataFrame:
    """probe(ent) × build(ent) → (ent, other, jaccard) near-dup pairs
    ACROSS the two sides only (no probe-probe or build-build pairs) —
    the same minhash buckets as lsh_candidate_pairs, but the bucket
    join is probe-vs-build, so linking a small new-drop entity set
    against a huge existing vertex table never pays the vertex-table
    self-join. Pairs are verified with ``array_intersect`` over the
    stored gram arrays, not ``bitsets``: every ``bitsets.encode`` call
    ranks its own dictionary, so bit positions from two appends of the
    band index, or from probe vs build, would not line up.

    ``build_banded``: a persisted ``build_vertex_band_index`` table
    for the build side; when given, ``build`` is not scanned and only
    the (small) probe side is shingled/banded per call."""
    a = _banded(probe, sim_threshold, n_hashes, n_bands).select(
        "band", "bucket", F.col("ent").alias("ent"), F.col("grams").alias("ga")
    )
    b = (
        build_banded
        if build_banded is not None
        else _banded(build, sim_threshold, n_hashes, n_bands)
    ).select(
        "band", "bucket", F.col("ent").alias("other"), F.col("grams").alias("gb")
    )
    pairs = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("ent") != F.col("other"))
        .dropDuplicates(["ent", "other"])
    )
    inter = F.size(F.array_intersect("ga", "gb"))
    jac = inter / (F.size("ga") + F.size("gb") - inter)
    return pairs.withColumn("jaccard", jac).filter(
        F.col("jaccard") >= sim_threshold
    ).select("ent", "other", "jaccard")


def canonical_map(ents: DataFrame, pairs: DataFrame) -> DataFrame:
    """``ents`` plus ``canonical``: the minimum ent of each row's
    connected component in the similarity graph ``pairs(ent_a,
    ent_b)``, whose ends are ``ents`` values; an ent in no pair maps to
    itself. Other columns of ``ents`` ride along, and an ent may
    repeat (dedup passes one row per document, keyed by its prefix).

    The components come from the star loop
    (``components.star_forest``): O(log n) rounds whatever the
    component's shape, so long or adversarially ordered chains end in
    one label. This step only left-joins ``ents`` to the converged
    member → root edges. The loop reads ``pairs`` once (for LSH
    callers: the band join and its exact verify)."""
    roots = star_forest(
        pairs.select(F.col("ent_a").alias("src"), F.col("ent_b").alias("dst"))
    ).select(F.col("src").alias("ent"), F.col("dst").alias("_root"))
    return (
        ents.join(roots, "ent", "left")
        .withColumn("canonical", F.coalesce("_root", "ent"))
        .drop("_root")
    )


def _raw_edges(triples: DataFrame) -> DataFrame:
    """(rel, src_ent, dst_ent, weight) rows: every consecutive slot
    pair contributes an edge — binary relations give
    (ents[0] → ents[1]); ternary (e.g. somebody_do_something_at,
    reference relation_info) additionally give (ents[1] → ents[2])."""
    slot_pairs = F.transform(
        F.sequence(F.lit(0), F.size("ents") - 2),
        lambda i: F.struct(
            F.lower(F.get("ents", i)).alias("src_ent"),
            F.lower(F.get("ents", i + 1)).alias("dst_ent"),
        ),
    )
    return (
        triples.filter(F.size("ents") >= 2)
        .select("rel", "weight", F.explode(slot_pairs).alias("_sp"))
        .select("rel", F.col("_sp.src_ent").alias("src_ent"),
                F.col("_sp.dst_ent").alias("dst_ent"), "weight")
    )


def _edge_endpoints(raw_edges: DataFrame) -> DataFrame:
    return (
        raw_edges.select(F.col("src_ent").alias("ent"))
        .union(raw_edges.select(F.col("dst_ent").alias("ent")))
        .distinct()
    )


def materialize_graph(
    triples: DataFrame, sim_threshold: float = 0.7
) -> dict[str, DataFrame]:
    """triples(rel, ents[2+], weight) → {vertices, edges, ent_map}.

    Edge aggregation is a single hash groupBy: Spark's map-side
    partial aggregation already combines hot (src, rel, dst) keys per
    task, so an explicit salt would only add a second shuffle (r2
    verdict flagged the salted variant here as redundant — the
    genuinely skew-bound path is the mention-count JOIN, covered by
    entity_mentions_salted_join, J7)."""
    raw_edges = _raw_edges(triples)
    ents = _edge_endpoints(raw_edges)
    pairs = lsh_candidate_pairs(ents, sim_threshold)
    cmap = canonical_map(ents, pairs)

    e = (
        raw_edges.join(
            cmap.select(F.col("ent").alias("src_ent"), F.col("canonical").alias("src")),
            "src_ent",
        )
        .join(
            cmap.select(F.col("ent").alias("dst_ent"), F.col("canonical").alias("dst")),
            "dst_ent",
        )
    )
    edges = (
        e.groupBy("src", "rel", "dst")
        # round-9 at every weight-sum publication: merge order follows
        # shuffle fetch order, raw float sums wobble in the last ulp
        # run-to-run (txn-parity flake)
        .agg(F.round(F.sum("weight"), 9).alias("weight"),
             F.count(F.lit(1)).alias("n_mentions"))
        .withColumn("src_id", F.xxhash64("src"))
        .withColumn("dst_id", F.xxhash64("dst"))
    )
    vertices = (
        cmap.select("canonical").distinct()
        .select(F.xxhash64("canonical").alias("ent_id"), F.col("canonical").alias("ent"))
    )
    return {"vertices": vertices, "edges": edges, "ent_map": cmap}


def merge_into_graph(
    existing_vertices: DataFrame,
    existing_edges: DataFrame,
    triples: DataFrame,
    sim_threshold: float = 0.7,
    vertex_index: dict[str, DataFrame] | None = None,
) -> dict[str, DataFrame]:
    """Incremental graph update: merge newly harvested triples into an
    already-materialized vertex/edge graph (north-rule "entity
    linking" wired into the graph lifecycle).

    1. Surface forms in the new triples LINK against the existing
       vertex table (operators/entity_linking.py: exact normalized
       equi-join + deletion-blocked fuzzy at edit 1) — linked forms
       adopt the existing vertex's canonical string and ent_id, so
       vertex ids stay STABLE across drops (no re-clustering of the
       whole graph per increment, which at 10^12 docs would be a full
       recompute).
    2. Forms still unlinked also JACCAR-link against existing vertex
       strings through the SAME MinHash-LSH banding the clustering
       uses (lsh_cross_pairs, best match by jaccard desc / name asc):
       a near-dup of an existing vertex beyond the edit-1 bound (e.g.
       "giraffe sp." vs "giraffe") attaches to it instead of minting a
       duplicate vertex — which also makes a crash-replay after vertex
       promotion converge to the same graph a crash-free run produces
       for direct near-dups (review r3; multi-hop chains spanning the
       crash boundary can still split — the full closure is an Iceberg
       transactional commit of vertices+edges+ledger).
    3. Only the remaining unlinked forms cluster among themselves
       (MinHash-LSH candidate pairs + canonical_map's star loop —
       same kernel as materialize_graph).
    4. Edges aggregate on the resolved endpoints and merge with the
       existing edge table by key: weights and mention counts sum.

    Inputs follow materialize_graph's output schemas:
    vertices(ent_id, ent), edges(src, rel, dst, weight, n_mentions,
    src_id, dst_id). Returns the same {vertices, edges, ent_map}
    shape, where ent_map covers the NEW surface forms only.

    ``vertex_index``: optional persisted side tables of the existing
    vertex table — {"bands": build_vertex_band_index(existing vertex
    names at the SAME sim_threshold), "variants":
    entity_linking.build_variant_index(existing vertices)}. With them,
    a drop pays O(|drop|) link work instead of re-shingling /
    re-exploding all existing vertices per merge (ADVICE r3); the
    caller appends the same builders' output over ``new_vertices`` to
    the side tables after each merge (see jobs/run_incremental.py).
    """
    from .entity_linking import link_entities

    raw_edges = _raw_edges(triples)
    ents = _edge_endpoints(raw_edges)

    vnames = existing_vertices.select(
        F.col("ent_id").alias("vertex_id"), F.col("ent").alias("name")
    )
    idx = vertex_index or {}
    link = link_entities(ents, vnames, vertex_variants=idx.get("variants"))
    # eager: this plan (exact + deletion-variant joins against the full
    # vertex table) is referenced by the src join, the dst join and the
    # vertices union below — without the checkpoint each downstream
    # action re-pays the fuzzy-link shuffle (review r3)
    linked = link.filter(F.col("method") != "none").select(
        "ent",
        F.col("vertex_name").alias("canonical"),
        F.col("vertex_id").alias("ent_id"),
    ).localCheckpoint(eager=True)
    unlinked = ents.join(linked.select("ent"), "ent", "left_anti")
    cross = lsh_cross_pairs(
        unlinked, vnames.select(F.col("name").alias("ent")), sim_threshold,
        build_banded=idx.get("bands"),
    )
    jac_best = W.partitionBy("ent").orderBy(F.desc("jaccard"), "other")
    jac_linked = (
        cross.withColumn("_rn", F.row_number().over(jac_best))
        .filter(F.col("_rn") == 1)
        .join(vnames, F.col("other") == vnames.name)
        .select(
            "ent", F.col("name").alias("canonical"),
            F.col("vertex_id").alias("ent_id"),
        )
        .localCheckpoint(eager=True)
    )
    linked = linked.unionByName(jac_linked)
    fresh = unlinked.join(jac_linked.select("ent"), "ent", "left_anti")
    fresh_map = canonical_map(fresh, lsh_candidate_pairs(fresh, sim_threshold))
    cmap = linked.unionByName(
        fresh_map.select("ent", "canonical", F.xxhash64("canonical").alias("ent_id"))
    )

    resolved = (
        raw_edges.join(
            cmap.select(F.col("ent").alias("src_ent"),
                        F.col("canonical").alias("src"),
                        F.col("ent_id").alias("src_id")),
            "src_ent",
        )
        .join(
            cmap.select(F.col("ent").alias("dst_ent"),
                        F.col("canonical").alias("dst"),
                        F.col("ent_id").alias("dst_id")),
            "dst_ent",
        )
        .groupBy("src", "rel", "dst", "src_id", "dst_id")
        .agg(F.round(F.sum("weight"), 9).alias("weight"),
             F.count(F.lit(1)).alias("n_mentions"))
    )
    edges = (
        existing_edges.select(
            "src", "rel", "dst", "src_id", "dst_id", "weight", "n_mentions"
        )
        .unionByName(resolved.select(
            "src", "rel", "dst", "src_id", "dst_id", "weight", "n_mentions"
        ))
        .groupBy("src", "rel", "dst", "src_id", "dst_id")
        .agg(F.round(F.sum("weight"), 9).alias("weight"),
             F.sum("n_mentions").alias("n_mentions"))
        .select("src", "rel", "dst", "weight", "n_mentions", "src_id", "dst_id")
    )
    new_vertices = (
        cmap.select("ent_id", F.col("canonical").alias("ent")).distinct()
        .join(existing_vertices.select("ent_id"), "ent_id", "left_anti")
    )
    vertices = existing_vertices.unionByName(new_vertices)
    return {"vertices": vertices, "edges": edges, "ent_map": cmap}


def pagerank(
    edges: DataFrame,
    iters: int = 5,
    damping: float = 0.85,
    weight_col: str = "weight",
) -> DataFrame:
    """Weighted PageRank over a directed edge list (src, dst, weight):
    entity importance for the materialized KG. Rank mass follows
    out-edges in proportion to weight; dangling nodes (no out-edge)
    spread theirs uniformly — standard damped PageRank, Σ rank = 1 at
    every iteration. A NULL node joins no edge, so it neither passes
    nor redistributes mass.

    One checkpointed node frame ``(node, out_w, dangling)`` from one
    groupBy over both edge ends. Per iteration the (edges ⋈ ranks)
    messages ``p · rank`` and the rank rows, which carry ``dangling``,
    meet in one groupBy on node; the dangling mass is a one-row
    aggregate broadcast into that update, so the loop never
    round-trips to the driver; an eager localCheckpoint keeps plan
    depth O(1).

    Fixed ``iters`` (not convergence detection): the q46 DuckDB oracle
    replays the exact same number of unrolled iterations, making the
    iterative operator equality-checkable without recursive-CTE
    aggregation (which SQL recursion disallows)."""
    nodes = (
        edges.select(F.col("src").alias("node"), weight_col, F.lit(True).alias("out"))
        .union(edges.select("dst", F.lit(None), F.lit(False)))
        .groupBy("node")
        .agg(F.sum(weight_col).alias("out_w"),
             (F.col("node").isNotNull() & ~F.max("out")).alias("dangling"))
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        # degenerate harvest (e.g. grounding left no edges): empty
        # ranks, not ZeroDivisionError (review r3)
        return nodes.select("node", F.lit(0.0).alias("rank"))
    e = (
        edges.join(nodes.select(F.col("node").alias("src"), "out_w"), "src")
        .where(F.col("dst").isNotNull())  # a NULL dst takes no mass
        .select("src", "dst", (F.col(weight_col) / F.col("out_w")).alias("p"))
        .localCheckpoint(eager=True)
    )
    ranks = nodes.select("node", "dangling", F.lit(1.0 / n).alias("rank"))
    mass = F.coalesce(F.sum(F.when(F.col("dangling"), F.col("rank"))), F.lit(0.0))
    rank = F.lit((1.0 - damping) / n) + F.lit(damping) * (
        F.coalesce("in_sum", F.lit(0.0)) + F.col("mass") / F.lit(n)
    )
    for _ in range(iters):
        msgs = e.join(ranks, e.src == ranks.node).select(
            F.col("dst").alias("node"), F.lit(None).alias("dangling"),
            (F.col("p") * F.col("rank")).alias("c"),
        )
        ranks = (
            msgs.union(ranks.select("node", "dangling", F.lit(None)))
            .groupBy("node")
            .agg(F.max("dangling").alias("dangling"), F.sum("c").alias("in_sum"))
            .crossJoin(F.broadcast(ranks.agg(mass.alias("mass"))))
            .select("node", "dangling", rank.alias("rank"))
            .localCheckpoint(eager=True)
        )
    return ranks.select("node", "rank")
