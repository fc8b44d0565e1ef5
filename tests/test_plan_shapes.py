"""Physical-plan shape guards: the plans we'd want at 100TB, asserted
so they can't silently regress.

- filters/column pruning reach the parquet scan (PushedFilters /
  ReadSchema)
- small dims broadcast (BroadcastHashJoin), big joins stay shuffled
- global top-k compiles to TakeOrderedAndProject
- anti/semi joins are real anti/semi joins
"""

import pytest

from knowledge_harvest_from_lms_spark.plans.queries import QUERIES

from conftest import SF_SMALL


def plan_of(df, mode="formatted") -> str:
    qe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    return qe.explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def test_q01_filter_pushed_to_scan(spark):
    plan = plan_of(QUERIES["q01_pricing_summary"](spark, SF_SMALL))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: html-wide table not involved; scan reads only
    # the 7 needed lineitem columns
    assert "l_comment" not in plan


def test_q02_dims_broadcast(spark):
    plan = plan_of(QUERIES["q02_revenue_by_nation"](spark, SF_SMALL))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "BroadcastExchange" in plan


def test_q04_take_ordered(spark):
    plan = plan_of(QUERIES["q04_global_top200"](spark, SF_SMALL))
    assert "TakeOrderedAndProject" in plan


def test_q07_left_anti(spark):
    plan = plan_of(QUERIES["q07_anti_join"](spark, SF_SMALL))
    assert "LeftAnti" in plan


def test_q08_left_semi(spark):
    plan = plan_of(QUERIES["q08_semi_join"](spark, SF_SMALL))
    assert "LeftSemi" in plan


def test_q19_column_pruning(spark):
    plan = plan_of(QUERIES["q19_token_count"](spark, SF_SMALL))
    # only text+lang should be read from documents
    assert "ReadSchema" in plan
    assert "doc_id" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_q28_two_phase_agg(spark):
    plan = plan_of(QUERIES["q28_salted_word_count"](spark, SF_SMALL))
    # salted partial + final -> at least two distinct HashAggregate pairs
    assert plan.count("HashAggregate") >= 4


def test_q15_broadcast_anchor_side(spark):
    plan = plan_of(QUERIES["q15_cosine_topk"](spark, SF_SMALL))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_q23_topk_and_partial_agg(spark):
    plan = plan_of(QUERIES["q23_cooccur_triples"](spark, SF_SMALL), mode="simple")
    # rank<=5 pushes into WindowGroupLimit (partial+final) and the
    # count has a map-side combine — the shapes that matter at scale
    assert "WindowGroupLimit" in plan
    assert "partial_count" in plan


def test_entity_mentions_single_pass(spark):
    """VERDICT r1 item 5: entity_mentions must scan the corpus ONCE —
    the broadcast join happens map-side on the phrase stream and only
    (ent, salt) partial counts are ever exchanged. The old version
    joined back to web_pages and shuffled full page text."""
    from knowledge_harvest_from_lms_spark.operators.corpus_grounding import (
        entity_mentions,
    )

    pages = spark.read.parquet(f"{SF_SMALL}/documents.parquet").selectExpr(
        "cast(doc_id as string) as url", "text"
    )
    ents = spark.createDataFrame([("table",), ("fast scan",)], "ent string")
    plan = plan_of(entity_mentions(pages, ents), mode="simple")
    # one parquet scan of the corpus, entity side broadcast
    assert plan.count("Scan parquet") == 1, plan
    assert "BroadcastHashJoin" in plan
    # every shuffle carries only (ent, salt, url) aggregation keys —
    # never the page text the old two-pass version exchanged
    import re

    shuffles = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert shuffles, plan
    for s in shuffles:
        cols = {c.split("#")[0].strip() for c in s.split(",") if "#" in c}
        assert cols <= {"ent", "salt", "url"}, s


def test_salted_join_spreads_hot_key(spark):
    """J7 on a JOIN: with one entity on ~30% of pages, the salted
    shuffle join must (a) reproduce the broadcast join's counts exactly
    and (b) spread the hot entity's probe rows across many salts."""
    from pyspark.sql import functions as F

    from knowledge_harvest_from_lms_spark.operators.corpus_grounding import (
        entity_mentions,
        entity_mentions_salted_join,
        phrase_stream,
    )

    rows = []
    for i in range(300):
        hot = "anthill occurs here" if i % 3 == 0 else "nothing special today"
        rows.append((f"u{i}", f"page {i} text where {hot} and filler words"))
    pages = spark.createDataFrame(rows, "url string, text string")
    ents = spark.createDataFrame([("anthill",), ("filler words",)], "ent string")

    plain = {
        (r.ent): (r.n_mentions, r.n_docs)
        for r in entity_mentions(pages, ents).collect()
    }
    salted = {
        (r.ent): (r.n_mentions, r.n_docs)
        for r in entity_mentions_salted_join(pages, ents, salt_buckets=8).collect()
    }
    assert plain == salted
    assert plain["anthill"] == (100, 100)
    assert plain["filler words"] == (300, 300)

    # the hot key's probe rows land in >=2 salt buckets (no single
    # reducer sees the full stream)
    probe = phrase_stream(pages, [1]).withColumn(
        "salt", F.pmod(F.xxhash64("url"), F.lit(8)).cast("int")
    )
    n_salts = (
        probe.filter(F.col("phrase") == "anthill")
        .select("salt").distinct().count()
    )
    assert n_salts >= 2


def test_aqe_splits_skewed_join(spark):
    """Session config must let AQE split skewed partitions in a
    sort-merge join (the 100TB head-entity regime): one hot key
    carrying ~90% of the probe side gets partitioned into multiple
    tasks instead of one straggler."""
    from pyspark.sql import functions as F

    conf = spark.conf
    prev = {
        k: conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        )
    }
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
        big = spark.range(400_000).select(
            F.when(F.col("id") % 10 < 9, F.lit("hot")).otherwise(
                F.concat(F.lit("k"), (F.col("id") % 97).cast("string"))
            ).alias("k"),
            F.repeat(F.lit("x"), 64).alias("pad"),
        )
        dim = spark.range(200).select(
            F.when(F.col("id") == 0, F.lit("hot")).otherwise(
                F.concat(F.lit("k"), F.col("id").cast("string"))
            ).alias("k"),
            F.col("id").alias("v"),
        )
        joined = big.join(dim, "k").select("v")
        # executing THIS dataset finalizes ITS adaptive plan (count()
        # would run a different QueryExecution)
        n = len(joined.collect())
        # dim carries 'hot' and k1..k199; probe's k0 has no match
        expected = 360_000 + sum(
            1 for i in range(400_000) if i % 10 == 9 and i % 97 != 0
        )
        assert n == expected
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in prev.items():
            conf.set(k, v)


def test_q92_simhash_plan_is_pure_jvm(spark):
    """r3 portable SimHash: the whole pipeline (word explode, polynomial
    hashes, 60 bit-majority SUMs, chunk self-joins, bit_count verify)
    must stay JVM-side — no Python eval nodes — with map-side partial
    aggregation on the bit sums."""
    plan = plan_of(QUERIES["q92_simhash_pairs"](spark, SF_SMALL))
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
        assert node not in plan, node
    assert "HashAggregate" in plan and "partial_sum" in plan
    # every documents scan is pruned: the signature scan reads
    # (doc_id, text), the id-only left-join scan reads just doc_id,
    # and nothing reads lang/url
    reads = [seg.splitlines()[0] for seg in plan.split("ReadSchema")[1:]]
    assert any("text" in r for r in reads), reads
    assert all("lang" not in r and "url" not in r for r in reads), reads


def test_q37_cluster_plan_shuffles_ids_only(spark):
    """Exact-dup cluster decisions, the whole q37 plan: one window over
    the 512-char prefix, no Python nodes and no checkpoint scan — no
    component loop runs, so building the plan runs no Spark job."""
    from pyspark.sql import functions as F

    from knowledge_harvest_from_lms_spark.operators.dedup import dedup_documents_exact

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", F.col("text")
    )
    sc = spark.sparkContext
    group = "q37-plan-build"
    sc.setJobGroup(group, "dedup_documents_exact")
    try:
        df = dedup_documents_exact(docs, "text", "doc_id")
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == []
    plan = plan_of(df)
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, node
    assert "ExistingRDD" not in plan  # no localCheckpoint scan
    assert "Window" in plan  # prefix-group min
    # shuffle carries the 512-char prefix key, not full bodies: the
    # window partitions by the substring projection
    assert "substring" in plan.lower()


def test_q14_join_condition_cheap_first(spark):
    """q14's whole predicate must live IN the join condition, ordered
    cheap-first: the id compare and the lossless size-ratio bound have
    to be evaluated before the O(n*m) array_intersect, and no separate
    post-join Filter may reintroduce a pre-intersect copy (pushdown
    AND-s post-filters IN FRONT of the join condition — the shape this
    guard exists to prevent; measured 1.5x on the verify stage)."""
    plan = plan_of(QUERIES["q14_ngram_jaccard_pairs"](spark, SF_SMALL), "simple")
    join_lines = [l for l in plan.splitlines() if "BroadcastHashJoin" in l]
    assert len(join_lines) == 1, plan
    cond = join_lines[0]
    assert cond.index(" < ") < cond.index("least"), cond
    assert cond.index("least") < cond.index("array_intersect"), cond
    # the predicate is fully inside the join: no Filter node above it
    above = plan[: plan.index("BroadcastHashJoin")]
    assert "Filter" not in above, plan


def test_q44_linking_no_fuzzy_product(spark):
    """Entity linking must never degrade to an all-pairs fuzzy
    product: both the exact stage and the deletion-variant block are
    equi-joins (hash/sort-merge), best-match ranks compile to
    WindowGroupLimit, and no nested-loop/cartesian node appears."""
    plan = plan_of(QUERIES["q44_entity_linking"](spark, SF_SMALL))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "WindowGroupLimit" in plan
    assert "levenshtein" in plan.lower()  # verify stays JVM-side
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, node


def test_q56_substring_dedup_shape(spark):
    """Substring dedup (r4), asserted in two layers.

    Gram layer (duplicated_gram_positions): the winner min(struct) is
    sort-based, so it must aggregate only the DUPLICATED occurrences —
    the full gram stream's count aggregate stays a HashAggregate.

    Assembly layer (q56 top plan): the flagged-position set feeds four
    consumers; it must appear as a SHARED checkpointed RDD scan (one
    computation), never as per-branch re-inlined copies of the gram
    pipeline (Catalyst clones subtrees per consumer and no
    ReusedExchange fires across clones — measured 4x recompute, 2x
    wall-clock, before the lazy localCheckpoint)."""
    from knowledge_harvest_from_lms_spark.operators.substring_dedup import (
        duplicated_gram_positions,
    )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    gram_plan = plan_of(
        duplicated_gram_positions(docs, k=5, min_count=2), "simple"
    )
    sort_aggs = [l for l in gram_plan.splitlines() if "SortAggregate" in l]
    assert len(sort_aggs) == 2, gram_plan
    assert all("min(struct" in l for l in sort_aggs), gram_plan
    assert "HashAggregate" in gram_plan  # the raw gram count

    plan = plan_of(QUERIES["q56_substring_dedup"](spark, SF_SMALL), "simple")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, node
    assert "ExistingRDD" in plan, plan      # checkpointed flagged set
    assert "SortAggregate" not in plan, plan  # gram pipeline not re-inlined


def test_q57_dsir_model_broadcast(spark):
    """DSIR scoring: the fitted model (bounded by the bucket count, a
    config constant) and the 1-row totals must BROADCAST into the
    probe stream — the corpus-side feature stream never shuffles for
    the score join; everything stays JVM-side."""
    plan = plan_of(QUERIES["q57_dsir_scores"](spark, SF_SMALL), "simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, node
    # probe side: exactly two exchanges — the per-(doc,bucket) partial
    # count and the final per-doc aggregate (model-fit exchanges are
    # on bucket-bounded inputs)
    joins = [l for l in plan.splitlines() if "BroadcastHashJoin" in l]
    assert any("LeftOuter" in l for l in joins), plan


def test_q89_anchor_forms_single_scan_two_windows(spark):
    """anchor_surface_forms: ONE corpus scan (the totals-join
    formulation duplicated it — designed out), extraction fused into
    the scan projection (no Python eval node), and share + top-k as
    windows over the SAME dst_host partitioning."""
    plan = plan_of(QUERIES["q89_anchor_surface_forms"](spark, SF_SMALL))
    # one file-scan node: formatted mode prints each node in the tree
    # AND the details, so count the per-scan Location line instead
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "WindowGroupLimit" in plan  # top-k rank limit


def test_q100_walks_no_window_no_python(spark):
    """random_walks: neighbor choice is a min(struct) AGGREGATE —
    never a window over the (hot) vertex key, never Python. The
    final plan shows the last step over checkpointed scans."""
    plan = plan_of(QUERIES["q100_random_walks"](spark, SF_SMALL))
    assert "Window" not in plan
    assert "EvalPython" not in plan


def test_q101_closure_final_plan_is_checkpointed_union(spark):
    """bounded_closure: each round's anti-join is collapsed behind an
    eager localCheckpoint (lineage O(1) — the pagerank/components
    discipline), so the FINAL plan is just a union over checkpointed
    scans; no Python, no Window anywhere."""
    plan = plan_of(QUERIES["q101_bounded_closure"](spark, SF_SMALL))
    assert "Union" in plan
    assert "Scan ExistingRDD" in plan  # checkpointed rounds
    assert "Window" not in plan
    assert "EvalPython" not in plan


def test_q102_hearst_one_scan_one_exchange_no_python(spark):
    """hearst_isa: all four pattern extractions fused as JVM regex
    into ONE corpus scan projection; list split + explode row-linear;
    the (hypo, hyper, pattern) count collapses map-side (partial
    HashAggregate BELOW the single Exchange — Zipf-headed hypernyms
    absorbed before the shuffle); no Python eval, no Window."""
    plan = plan_of(QUERIES["q102_hearst_isa"](spark, SF_SMALL))
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "EvalPython" not in plan
    assert "Window" not in plan
    # tree lines print as "NodeName (id)"; details as "(id) NodeName"
    assert plan.count("Exchange (") == 1, plan
    # partial agg below the exchange: HashAggregate appears twice
    assert plan.count("HashAggregate (") == 2, plan


def test_q103_openie_one_scan_one_exchange_no_python(spark):
    """open_ie: tokenization + candidate generation + bounded
    prep-run resolution are all JVM higher-order Column functions
    over per-sentence arrays — ONE corpus scan, no Python eval, no
    Window, no join; the triple count collapses map-side below the
    single Exchange (the positional-join formulation the oracle uses
    would shuffle the token stream three times — designed out)."""
    plan = plan_of(QUERIES["q103_open_ie"](spark, SF_SMALL))
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "EvalPython" not in plan
    assert "Window" not in plan
    assert "Join" not in plan
    assert plan.count("Exchange (") == 1, plan
    assert plan.count("HashAggregate (") == 2, plan


def test_q104_siblings_one_scan_one_exchange_no_join(spark):
    """hearst_siblings: pair generation is a row-local nested
    transform over the split list (bounded by grammar, not data) —
    the positional self-join the oracle uses would shuffle the item
    stream; here there is NO join, one scan, one exchange with a
    map-side partial count."""
    plan = plan_of(QUERIES["q104_hearst_siblings"](spark, SF_SMALL))
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "EvalPython" not in plan
    assert "Window" not in plan
    assert "Join" not in plan
    assert plan.count("Exchange (") == 1, plan
    assert plan.count("HashAggregate (") == 2, plan


def test_q105_corroborate_two_aggs_no_python(spark):
    """corroborated isa: pattern-level counts collapse first (q102's
    one-exchange aggregate), then evidence folds per (subj, rel, obj)
    — a second map-side-combining aggregate whose collect_set state
    is bounded by the SOURCE count, not the corpus. One scan, no
    Python, no Window, no join."""
    plan = plan_of(QUERIES["q105_corroborated_isa"](spark, SF_SMALL))
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "EvalPython" not in plan
    assert "Window" not in plan
    assert "Join" not in plan
    assert plan.count("Exchange (") == 2, plan


def test_q106_taxonomy_aggregate_argmax_no_window(spark):
    """induce_taxonomy: best-parent = max(struct) AGGREGATE (map-side
    combining — a hot child's 10^5 candidate parents collapse per
    partition; the row_number formulation the oracle uses would
    shuffle the full candidate stream to one reducer per hot child),
    then ONE self-join on the aggregated |children|-row table. No
    Window, no Python."""
    plan = plan_of(QUERIES["q106_taxonomy"](spark, SF_SMALL))
    assert "Window" not in plan
    assert "EvalPython" not in plan
    assert "Join" in plan


def test_q117_filtered_ranks_no_window_no_sort(spark):
    """filtered_ranks: the rank is 1 + COUNT(beaters) through one
    (subj, pred) equi-join + conditional hash aggregate — NEVER a
    window or sort over the candidate lists (a per-query row_number
    would sort every 10^4-candidate list of 10^7 queries end to
    end). The only nested-loop nodes are the fixture's deliberate
    25-row broadcast dim cross join."""
    plan = plan_of(QUERIES["q117_ranking_metrics"](spark, SF_SMALL))
    assert "Window" not in plan
    assert "Sort (" not in plan
    assert "EvalPython" not in plan
    assert "HashAggregate" in plan


def test_q118_ntriples_parse_is_scan_fused(spark):
    """parse_ntriples: the whole grammar — anchored triple regex,
    term classification, sentinel-ordered unescape — compiles to JVM
    expressions fused into the scan: ZERO exchanges, no join, no
    Python, no window. A 10^12-line dump parses at scan speed."""
    plan = plan_of(QUERIES["q118_ntriples_roundtrip"](spark, SF_SMALL))
    assert plan.count("Exchange (") == 0, plan
    assert "Join" not in plan
    assert "EvalPython" not in plan
    assert "Window" not in plan


def test_q119_bgp_constant_filters_reach_scans(spark):
    """bgp_match: constant terms become scan-fused filters (the
    region constant lands in a Filter directly over the nation scan,
    never post-join), the most-constrained pattern drives the join
    order, and the dim-sized pattern sides broadcast. No window, no
    Python, no cartesian node."""
    plan = plan_of(QUERIES["q119_bgp_match"](spark, SF_SMALL))
    assert "Window" not in plan
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # the in_region constant filter is evaluated against the scan
    # output (pre-join Filter), visible as the literal in a Filter
    # condition over the nation columns
    assert "= r0" in plan


def test_q120_rule_mining_aggregates_only_no_window(spark):
    """mine_path_rules: every AMIE metric is a map-side-combining
    hash aggregate over the wedge-join body table — support,
    head_size, n_body, pca_body all collapse per partition; no
    metric needs a window or a per-rule sort (a 10^10-edge KG's hot
    path type folds map-side). The rule-space-sized side tables
    join back hash-to-hash; no cartesian node anywhere."""
    plan = plan_of(QUERIES["q120_rule_mining"](spark, SF_SMALL))
    assert "Window" not in plan
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" in plan


def test_q121_rule_inference_broadcasts_rules_anti_joins_known(spark):
    """apply_rules: the mined rule table (rule-space-sized, bounded
    by |path types|x|predicates|) BROADCASTS onto the KG-scale path
    instances — the conclusions never shuffle on the rule key — and
    known edges leave via LEFT ANTI. max(confidence) is an aggregate,
    not a window."""
    plan = plan_of(QUERIES["q121_rule_inference"](spark, SF_SMALL))
    assert "Window" not in plan
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "LeftAnti" in plan


def test_q122_transe_step_jvm_hofs_no_python_no_window(spark):
    """transe_step: all per-dimension math (h+r-t geometry, squared
    distances, subgradients) runs as JVM higher-order functions
    INSIDE the embedding rows — no per-dimension join, no Python, no
    window; the only explode feeds the (id, i) gradient hash
    aggregate whose map-side partials absorb hub entities. Role
    lookups are plain equi-joins on the narrow id key."""
    plan = plan_of(QUERIES["q122_transe_step"](spark, SF_SMALL))
    assert "EvalPython" not in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" in plan
    assert "Generate" in plan  # the single posexplode boundary


def test_q123_transe_energies_no_explode_no_window(spark):
    """transe_distance: the L2² energy folds in array-index order
    INSIDE each joined row (JVM aggregate HOF) — no explode, no
    window, no Python; three narrow-key role equi-joins only."""
    plan = plan_of(QUERIES["q123_transe_energies"](spark, SF_SMALL))
    assert "EvalPython" not in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "Generate" not in plan


def _filters_with_transform(df) -> list[str]:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return [ln for ln in plan.splitlines() if "Filter" in ln and "transform(" in ln]


def test_similarity_gram_explodes_infer_no_transform_filter(spark):
    """The gram arrays of the LSH posting stream and of setsim's
    token stream are exploded as expressions: exploding a named column
    makes the optimizer infer a size(...) > 0 Filter, into which
    pushdown substitutes the gram transform — a second evaluation of
    every gram array (and, for q73/q80, of the 120-char substring
    inlined into the lambda)."""
    from pyspark.sql import functions as F

    from knowledge_harvest_from_lms_spark.operators.graph import _gram_postings
    from knowledge_harvest_from_lms_spark.operators.setsim import (
        containment_join,
        setsim_self_join,
    )
    from knowledge_harvest_from_lms_spark.plans.queries import _head_grams

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    ents = docs.select(F.substring("text", 1, 512).alias("ent"))
    assert _filters_with_transform(_gram_postings(ents)) == []

    pre, g = _head_grams(docs, 120, "doc_id")
    grams = pre.select("doc_id", g.alias("g"))
    for join in (setsim_self_join, containment_join):
        assert _filters_with_transform(join(grams, "doc_id", "g", 0.5)) == []
