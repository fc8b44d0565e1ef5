#!/usr/bin/env python
"""Regenerate PLANS.md: formatted physical plans of the headline
queries with the scale-relevant properties called out. Run after any
query change: `python scripts/dump_plans.py`."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from knowledge_harvest_from_lms_spark.plans.queries import QUERIES  # noqa: E402
from knowledge_harvest_from_lms_spark.session import get_session  # noqa: E402

SHOW = {
    "q01_pricing_summary": "filter pushed to parquet scan; exact integer-cents partial+final agg",
    "q02_revenue_by_nation": "dims broadcast (2x BroadcastHashJoin); fact scan prunes to 3 columns",
    "q04_global_top200": "global top-k compiles to TakeOrderedAndProject (no full sort)",
    "q07_anti_join": "resume-skip shape: LeftAnti join",
    "q14_ngram_jaccard_pairs": "anchors broadcast; full predicate in the join condition CHEAP-FIRST (id compare -> lossless size-ratio bound -> exact jaccard), so most pairs never pay the O(n*m) intersect",
    "q15_cosine_topk": "anchor side broadcast; per-query rank via WindowGroupLimit",
    "q22_graph_edges": "4-way join; supplier broadcast; map-side partial aggregation",
    "q23_cooccur_triples": "co-occur self-join; rank<=5 pushed into partial+final WindowGroupLimit",
    "q28_salted_word_count": "salted two-phase aggregation (hot-key pattern), equals plain group-by",
    "q34_entity_mentions": "SINGLE corpus scan; n-grams projected in the scan; entity side broadcast; shuffles carry only (ent,salt,url)",
    "q35_salted_skew_join": "skew-safe shuffle join: probe salted by hash(url), entity side exploded x salt",
    "q36_bpe_token_count": "regexp_count stays in whole-stage codegen; partial+final agg",
    "q37_dedup_documents": "min-id keeper from ONE window over the 512-char prefix (the shuffle key is the prefix, never the body); no component loop, so building the plan runs no Spark job",
    "q92_simhash_pairs": "r3 portable SimHash: NO Python eval nodes anywhere — explode+hash in codegen, 60 SUMs partial+final, pigeonhole chunk self-joins on (chunk,id,sig)",
    "q39_entity_mentions_punct": "punct word mode keeps the single-scan shape: regex split in the scan projection",
    "q44_entity_linking": "two-stage link: exact normalized equi-join, then deletion-variant equi-join over ONLY the unlinked remainder — no nested-loop fuzzy product; per-mention best via WindowGroupLimit",
    "q45_graph_materialize_text": "full graph materialize: banded LSH bucket equi-joins (no all-pairs), star rounds pre-collapsed by localCheckpoint, single hash agg for edges (map-side partial combine)",
    "q46_pagerank": "iterative rank propagation: plan depth O(1) per iteration (eager localCheckpoint cuts lineage — the final plan shows only the LAST iteration's join+agg over checkpointed scans)",
    "q96_ann_lsh_topk": "r4 soundness form: LSH probe side broadcast per table; the audit's exact-cosine recompute joins only the REPORTED (query,item) pairs back to the corpus (k x queries rows, never all-pairs), posexplode stays in codegen",
    "q99_ann_ivf_topk": "IVF: sampled KMeans fit, centroid table broadcast, probes join only n_probe/n_lists of the corpus; same reported-pairs-only audit join as q96",
    "q97_multimodal_features": "modality-repartitioned decode (homogeneous Arrow batches per codec); audit is a second mapInPandas over (content, features) joined by media_id — binary payloads shuffle once",
    "q48_ngram_repetition": "r4 Gopher repetition stats: row-local mapInPandas over a 2-column pruned scan — NO Exchange before the map (repetition is a per-document property; implementation picked by measurement, see operator docstring); only the final JVM-side round() projection follows",
    "q49_url_canonical": "r4 canonical-URL dedup key: one Column expression (regexp + array_sort) fused into the scan projection; the only exchange is the groupBy on the canonical key",
    "q51_paragraph_dedup": "r4 cross-doc paragraph dedup: winner per paragraph is a partial-agg min (NO Window node — a hot boilerplate key would pin one reducer), reassembly groupBy on the uniform doc key, ids-only row-preserving join",
    "q53_decontamination": "r4 decontamination: corpus grams built in the projection (zipped shifted slices), benchmark gram set BROADCAST — BroadcastHashJoin, no corpus-side gram shuffle; per-doc count agg",
    "q54_perplexity_scores": "r4 bigram-LM perplexity: model is a DataFrame; score join is a shuffle equi-join on (w1,w2) with the probe side pre-collapsed per doc (head bigrams are AQE skew-split candidates); training aggregates feed it in the same plan",
    "q55_boilerplate_removal": "r4 host boilerplate: two-phase countDistinct on (host,line) (partials absorb a shared footer), LEFT ANTI join for removal, uniform-key reassembly + ids-only row-preserving join",
    "q56_substring_dedup": "r4 exact-substring span dedup: gram COUNT first (HashAggregate partials over the full stream), winner min(struct) — sort-based — only over the duplicated remainder, both behind the lazily-checkpointed flagged set (shared RDD scan in this plan — Catalyst would otherwise clone the gram pipeline per consumer, measured 4x); semi/anti ROUTING so only affected docs pay tokenize + collect_list reassembly",
    "q57_dsir_scores": "r4 DSIR importance scoring: both model fits are bucket-bounded aggregates; the model + 1-row totals BROADCAST into the probe feature stream (no corpus-side score shuffle); per-doc aggregate is the only big exchange",
    "q58_langid_train_predict": "r4 trainable char-ngram langid: profiles/totals are reference-bounded; scoring crosses distinct doc-gram counts with the broadcast langs dim (bounded constant fan-out), floor in the join projection; per-doc argmax is a uniform-key WindowGroupLimit",
    "q59_asof_join": "r4 as-of join: union-tagged interleave + ONE window per key (last ignorenulls) — no Join node at all, single shuffle on the key; a naive inequality join would explode |pairs| and re-argmax",
    "q60_range_join": "r4 range join: intervals exploded onto 1h grid cells, hash equi-join on (key, cell) with containment in the join condition — no BroadcastNestedLoopJoin; each (point, interval) meets exactly once",
    "q61_kmv_distinct": "r4 KMV sketch: dense_rank limit compiles to WindowGroupLimit Partial BEFORE the exchange (map-side sketch accumulation); distinct + final ranking over the k-rows-per-group survivors only",
    "q62_semantic_dedup": "r4 SemDeDup: broadcast centroid fan-out (bounded k) -> argmax assignment; candidate pairs hash-join on the CLUSTER id (N^2/k, the paper's move) with the cosine threshold inside the join condition",
    "q63_hypertable_rollup": "r4 hypertable rollup: raw rows read ONCE (hourly map-side-combining aggregate); daily re-aggregates the hourly PARTIALS — the second aggregate's input is |hourly buckets| rows, not the event stream",
    "q64_triangle_counts": "r4 triangle counting: degree-ordered orientation bounds every oriented out-degree by O(sqrt m), so the wedge self-join is O(m^1.5) instead of sum(deg^2) around webtext hubs; closing edges verified by LEFT SEMI against the canonical edge set",
    "q65_histogram_quantiles": "r4 histogram quantiles: ONE map-side-combining aggregate builds the fixed-boundary sketch (mergeable by count addition, unlike GK state); the quantile walk runs over |groups|x|bins| rows — constant-bounded, never the value stream",
    "q66_weighted_reservoir": "r4 A-ES weighted reservoir: scan-fused hash->u->ln(u)/w score projection, then the same WindowGroupLimit-partial rank-limit as KMV — shuffle carries ~k rows/partition/group, no RNG state anywhere",
    "q67_heavy_hitters": "r5 exact heavy hitters: Misra-Gries candidate pass in ONE mapInPandas (<= ceil(1/s) output rows per partition — the map-side combine a naive groupBy-every-key lacks), broadcast semi-join recount, scalar total via the per-partition marker rows",
    "q68_bm25_search": "r5 BM25: array_intersect prefilter in the scan projection — only query-term postings explode and shuffle; df/avgdl/N are broadcast scalars; tf/idf math whole-stage codegen",
    "q70_sequence_packing": "r5 sequence packing: NO global window — every Window node partitions by the quantile scan bucket; per-bucket totals collect <= num_buckets rows and broadcast back; span fan-out is a JVM sequence() explode",
    "q71_sessionization": "r5 sessionization: both windows PARTITION BY user_id (bounded per-key volume), integer-micros gap math in codegen; session rollup is a map-side-combining groupBy on (key, ordinal)",
    "q72_inverted_index": "r5 inverted index: posexplode in the scan projection; (term,doc) aggregate partial+final; df joined back on the term key (plain shuffle join — vocab too big to broadcast; one-row-per-key build side is lossless under AQE skew split)",
    "q73_setsim_exact_pairs": "r5 exact set-similarity join: NO cartesian/nested-loop node — prefix tokens (each record's RAREST (1-t)|x|+1, skew-light by construction) equi-join with id order + lossless size-ratio bound IN the join condition; exact jaccard verify joins arrays back for CANDIDATE pairs only; rarest-first order is per-row sort_array(struct(df,token)), no global rank window",
    "q74_group_split": "r5 leakage-safe split: assignment is a scan-fused hash CASE projection (zero exchange for the decision itself); the only shuffle is the per-(user,split) count agg the query adds on top",
    "q75_cap_per_group": "r5 per-group quota cap: row_number over (avalanche hash, id) compiles to WindowGroupLimit Partial below the exchange — a hot host ships ~n rows per input partition, not its whole crawl",
    "q76_connected_components": "r5 connected components: O(log n) alternating star rounds; eager localCheckpoint per round keeps the FINAL plan depth O(1) (the dump shows only the converged forest's checkpointed scan, the pagerank discipline); per round two min-neighbor windows partitioned by node and one distinct; the loop stops on a round whose own output is a star forest, with no confirming round",
    "q77_corpus_drift": "r5 drift gate: each snapshot is ONE map-side-combining aggregate on a WHEN-chain bucket id fused into its scan; the k-row sides join a broadcast k-row bucket spine (empty buckets still report); PSI/KL terms pure Column math",
    "q78_bloom_pruned_join": "r5 bloom-pruned join: build side collapses to m/64 bitmap-word rows via bit_or partials; the probe scan gains a literal-array filter (NO extra exchange or join node) and the exact join then sees only survivors",
    "q79_kcore": "r5 k-core peel: per round one degree aggregate (partial+final) + LEFT SEMI joins against the shrinking survivor set; eager localCheckpoint keeps final plan depth O(1)",
    "q80_containment_pairs": "r5 containment join: prefix explode on the CONTAINED side only, container side explodes all tokens but the join key is A's rarest prefix token; size bound |B| >= t|A| rides the join condition cheap-first; exact verify on candidates only",
    "q81_cm_frequency": "r5 Count-Min: depth-exploded (row,col) stream into ONE map-side-combining aggregate whose group cardinality is CAPPED at |groups|*depth*width; probes join the bounded sketch, never the corpus",
    "q82_rrf_fusion": "r5 RRF fusion: both rankers end in bounded top-N (TakeOrderedAndProject); fusion is one hash agg over <= |rankers|*N rows — nothing corpus-sized crosses the fusion boundary",
    "q83_pmi_collocations": "r5 PMI collocations: bigrams via arrays_zip of the token array against its 1-shift (one explode); min_count prunes the Zipf tail in the bigram HashAggregate BEFORE the unigram joins; top-n first (TakeOrderedAndProject), window ranks only survivors",
    "q84_snapshot_diff": "r5 snapshot diff: ONE full-outer sort-merge join co-partitioned on the key; null-safe compares in codegen; unchanged rows dropped before anything downstream",
    "q85_decayed_engagement": "r5 decayed aggregates: exp() weight on integer-microsecond deltas fused into the scan projection; ONE map-side-combining aggregate — the decayed-sum monoid partials add like any sum",
    "q86_link_host_graph": "r5 link host graph: href regexp_extract_all in the scan projection (html never crosses to Python), row-linear explode, host-pair aggregate partial+final so hub hosts collapse map-side",
    "q87_hll_distinct": "r5 HyperLogLog: register build is ONE map-side-combining max aggregate (state <= |groups|*m rows regardless of stream); merge = union + max (lossless monoid); integer harmonic numerator keeps the estimator order-exact",
    "q88_fuzzy_name_pairs": "r5 blocked fuzzy join: block-key equi-join bounds the candidate set (NO nested-loop/cartesian node); the O(|a|*|b|) Jaro-Winkler runs in one Arrow-batched pandas UDF over candidates only",
    "q89_anchor_surface_forms": "r5 anchor surface forms: two-group regexp extraction fused into the page scan, ONE (host,anchor) aggregate collapses the corpus map-side; share + top-k are two windows over the SAME dst_host partitioning (one Sort/Exchange, single scan — the totals-join alternative duplicated the corpus scan)",
    "q100_random_walks": "r5 random walks: per step one equi-join + one min(struct) aggregate — neighbor choice is argmin of iid portable hashes, so no per-node neighbor list and no window over hot vertices; eager localCheckpoint keeps the final plan depth O(1) (dump shows the last step only)",
    "q101_bounded_closure": "r5 bounded closure: per round one join + LEFT ANTI against the closure (BFS invariant: a pair never re-enters at a worse hop count — cycle-safe); eager localCheckpoint per round",
    "q102_hearst_isa": "r5 Hearst IsA mining: all six lexico-syntactic patterns extracted by JVM regexp_extract_all FUSED into ONE corpus scan projection; row-linear list explode; (hypo,hyper,pattern) count collapses map-side below the single Exchange — no window, no join, no Python",
    "q103_open_ie": "r5 Open IE: sentence/token chunking via cached-pattern regexp_extract_all (NOT split — Spark's split recompiles its regex per row), verb positions prefiltered with a cheap IN probe before any candidate struct exists, V P* resolution a fall-through when-ladder over row-local arrays; one scan, one exchange, no join",
    "q104_hearst_siblings": "r5 co-hyponym siblings: pair generation is a row-local nested transform over each matched list (quadratic bounded by GRAMMAR, lists are a few items) — no join, no window; (a,b,pattern) count partial+final",
    "q105_corroborated_isa": "r5 triple corroboration: two map-side-combining aggregates — pattern counts, then per-(subj,rel,obj) evidence folding whose collect_set state is bounded by the SOURCE count, never the corpus",
    "q106_taxonomy": "r5 taxonomy induction: best parent = max(struct) AGGREGATE (hot children collapse map-side; the oracle's row_number window would funnel each hot child to one reducer), mutual 2-cycle resolution = one self-join on the aggregated |children|-row table",
    "q107_paraphrase_discovery": "r5 DIRT paraphrases: EQUI self-join on the (subj,obj) argument-pair key — never a predicate cross product; pred_a < pred_b rides IN the join condition; overlap + set sizes collapse map-side; final score joins two |predicates|-row tables",
    "q108_relation_type_signatures": "r5 type signatures: two entity-keyed joins onto the types table, then argmax as TWO aggregates (max support, then min type-pair among ties) — deterministic tiebreak with NO window over the typed stream",
    "q109_temporal_scope": "r5 temporal scoping: ONE map-side-combining aggregate (min/max/count monoids, integer-micros time math) — bounded state per triple key, Zipf-headed triples absorb per partition",
    "q110_canonical_predicates": "r5 predicate canonicalization: DIRT edges + connected components run on the |predicates|-sized derived graph (vastly smaller than the triple stream); the remap back is one small join + one re-aggregation",
    "q111_truth_finding": "r5 truth finding: per round two equi-joins + two map-side-combining aggregates; BIGINT-nano quantization makes partial merges order-exact; localCheckpoint per round keeps lineage O(1); rounds driver-bounded",
    "q112_inverse_predicates": "r5 inverse predicates: the swapped-pair EQUI self-join ((subj,obj) vs (obj,subj) key) — never a predicate cross product; overlap + sizes collapse map-side; score join over |predicates|-row tables",
    "q115_pra_completion": "r5 PRA completion: degree-capped wedge join (hub mids pruned BEFORE the join by two bounded aggregates + semi filters); per-path-type precision on the |path-types|-row table broadcast back; known edges leave via LEFT ANTI",
    "q117_ranking_metrics": "r5 filtered link-prediction eval: rank = 1 + COUNT(beaters) via one (subj,pred) equi-join + conditional hash aggregate — NO per-query window/sort; metrics fold as count-monoid partials with round(1/rank,9) quantization",
    "q118_ntriples_roundtrip": "r5 N-Triples parse: the whole grammar (anchored triple regex, term classification, sentinel-ordered unescape) compiles to JVM expressions fused into the scan — ZERO exchanges, no join, no Python",
    "q119_bgp_match": "r5 SPARQL BGP: constant terms scan-fused as filters; patterns join left-deep on shared variables most-constrained-first; dim-sized sides broadcast; disconnected patterns raise instead of cross-joining",
    "q120_rule_mining": "r5 AMIE rule mining: body = the q115 wedge join localCheckpointed ONCE for its three aggregate consumers; every AMIE metric a map-side-combining hash aggregate (no window, no per-rule sort); rule-space-sized side tables AQE-broadcast back",
    "q121_rule_inference": "r5 rule forward-chaining: mined rules BROADCAST onto the path instances (BroadcastHashJoin on (rel1,rel2)); per-conclusion confidence = MAX aggregate (order-free); known edges leave via LEFT ANTI",
    "q123_transe_energies": "r5 TransE scoring: 3 narrow-key role joins onto the init-expression embedding table; the L2^2 energy folds in array-index order inside the row (JVM HOF) — no explode, no window; energies round(9) for cross-engine bit-parity",
    "q122_transe_step": "r5 TransE training step: embeddings one array<double> row per id; per-dimension math as JVM HOFs inside the row (no per-dim join, no Python); 4 narrow-key role equi-joins; the single posexplode feeds the fixed-point (id,i) gradient aggregate whose BIGINT partials are order-exact — training bit-stable across engines and cluster sizes",
}


def main() -> None:
    spark = get_session(cpus=8, shuffle_partitions=8, app_name="plan-dump")
    sf = "/root/testdata/sf0.001"
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    out = [
        "# PLANS — physical plans of the headline queries",
        "",
        "Generated by scripts/dump_plans.py at sf0.001 (AQE pre-execution",
        "plans; shapes asserted in tests/test_plan_shapes.py).",
        "",
    ]
    for name, note in SHOW.items():
        plan = QUERIES[name](spark, sf)._jdf.queryExecution().explainString(mode)
        out += [f"## {name}", "", f"**Why this plan is right at scale:** {note}", "",
                "```", plan.strip(), "```", ""]
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("PLANS.md written")
    spark.stop()


if __name__ == "__main__":
    main()
