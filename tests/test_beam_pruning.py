"""Branch-and-bound pruning (prune_slack) is a heuristic mirroring the
reference's heap threshold (the k-th word-cap-ACCEPTED score); on the
fixtures it must not change the final top-n."""

import pandas as pd

from knowledge_harvest_from_lms_spark.config import HarvestConfig
from knowledge_harvest_from_lms_spark.operators.beam_search import (
    search_ent_tuples,
    word_cap_greedy,
)
from knowledge_harvest_from_lms_spark.operators.prompt_weights import (
    compute_prompt_weights,
)
from knowledge_harvest_from_lms_spark.plans.harvest import harvest
from knowledge_harvest_from_lms_spark.sources.fixtures import FIXTURE_RELATIONS
from knowledge_harvest_from_lms_spark.sources.relations import (
    fixture_relations,
    relations_from_records,
)

import seq_spec


def test_pruned_equals_unpruned(spark):
    rels = fixture_relations(spark).filter("rel = 'AtLocation'")
    base = dict(max_n_ent_tuples=10, token_beam_width=6, max_ent_subwords=2,
                shuffle_partitions=8)
    t_exact = harvest(
        spark, rels, HarvestConfig(**base, prune_slack=None)
    )["triples"].collect()
    t_pruned = harvest(
        spark, rels, HarvestConfig(**base, prune_slack=3.0)
    )["triples"].collect()
    k_exact = sorted((r.rel, r.rank, tuple(r.ents)) for r in t_exact)
    k_pruned = sorted((r.rel, r.rank, tuple(r.ents)) for r in t_pruned)
    assert k_exact == k_pruned


def test_pruned_equals_unpruned_multirel(spark):
    """Per-relation thresholds in the grouped level step: pruning must
    be a per-rel bar, never cross-relation."""
    rels = fixture_relations(spark)
    base = dict(max_n_ent_tuples=6, token_beam_width=4, max_ent_subwords=1,
                shuffle_partitions=8)
    t_exact = harvest(
        spark, rels, HarvestConfig(**base, prune_slack=None)
    )["triples"].collect()
    t_pruned = harvest(
        spark, rels, HarvestConfig(**base, prune_slack=3.0)
    )["triples"].collect()
    k_exact = sorted((r.rel, r.rank, tuple(r.ents)) for r in t_exact)
    k_pruned = sorted((r.rel, r.rank, tuple(r.ents)) for r in t_pruned)
    assert len({r for r, _, _ in k_exact}) >= 3  # genuinely multi-rel
    assert k_exact == k_pruned


def test_word_cap_greedy_matches_spec():
    """The pandas greedy (finalize_candidates and the level step's
    threshold) against the sequential spec, without Spark."""
    items = [
        (("paris", "france"), -1.0),
        (("paris", "france"), -0.4),    # same tuple from another t: best kept
        (("b", "x"), -2.0),
        (("a", "y"), -2.0),             # equal score: joined key decides
        (("m n", "o"), -2.5),
        (("m", "n o"), -2.5),           # equal joined by " ", not by SEP
        (("paris", "texas"), -0.5),     # cap-rejected at max_word_repeat=1 ...
        (("texas", "usa"), -0.6),       # ... so "texas" is still free here
        (("new york", "new jersey"), -0.7),  # occurrences vs pre-acceptance count
        (("new", "mexico"), -0.8),
        (("z", "w"), -3.0),
        (("q", "r"), -4.0),
    ]
    for max_word_repeat in (1, 2, 5):
        for max_n in (1, 3, 6, 100):
            cfg = HarvestConfig(max_n_ent_tuples=max_n, max_word_repeat=max_word_repeat)
            want = seq_spec.spec_finalize({"R": items}, cfg)["R"]
            pdf = pd.DataFrame({
                "rel": "R",
                "ents": [list(e) for e, _ in items],
                "min_logprob": [lp for _, lp in items],
            })
            got = word_cap_greedy(pdf, max_word_repeat, max_n)
            assert list(got.columns) == ["rel", "ents", "min_logprob"]
            assert [(list(e), lp) for e, lp in zip(got["ents"], got["min_logprob"])] == want

    def order(max_word_repeat):
        cfg = HarvestConfig(max_n_ent_tuples=100, max_word_repeat=max_word_repeat)
        return [tuple(e) for e, _ in seq_spec.spec_finalize({"R": items}, cfg)["R"]]

    capped = order(1)
    assert capped[:2] == [("paris", "france"), ("texas", "usa")]
    assert ("paris", "texas") not in capped and ("new", "mexico") not in capped
    free = order(5)
    assert free.index(("a", "y")) < free.index(("b", "x"))
    assert free.index(("m", "n o")) < free.index(("m n", "o"))


def test_beam_level_job_count(spark):
    """One beam level is one expansion and one grouped prune per
    relation, ending in one eager checkpoint: three jobs per level (the
    expansion's shuffle stage, the grouped step's shuffle stage, the
    checkpoint), plus four fixed jobs: the driver collects of the arity
    and the prompt ensemble, and the final count. No probe, greedy
    collect or threshold join job."""
    records = [r for r in FIXTURE_RELATIONS if r["rel"] in ("AtLocation", "CapableOf")]
    rels = relations_from_records(spark, records)
    cfg = HarvestConfig(max_n_ent_tuples=10, token_beam_width=4, max_ent_subwords=1,
                        shuffle_partitions=8)
    pw = compute_prompt_weights(rels, cfg).localCheckpoint(eager=True)
    levels = 2  # two binary relations, one subword per entity
    sc = spark.sparkContext
    group = "beam-level-jobs"
    sc.setJobGroup(group, "search_ent_tuples")
    try:
        n_raw = search_ent_tuples(spark, pw, rels, cfg).count()
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert n_raw > 0
    assert len(jobs) <= 3 * levels + 4
