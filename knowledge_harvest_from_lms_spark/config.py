"""Harvest configuration.

Field names/defaults mirror the reference CLI (reference ``main.py:8-15``)
plus the Spark-side knobs the reference doesn't need (beam width,
partition counts). ``token_beam_width`` bounds per-node expansion — the
reference instead explores sorted logits until a heap threshold
(``models/entity_tuple_searcher.py:200-209``); widen-then-rerank
recovers the same top-k (SURVEY.md §7 hard parts).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class HarvestConfig:
    max_n_ent_tuples: int = 1000      # main.py:10
    max_n_prompts: int = 20           # main.py:11
    prompt_temp: float = 2.0          # main.py:12
    max_word_repeat: int = 5          # main.py:13
    max_ent_subwords: int = 2         # main.py:14
    use_init_prompts: bool = False    # main.py:15
    weight_clip: float = 0.05         # knowledge_harvester.py:77
    weight_floor: float = 1e-4        # knowledge_harvester.py:82-83
    token_beam_width: int = 48        # spark relaxation of heap-threshold pruning
    # Branch-and-bound: prune frontier rows whose running min logprob
    # falls below the rel's k-th best WORD-CAP-ACCEPTED candidate,
    # k = prune_slack * max_n_ent_tuples. Mirrors the reference's own
    # heap-threshold pruning (entity_tuple_searcher.py:76-77: the bar
    # is the n-th tuple currently accepted under word caps), dug
    # slack× deeper. HEURISTIC, not exact: a later high-scoring tuple
    # can evict an accepted one via word caps and push the final
    # greedy below today's bar (the reference threshold has the same
    # property). None disables (exact spec parity); the default keeps
    # reference-style pruning on, as the reference does.
    prune_slack: float | None = 3.0
    # J6 corpus grounding: restrict beam entity tokens to words
    # attested in the web_pages corpus (full_pipeline wires the
    # corpus_token_ids semi-join; harvest-only runs ignore this).
    # True → one global corpus vocabulary; "per_relation" → each
    # relation grounds to tokens attested on pages mentioning its own
    # seed entities (corpus_token_ids_per_relation — tighter at 100 TB
    # where the global vocabulary saturates).
    ground_beam_to_corpus: bool | str = False
    # per-relation grounding only: ±k token positions around a
    # seed-word occurrence define the co-occurrence context (None →
    # whole hit page). A window scopes long pages' vocabulary to local
    # context (relation_word_cooccurrence).
    grounding_cooccur_window: int | None = None
    seed: int = 42
    lm: str = "stub"                  # "stub" | HF model name on real clusters
    shuffle_partitions: int = 32
