"""Sequential (single-process) specification of the harvest pipeline.

Implements, in plain Python over the same StubMLM, exactly the
deterministic semantics the Spark operators claim: per-level top-B
expansion, per-node caps, the exact word-repeat greedy, ensemble
re-scoring. Spark output must MATCH this spec (stronger than the
P/R≥0.95 bar, which covers the documented divergence from the
reference's order-dependent heaps — SURVEY.md §7).
"""

from __future__ import annotations

import numpy as np

from knowledge_harvest_from_lms_spark.functions.scoring import (
    combine_mask_logprobs,
    softmax,
    softmax_clip_renorm,
)
from knowledge_harvest_from_lms_spark.functions.textops import (
    casing_variants,
    entity_conflicts_with_tuple,
    entity_in_any_prompt,
    entity_passes_filters,
    fix_prompt_style,
    get_mask_place,
    get_n_ents,
    get_n_masks,
    is_valid_prompt,
)

SEP = "\x1f"


def spec_prompt_weights(records, lm, cfg):
    """→ {rel: [(prompt, weight)] sorted by (raw desc, prompt asc)}"""
    out = {}
    for rec in records:
        rel = rec["rel"]
        pool = list(rec["init_prompts"]) if cfg.use_init_prompts else list(
            dict.fromkeys(rec["init_prompts"] + rec.get("prompts", []))
        )
        prompts = [fix_prompt_style(p) for p in pool if is_valid_prompt(p)]
        seeds_raw = [list(t) for t in rec["seed_ent_tuples"]]
        seeds = [[e.replace("_", " ") for e in t] for t in seeds_raw]

        scored = []
        for prompt in prompts:
            pos, neg = [], []
            for t in seeds:
                pos.append(
                    combine_mask_logprobs(lm.pll_mask_logprobs(prompt, t), len(t))
                )
                for i in range(len(t)):
                    for b in seeds_raw:
                        if b[i] == t[i]:
                            continue
                        nt = t[:i] + [b[i]] + t[i + 1 :]
                        neg.append(
                            combine_mask_logprobs(
                                lm.pll_mask_logprobs(prompt, nt), len(nt)
                            )
                        )
            raw = (np.mean(pos) - 0.5 * np.mean(neg)) / cfg.prompt_temp
            scored.append((prompt, float(raw)))

        scored.sort(key=lambda x: (-x[1], x[0]))
        kept = scored[: cfg.max_n_prompts]
        w = softmax_clip_renorm([s for _, s in kept], clip=cfg.weight_clip)
        out[rel] = [
            (p, float(wi)) for (p, _), wi in zip(kept, w) if wi > cfg.weight_floor
        ]
    return out


def _expand_entity(lm, level_prompts, n_masks, ent_idx, width):
    """Token-level BFS for one entity slot: per-level top-`width` paths
    across the whole node, exactly like the Spark in-progress prune."""
    # parity with the reference's mask order
    # (entity_tuple_searcher.py:199-228): banned ids (specials +
    # stopwords) are -inf'd BEFORE log-softmax; the F9 char filters
    # restrict candidate SELECTION after, without renormalizing.
    banned = np.zeros(lm.vocab_size, dtype=bool)
    banned[lm.banned_ids] = True
    cand_ids = np.nonzero(lm.allowed_token_mask() & ~banned)[0]
    k = n_masks[ent_idx]

    paths = [([], [])]
    for step in range(k):
        children = []
        for tids, tlps in paths:
            slot_text = lm.partial_slot_text(tids, k - len(tids))
            total, wsum = None, 0.0
            for lp, w in level_prompts:
                filled = lp.replace(f"<ENT{ent_idx}>", slot_text)
                for j in range(len(n_masks)):
                    if j != ent_idx:
                        filled = filled.replace(f"<ENT{j}>", lm.masked_run(n_masks[j]))
                mask_idx = get_mask_place(ent_idx, n_masks, lp)
                logits = lm.mask_logits(filled)[mask_idx]
                total = logits * w if total is None else total + logits * w
                wsum += w
            total = total / wsum
            total[banned] = -np.inf
            m = total.max()
            logprobs = total - (m + np.log(np.exp(total - m).sum()))
            lps = logprobs[cand_ids]
            order = np.lexsort((cand_ids, -lps))[:width]
            for idx in order:
                children.append(
                    (tids + [int(cand_ids[idx])], tlps + [float(lps[idx])])
                )
        if step < k - 1:
            # in-progress width prune (matches beam_search.make_level_step);
            # the FINAL level is capped later at entity completion,
            # like the reference's entity heap.
            children.sort(key=lambda c: (-min(c[1]), ",".join(map(str, c[0]))))
            children = children[:width]
        paths = children
    return paths


def spec_search(records, pw, lm, cfg):
    """→ {rel: [(ents tuple, min_logprob)]} raw candidates."""
    out = {}
    for rec in records:
        rel = rec["rel"]
        if rel not in pw or not pw[rel]:
            continue
        n_ents = get_n_ents(rec["init_prompts"][0])
        cands = []

        def recurse(t, n_masks, ents, elps):
            if len(ents) == n_ents:
                cands.append((tuple(ents), min(elps)))
                return
            ent_idx = len(ents)
            level_prompts = []
            for p, w in pw[rel]:
                for j, e in enumerate(ents):
                    p = p.replace(f"<ENT{j}>", e)
                level_prompts.append((p, w))
            paths = _expand_entity(lm, level_prompts, n_masks, ent_idx, cfg.token_beam_width)
            # decode + F4-F8 + per-node dedup (best logprob per pred)
            best = {}
            for tids, tlps in paths:
                pred = lm.decode(tids).strip().lower()
                if not entity_passes_filters(pred):
                    continue
                if entity_conflicts_with_tuple(pred, ents):
                    continue
                if entity_in_any_prompt(pred, [p for p, _ in level_prompts]):
                    continue
                lp = min(tlps)
                if pred not in best or lp > best[pred]:
                    best[pred] = lp
            cap = cfg.max_n_ent_tuples if ent_idx == 0 else cfg.max_word_repeat
            kept = sorted(best.items(), key=lambda x: (-x[1], x[0]))[:cap]
            for pred, lp in kept:
                recurse(t, n_masks, ents + [pred], elps + [lp])

        for t in range(cfg.max_ent_subwords**n_ents):
            n_masks = get_n_masks(t, n_ents, cfg.max_ent_subwords)
            recurse(t, n_masks, [], [])
        out[rel] = cands
    return out


def spec_finalize(cands, cfg):
    """dedup + A6 word cap + top-n. → {rel: [(ents, min_lp)]} in
    acceptance order: the reference greedy — reject a tuple if any word
    occurrence would exceed the cap (each occurrence checked against the
    PRE-acceptance count, entity_tuple_searcher.py:56-60), else
    increment by multiplicity; stop at n accepted."""
    out = {}
    for rel, items in cands.items():
        best = {}
        for ents, lp in items:
            if ents not in best or lp > best[ents]:
                best[ents] = lp
        ranked = sorted(best.items(), key=lambda x: (-x[1], SEP.join(x[0])))
        word_occ = {}
        kept = []
        for ents, lp in ranked:
            if len(kept) >= cfg.max_n_ent_tuples:
                break
            words = [wd for e in ents for wd in e.split()]
            if any(word_occ.get(wd, 0) + 1 > cfg.max_word_repeat for wd in words):
                continue
            for wd in words:
                word_occ[wd] = word_occ.get(wd, 0) + 1
            kept.append((list(ents), lp))
        out[rel] = kept
    return out


def spec_rescore(finalized, pw, lm, cfg):
    """→ {rel: [(ents, score, weight, rank)]}"""
    out = {}
    for rel, items in finalized.items():
        rows = []
        for ents, _ in items:
            best_score, best_var, best_vid = -np.inf, None, None
            for vid, var in enumerate(casing_variants(ents)):
                s = 0.0
                for p, w in pw[rel]:
                    s += w * combine_mask_logprobs(
                        lm.pll_mask_logprobs(p, var), len(var)
                    )
                if s > best_score:
                    best_score, best_var, best_vid = s, var, vid
            rows.append((best_var, best_score, SEP.join(ents)))
        rows.sort(key=lambda r: (-r[1], r[2]))
        weights = softmax([r[1] for r in rows]) if rows else []
        out[rel] = [
            (var, float(s), float(w), i + 1)
            for i, ((var, s, _), w) in enumerate(zip(rows, weights))
        ]
    return out
