"""Entity-tuple beam search as iterative DataFrame joins — the
centerpiece operator (north_star: "candidate entity-pair beam search
re-expressed as iterative DataFrame joins with broadcast of the
prompt/paraphrase table").

Re-expresses the reference's recursive DFS
(reference ``models/entity_tuple_searcher.py:13-228``) as a bounded
driver loop over a *frontier* DataFrame:

  frontier row = (rel, t, n_masks, ent_idx, ents, ent_logprobs,
                  token_ids, token_logprobs)

Each level appends ONE token to every live row via an Arrow-batched
``mapInPandas`` expansion (P2: ONE ``mask_logits_batch`` call per
Arrow batch over all (row × prompt) jobs → weighted-average over the
broadcast prompt ensemble → banned-ids mask → log-softmax → top-B
among post-softmax candidates, reference
``entity_tuple_searcher.py:169-228``), then prunes each relation in
one ``groupBy("rel").applyInPandas`` step (``make_level_step``):

  * completed entities: decode + filters F4–F8 (in the expansion),
    dedup per parent, W3 cap (n for the first entity, max_word_repeat
    deeper — ``entity_tuple_searcher.py:79-87``);
  * in-progress token paths: top ``token_beam_width`` per parent node;
  * the heap-style threshold over the relation's finished tuples.

The loop runs the deepest relation's Σ n_masks ≤
n_ents·max_ent_subwords levels (≤6 with reference defaults) — the
reference's recursion depth bound (SURVEY.md §3.1). The reference's sequential exploration of sorted
logits until its heap threshold (``entity_tuple_searcher.py:200-209``)
is replaced by deterministic per-level top-B + final exact
re-ranking (SURVEY.md §7): safe because a tuple's score is the *min*
of its entity logprobs, monotone non-increasing as the tuple extends.

Scale notes: finished tuples stay in the state frame (``ent_idx ==
size(n_masks)``) next to the live rows, so one level is one expansion
(live rows repartitioned by (rel, t, ents), so the LM work spreads
over every core however few relations there are) and one grouped
prune per relation, ending in ONE eager ``localCheckpoint`` that cuts
the lineage. Every pruning rule is per relation, so the whole prune
runs inside the group and no candidate row reaches the driver.
Prompts/relation metadata ride inside the UDF closure (tiny).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import HarvestConfig
from ..functions.textops import get_n_masks
from .scoring_udf import SEP

FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("rel", T.StringType(), False),
        T.StructField("t", T.IntegerType(), False),
        T.StructField("n_masks", T.ArrayType(T.IntegerType()), False),
        T.StructField("ent_idx", T.IntegerType(), False),
        T.StructField("ents", T.ArrayType(T.StringType()), False),
        T.StructField("ent_logprobs", T.ArrayType(T.DoubleType()), False),
        T.StructField("token_ids", T.ArrayType(T.IntegerType()), False),
        T.StructField("token_logprobs", T.ArrayType(T.DoubleType()), False),
    ]
)


def build_rel_info(prompt_weights: DataFrame, relations: DataFrame) -> dict:
    """Driver-side collect of the tiny prompt ensemble: {rel:
    {"prompts": [(prompt, weight)...], "n_ents": int}} — broadcast to
    executors inside the expansion-UDF closure (J3). Prompts are ordered
    by (weight desc, prompt asc), sorted on the driver: a Spark sort
    would add a sampling job and a shuffle for a few hundred rows."""
    arity = {r["rel"]: r["n_ents"] for r in relations.select("rel", "n_ents").collect()}
    rows = prompt_weights.select("rel", "prompt", "weight").collect()
    info: dict = {}
    for rel, prompt, weight in sorted(rows, key=lambda r: (r[0], -r[2], r[1])):
        info.setdefault(rel, {"prompts": [], "n_ents": arity[rel]})
        info[rel]["prompts"].append((prompt, float(weight)))
    return info


def init_frontier(spark: SparkSession, rel_info: dict, cfg: HarvestConfig) -> DataFrame:
    """One row per (rel, subword-config t) — reference
    ``entity_tuple_searcher.py:19-23``."""
    rows = []
    for rel, meta in sorted(rel_info.items()):
        n_ents = meta["n_ents"]
        for t in range(cfg.max_ent_subwords**n_ents):
            n_masks = get_n_masks(t=t, n_ents=n_ents, max_ent_subwords=cfg.max_ent_subwords)
            rows.append((rel, t, n_masks, 0, [], [], [], []))
    return spark.createDataFrame(rows, FRONTIER_SCHEMA)


def make_expand_fn(
    lm_name: str, seed: int, rel_info: dict, width: int,
    allowed_token_ids: list[int] | dict[str, list[int]] | None = None,
    mask_payload: tuple[int, bytes, bytes] | None = None,
):
    """Arrow-batched beam expansion (P2). Two passes per batch:

    1. build every (filled prompt, mask position) job across ALL
       frontier rows of the batch (deduped by text), then ONE
       ``lm.mask_logits_batch`` call — never a forward per
       (row × prompt) (the round-1 scale-killer; a real MLM backend
       packs these into padded forwards under a token budget);
    2. per row: weighted-average the prompt-ensemble logits, mask the
       banned ids to -inf, log-softmax, then pick top-B among the
       POST-softmax candidate set.

    Mask-order parity (reference ``entity_tuple_searcher.py:199-228``):
    only ``banned_ids`` (specials + stopwords) are -inf'd BEFORE
    log-softmax; the F9 char filters — and our corpus-grounding
    extension — are candidate *selection* filters applied AFTER, with
    no renormalization, exactly like the reference's ``continue``
    inside the sorted-logit loop.
    """

    def fn(batches):
        from ..functions.textops import (
            entity_conflicts_with_tuple,
            entity_in_any_prompt,
            entity_passes_filters,
            get_mask_place,
        )
        from ..lm import resolve_lm, unpack_token_masks

        lm = resolve_lm(lm_name, seed)
        if mask_payload is not None:
            char_ok, banned = unpack_token_masks(mask_payload)
        else:
            char_ok = lm.allowed_token_mask()  # memoized per process
            banned = np.zeros(lm.vocab_size, dtype=bool)
            banned[lm.banned_ids] = True
        cand_ok = char_ok & ~banned
        per_rel_ids = None
        if isinstance(allowed_token_ids, dict):
            # per-relation grounding (corpus_token_ids_per_relation):
            # each relation restricts to tokens attested on pages that
            # mention its seed entities; masks built lazily per rel
            per_rel_ids = {
                r: np.asarray(v, dtype=np.int64)
                for r, v in allowed_token_ids.items()
            }
        elif allowed_token_ids is not None:
            # corpus grounding (J6): only tokens attested in the
            # web_pages corpus may fill entity slots. Sized to the mask
            # width, NOT lm.vocab_size — the payload mask can be wider
            # than the tokenizer vocab (added specials at/above
            # tok.vocab_size, e.g. DeBERTa-v3's [MASK]), and ids are
            # clipped to that width for the same reason.
            ground = np.zeros(len(cand_ok), dtype=bool)
            ids = np.asarray(allowed_token_ids, dtype=np.int64)
            ground[ids[ids < len(cand_ok)]] = True
            cand_ok &= ground
        neg_inf = -float("inf")
        all_cand_ids = np.nonzero(cand_ok)[0]
        fitted = [len(cand_ok)]
        rel_cand_cache: dict = {}

        def cand_ids_for(rel):
            """Candidate ids for one relation (== the global set unless
            per-relation grounding is active)."""
            if per_rel_ids is None:
                return all_cand_ids
            got = rel_cand_cache.get(rel)
            if got is None:
                ids = per_rel_ids.get(rel)
                if ids is None:
                    got = np.empty(0, dtype=np.int64)
                else:
                    g = np.zeros(len(cand_ok), dtype=bool)
                    g[ids[ids < len(cand_ok)]] = True
                    got = np.nonzero(cand_ok & g)[0]
                rel_cand_cache[rel] = got
            return got

        def fit_width(n: int):
            """Fit the masks to the model-head width: some HF models pad
            the embedding matrix past tok.vocab_size (DeBERTa-v3 etc.),
            so logits can be wider than tokenizer-derived masks. Padded
            ids keep reference normalization (NOT -inf'd — the
            reference only bans tokenizer ids) but are never selectable
            candidates."""
            nonlocal banned, cand_ok, all_cand_ids
            if fitted[0] == n:
                return

            def fit(mask):
                if len(mask) >= n:
                    return mask[:n]
                out = np.zeros(n, dtype=bool)
                out[: len(mask)] = mask
                return out

            banned = fit(banned)
            cand_ok = fit(cand_ok)
            all_cand_ids = np.nonzero(cand_ok)[0]
            rel_cand_cache.clear()  # per-rel masks depend on the width
            fitted[0] = n

        for pdf in batches:
            out = {c: [] for c in pdf.columns}
            if per_rel_ids is None and all_cand_ids.size == 0:
                continue  # grounding left no legal tokens — nothing to expand

            def emit(rel, t, n_masks, ent_idx, ents, elps, tids, tlps):
                out["rel"].append(rel)
                out["t"].append(t)
                out["n_masks"].append(n_masks)
                out["ent_idx"].append(ent_idx)
                out["ents"].append(ents)
                out["ent_logprobs"].append(elps)
                out["token_ids"].append(tids)
                out["token_logprobs"].append(tlps)

            # ---- pass 1: collect every LM job in the Arrow batch ----
            texts: list[str] = []
            text_idx: dict[str, int] = {}
            row_meta = []  # (row, level_prompts, [(job, mask_idx, w)], wsum)
            for row in pdf.itertuples(index=False):
                if cand_ids_for(row.rel).size == 0:
                    continue  # this relation's grounding is empty
                meta = rel_info[row.rel]
                n_masks = list(row.n_masks)
                ent_idx = int(row.ent_idx)
                ents = list(row.ents)
                k = n_masks[ent_idx]
                tids = list(row.token_ids)

                # level prompts: slots < ent_idx filled (J3,
                # entity_tuple_searcher.py:103-106)
                level_prompts = []
                for p, w in meta["prompts"]:
                    for j, e in enumerate(ents):
                        p = p.replace(f"<ENT{j}>", e)
                    level_prompts.append((p, w))

                slot_text = lm.partial_slot_text(tids, k - len(tids))
                jobs = []
                wsum = 0.0
                for lp, w in level_prompts:
                    filled = lp.replace(f"<ENT{ent_idx}>", slot_text)
                    for j in range(len(n_masks)):
                        if j != ent_idx:
                            filled = filled.replace(
                                f"<ENT{j}>", lm.masked_run(n_masks[j])
                            )
                    ji = text_idx.setdefault(filled, len(texts))
                    if ji == len(texts):
                        texts.append(filled)
                    jobs.append((ji, get_mask_place(ent_idx, n_masks, lp), w))
                    wsum += w
                row_meta.append((row, level_prompts, jobs, wsum))

            all_logits = lm.mask_logits_batch(texts)
            if texts:
                fit_width(int(all_logits[0].shape[-1]))

            # ---- pass 2: combine, normalize, select, filter ----
            for row, level_prompts, jobs, wsum in row_meta:
                n_masks = list(row.n_masks)
                ent_idx = int(row.ent_idx)
                ents = list(row.ents)
                k = n_masks[ent_idx]
                tids = list(row.token_ids)
                tlps = list(row.token_logprobs)

                total = None
                for ji, mask_idx, w in jobs:
                    logits = all_logits[ji][mask_idx]
                    total = logits * w if total is None else total + logits * w
                total = total / wsum
                total[banned] = neg_inf  # F10 pre-softmax, lm_wrapper order
                m = total.max()
                logprobs = total - (m + np.log(np.exp(total - m).sum()))

                # top-B among post-softmax candidates, tiebreak by id
                cand_ids = cand_ids_for(row.rel)
                if cand_ids.size == 0:
                    continue
                cand_lps = logprobs[cand_ids]
                order = np.lexsort((cand_ids, -cand_lps))[:width]
                for idx in order:
                    tid = int(cand_ids[idx])
                    lpv = float(cand_lps[idx])
                    ntids = tids + [tid]
                    ntlps = tlps + [lpv]
                    if len(ntids) < k:
                        emit(row.rel, row.t, n_masks, ent_idx, ents,
                             list(row.ent_logprobs), ntids, ntlps)
                        continue
                    # entity completed → decode + F4-F8
                    pred = lm.decode(ntids).strip().lower()
                    if not entity_passes_filters(pred):
                        continue
                    if entity_conflicts_with_tuple(pred, ents):
                        continue
                    if entity_in_any_prompt(pred, [p for p, _ in level_prompts]):
                        continue
                    emit(row.rel, row.t, n_masks, ent_idx + 1, ents + [pred],
                         list(row.ent_logprobs) + [min(ntlps)], [], [])
            if not out["rel"]:
                # empty pd.DataFrame defaults to float64 columns, which
                # Arrow cannot cast to list<> types — yield nothing
                continue

            yield pd.DataFrame(out, columns=list(pdf.columns))

    return fn


def word_cap_greedy(pdf: pd.DataFrame, max_word_repeat: int, max_n: int) -> pd.DataFrame:
    """O1 dedup + A6 word-repeat cap + W2 top-n over ONE relation's
    candidates (columns ``ents`` and ``min_logprob``; any others ride
    along) → the accepted rows, in acceptance order.

    Reference semantics (``entity_tuple_searcher.py:53-71``): visit
    tuples by (min_logprob desc, SEP-joined tuple asc), keeping the
    best-scoring row per tuple; a tuple is rejected if ANY of its word
    occurrences would push that word's count past ``max_word_repeat``
    (each occurrence checked against the pre-acceptance count);
    accepted tuples increment counts by multiplicity; stop at
    ``max_n`` accepted.
    """
    ranked = (
        pdf.assign(_ek=pdf["ents"].map(SEP.join))
        .sort_values(["min_logprob", "_ek"], ascending=[False, True], kind="mergesort")
        .drop_duplicates("_ek")
    )
    counts: dict[str, int] = {}
    keep: list[int] = []
    for pos, ents in enumerate(ranked["ents"]):
        if len(keep) >= max_n:
            break
        words = [w for e in ents for w in e.split()]
        if any(counts.get(w, 0) + 1 > max_word_repeat for w in words):
            continue
        for w in words:
            counts[w] = counts.get(w, 0) + 1
        keep.append(pos)
    return ranked.iloc[keep].drop(columns="_ek")


def _top_per_key(keys, score, tie, cap) -> pd.Index:
    """Index labels of the rows ranked below ``cap`` within their key,
    ranked by (score desc, tie asc)."""
    r = pd.DataFrame({"key": keys, "score": score, "tie": tie, "cap": cap})
    r = r.sort_values(["score", "tie"], ascending=[False, True], kind="mergesort")
    return r.index[r.groupby("key", sort=False).cumcount() < r["cap"]]


def make_level_step(cfg: HarvestConfig):
    """The prune of one beam level for ONE relation, as an
    ``applyInPandas`` function. Its group holds the level's expanded
    children plus every tuple finished at an earlier level (finished
    rows stay in the state frame, ``ent_idx == len(n_masks)``), so the
    threshold sees all of the relation's raw candidates.

    1. Completed entities (``token_ids == []``): dedup per (parent,
       pred) keeping the best logprob, then the W3 cap by (logprob
       desc, pred asc) — n for the first entity, max_word_repeat deeper
       (``entity_tuple_searcher.py:79-87``). A parent's completed
       children all finish at the same level, so re-pruning earlier
       finished rows leaves them as they are.
    2. In-progress token paths: top ``token_beam_width`` per (t,
       ent_idx, ents) by (min token logprob desc, comma-joined ids asc,
       compared as strings).
    3. Branch-and-bound (``prune_slack``), mirroring the reference's
       heap threshold (``entity_tuple_searcher.py:76-77``: the bar is
       the n-th tuple CURRENTLY ACCEPTED UNDER WORD CAPS): run the
       word-cap greedy over the finished tuples and take the k-th
       accepted score, k = slack·n; live rows whose running min falls
       below it are dropped. No bar until k tuples are accepted. Still
       a HEURISTIC: a later high-scoring tuple can evict an accepted
       one via word caps and push the final greedy below today's bar
       (the reference's threshold has the same property); see SURVEY.md
       §7 and ADVICE r1.
    """
    n, max_word_repeat, width = cfg.max_n_ent_tuples, cfg.max_word_repeat, cfg.token_beam_width
    k = None if cfg.prune_slack is None else max(1, int(n * cfg.prune_slack))

    def step(pdf):
        done = pdf["token_ids"].map(len) == 0
        comp, prog = pdf[done], pdf[~done]

        pred = comp["ents"].map(lambda e: e[-1])
        lp = comp["ent_logprobs"].map(lambda a: a[-1])
        parent = [SEP.join([str(t), *e[:-1]]) for t, e in zip(comp["t"], comp["ents"])]
        best = (
            pd.DataFrame({"parent": parent, "pred": pred, "lp": lp}, index=comp.index)
            .sort_values("lp", ascending=False, kind="mergesort")
            .drop_duplicates(["parent", "pred"])
        )
        comp_keep = _top_per_key(
            best["parent"], best["lp"], best["pred"],
            np.where(comp.loc[best.index, "ent_idx"] == 1, n, max_word_repeat),
        )
        node = zip(prog["t"], prog["ent_idx"], prog["ents"])
        prog_keep = _top_per_key(
            [SEP.join([str(t), str(i), *e]) for t, i, e in node],
            prog["token_logprobs"].map(min),
            prog["token_ids"].map(lambda ids: ",".join(map(str, ids))),
            width,
        )
        kept = pdf.loc[comp_keep.append(prog_keep)]

        if k is None:
            return kept
        finished = kept["ent_idx"] == kept["n_masks"].map(len)
        accepted = word_cap_greedy(
            pd.DataFrame({
                "ents": kept["ents"][finished],
                "min_logprob": kept["ent_logprobs"][finished].map(min),
            }),
            max_word_repeat, k,
        )
        if len(accepted) < k:
            return kept  # no bar until k tuples are accepted
        bar = accepted["min_logprob"].iloc[-1]
        running_min = [
            min((*e, *t), default=float("inf"))
            for e, t in zip(kept["ent_logprobs"], kept["token_logprobs"])
        ]
        return kept[finished | (pd.Series(running_min, index=kept.index) >= bar)]

    return step


def search_ent_tuples(
    spark: SparkSession,
    prompt_weights: DataFrame,
    relations: DataFrame,
    cfg: HarvestConfig,
    allowed_token_ids: list[int] | dict[str, list[int]] | None = None,
) -> DataFrame:
    """→ candidate tuples (rel, ents, min_logprob), before the
    word-repeat cap / top-n (finalize_candidates). Pass
    ``allowed_token_ids`` to restrict entity tokens to corpus-attested
    words: a flat list (corpus_grounding.corpus_token_ids, global
    vocabulary) or a per-relation dict
    (corpus_token_ids_per_relation, tokens attested on pages
    mentioning that relation's seed entities)."""
    from ..lm import token_mask_payload

    rel_info = build_rel_info(prompt_weights, relations)
    if not rel_info:
        return spark.createDataFrame([], "rel string, ents array<string>, min_logprob double")
    expand = make_expand_fn(
        cfg.lm, cfg.seed, rel_info, cfg.token_beam_width, allowed_token_ids,
        mask_payload=token_mask_payload(cfg.lm, cfg.seed),
    )
    step = make_level_step(cfg)
    max_iters = max(
        sum(get_n_masks(t, m["n_ents"], cfg.max_ent_subwords))
        for m in rel_info.values()
        for t in range(cfg.max_ent_subwords ** m["n_ents"])
    )

    finished = F.col("ent_idx") == F.size("n_masks")
    state = init_frontier(spark, rel_info, cfg)
    for _ in range(max_iters):
        # cols-only repartition → AQE coalesces the tiny shuffles that a
        # fixed numPartitions would pin at shuffle_partitions tasks
        children = (
            state.filter(~finished)
            .repartition("rel", "t", "ents")
            .mapInPandas(expand, schema=FRONTIER_SCHEMA)
        )
        state = (
            children.unionByName(state.filter(finished))
            .groupBy("rel")
            .applyInPandas(step, schema=FRONTIER_SCHEMA)
            .localCheckpoint(eager=True)
        )
    return state.filter(finished).select(
        "rel", "ents", F.array_min("ent_logprobs").alias("min_logprob")
    )


def finalize_candidates(candidates: DataFrame, cfg: HarvestConfig) -> DataFrame:
    """O1 dedup + A6 word-repeat cap + W2 top-n per relation: the exact
    greedy (``word_cap_greedy``) as one ``applyInPandas`` group per
    relation — sequential within a relation, parallel across them."""
    max_word_repeat, max_n = cfg.max_word_repeat, cfg.max_n_ent_tuples
    return (
        candidates.select("rel", "ents", "min_logprob")
        .groupBy("rel")
        .applyInPandas(
            lambda pdf: word_cap_greedy(pdf, max_word_repeat, max_n),
            schema="rel string, ents array<string>, min_logprob double",
        )
    )
