"""Deduplication family for large-scale training-data pipelines:
exact, MinHash-LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup
(driver brief: first-class components alongside SURVEY.md §2).

All hashing is JVM-side (xxhash64 / sha2 / polynomial char folds) —
including SimHash, whose bit-majority is 60 map-side-combining SUM
aggregates over portable per-word polynomial hashes (r3: replaced the
numpy/blake2b mapInPandas, so no Python workers run and the DuckDB
oracle recomputes signatures exactly, CORRECTNESS q92). Pair
generation is always blocked (LSH bands / simhash chunks / plane
buckets) — never an unblocked O(n²) cross join.

Document clustering (q37/q38/q40) pairs and clusters distinct text
prefixes, and each document takes its prefix's cluster; only q93's
pair list maps prefix pairs back to doc ids.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .graph import canonical_map, lsh_candidate_pairs


# ---------------------------------------------------------------------------
# exact dedup (hash-groupBy)
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the min-id row per identical text; dedup key is sha2 of the
    text so the shuffle carries 64 hex chars, not document bodies."""
    key = F.sha2(F.col(text_col), 256).alias("_k")
    keep = df.select(key, F.col(id_col)).groupBy("_k").agg(
        F.min(id_col).alias(id_col)
    )
    return df.join(keep, id_col, "left_semi")


# ---------------------------------------------------------------------------
# MinHash-LSH near-dup over documents
# ---------------------------------------------------------------------------

def _prefixes(
    docs: DataFrame, text_col: str, id_col: str, prefix_chars: int
) -> DataFrame:
    """(_docid, ent): each doc's id and ``prefix_chars``-char prefix."""
    return docs.select(
        F.col(id_col).cast("long").alias("_docid"),
        F.substring(F.col(text_col), 1, prefix_chars).alias("ent"),
    )


def _decisions(pre: DataFrame, label: str, id_col: str) -> DataFrame:
    """(id_col, canonical_id, is_duplicate): the least ``_docid`` of
    each ``label`` keeps (one window; NULL labels form one group)."""
    low = pre.withColumn("_min", F.min("_docid").over(W.partitionBy(label)))
    return low.select(
        F.col("_docid").alias(id_col),
        F.col("_min").alias("canonical_id"),
        (F.col("_docid") != F.col("_min")).alias("is_duplicate"),
    )


def exact_dup_star_edges(
    docs: DataFrame, text_col: str, id_col: str, prefix_chars: int = 512,
) -> DataFrame:
    """(id_a = group-min id, id_b) star edges over byte-identical
    ``prefix_chars``-char prefixes — the exact-duplicate slice of q93's
    pair list. One window over the prefix groups; the shuffle key is
    the prefix, never the body."""
    return (
        _decisions(_prefixes(docs, text_col, id_col, prefix_chars), "ent", "id_b")
        .filter("is_duplicate")
        .select(F.col("canonical_id").alias("id_a"), "id_b", F.lit(1.0).alias("jaccard"))
    )


def minhash_near_dup_pairs(
    docs: DataFrame, text_col: str, id_col: str, sim_threshold: float = 0.8,
    prefix_chars: int = 512,
) -> DataFrame:
    """(id_a, id_b, jaccard) near-duplicate doc pairs via the same
    banding machinery as entity canonicalization (operators/graph.py).

    LSH runs over DISTINCT prefixes (exact duplicates would otherwise
    flood the buckets); pairs then map back to EVERY doc id carrying
    each prefix, and byte-identical prefixes additionally pair with
    their group minimum at jaccard 1.0 — so exact duplicates are
    reported, not silently collapsed (r2 fix). Each (id_a, id_b)
    appears once for unique non-NULL doc ids: a doc has one prefix,
    LSH emits each prefix pair once, and star edges join equal
    prefixes only."""
    pre = _prefixes(docs, text_col, id_col, prefix_chars)
    pairs = lsh_candidate_pairs(pre.select("ent").distinct(), sim_threshold)
    near = (
        pairs.join(pre.select(F.col("ent").alias("ent_a"), F.col("_docid").alias("ia")), "ent_a")
        .join(pre.select(F.col("ent").alias("ent_b"), F.col("_docid").alias("ib")), "ent_b")
        .select(
            F.least("ia", "ib").alias("id_a"),
            F.greatest("ia", "ib").alias("id_b"),
            "jaccard",
        )
    )
    return near.unionByName(exact_dup_star_edges(docs, text_col, id_col, prefix_chars))


def cluster_decisions(
    docs: DataFrame, pairs: DataFrame, text_col: str, id_col: str, prefix_chars: int
) -> DataFrame:
    """(doc_id, canonical_id, is_duplicate) from dup-pair edges
    (ent_a, ent_b) between ``prefix_chars``-char text prefixes: each
    doc takes its prefix's connected component (graph.canonical_map),
    so docs sharing a prefix, NULL included, are one cluster, and the
    cluster's lowest doc id keeps — the component it would take in the
    doc-id graph, whose edges join whole prefix groups."""
    cmap = canonical_map(_prefixes(docs, text_col, id_col, prefix_chars), pairs)
    return _decisions(cmap, "canonical", id_col)


def dedup_documents(
    docs: DataFrame, text_col: str, id_col: str, sim_threshold: float = 0.8,
    prefix_chars: int = 512,
) -> DataFrame:
    """Keep/drop decisions over MinHash-LSH near-dup prefix pairs — the
    decision a training-data pipeline actually consumes."""
    ents = _prefixes(docs, text_col, id_col, prefix_chars).select("ent").distinct()
    pairs = lsh_candidate_pairs(ents, sim_threshold)
    return cluster_decisions(docs, pairs, text_col, id_col, prefix_chars)


def dedup_documents_exact(
    docs: DataFrame, text_col: str, id_col: str, prefix_chars: int = 512,
) -> DataFrame:
    """Keep/drop decisions over EXACT duplicates: what
    ``cluster_decisions`` gives with no pairs, as one window over the
    prefix (no component loop, so building the plan runs no Spark
    job). The expected output is
    independently recomputable, which is what makes the driver's q37
    oracle-verifiable (VERDICT r2 item 3)."""
    return _decisions(_prefixes(docs, text_col, id_col, prefix_chars), "ent", id_col)


def dedup_documents_minhash_exact_slice(
    docs: DataFrame, text_col: str, id_col: str, sim_threshold: float = 0.8,
    prefix_chars: int = 512,
) -> DataFrame:
    """Keep/drop decisions over the VERIFIED-EXACT slice (true 3-gram
    jaccard = 1.0) of the MinHash-LSH prefix pairs — the driver-visible
    equality oracle for the q93 machinery (ROADMAP item 6). Complete:
    identical gram sets have identical signatures, so they share every
    band; sound: ``jaccard`` is the exact verified 3-gram jaccard. The
    clusters are exactly the identical-gram-set groups, which DuckDB
    recomputes independently (q40's oracle) — unlike q37, every row
    has flowed through signatures, banding, bucket joins and connected
    components."""
    ents = _prefixes(docs, text_col, id_col, prefix_chars).select("ent").distinct()
    pairs = lsh_candidate_pairs(ents, sim_threshold).filter("jaccard >= 1.0 - 1e-12")
    return cluster_decisions(docs, pairs, text_col, id_col, prefix_chars)


# ---------------------------------------------------------------------------
# SimHash (64-bit) + banded hamming pairs
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60  # 2 × 30-bit polynomial hashes; top bits stay 0 so
# the signature never touches the BIGINT sign in either engine


def simhash_signatures(
    docs: DataFrame, text_col: str, id_col: str, n_bits: int = SIMHASH_BITS
) -> DataFrame:
    """(doc_id, simhash) — portable ``n_bits``-bit SimHash over
    DISTINCT word unigrams, pure JVM (whole-stage codegen end to end):

    * per-word hash material = two ≤30-bit polynomial char folds
      (bases 31/37, prime moduli — the exact machinery of the q16
      fingerprint, whose Spark/DuckDB parity is oracle-proven);
    * bit-majority = explode (doc, word) rows, ``n_bits`` SUM
      aggregates (map-side partial combine ⇒ one shuffle of
      (doc_id, 61 longs), never word lists);
    * signature assembled with a shift/add dot product.

    The r2 version hashed with numpy/blake2b in mapInPandas; this form
    drops the Python workers entirely AND is recomputable in ANSI SQL,
    which is what turns the driver's q92 from rows-only into
    hash-oracle-checked (VERDICT r2 item 3)."""
    assert n_bits <= 60
    # tokens = maximal non-whitespace runs, not single-space splits:
    # line-wrapped near-duplicates must not fuse words across
    # newlines/tabs into per-doc-unique tokens (that silently
    # destroys recall on multi-line text; the oracle uses the same
    # class). Extraction, not split-and-filter: Spark's `split`
    # recompiles the regex per row (UTF8String.split -> String.split
    # slow path), which both costs ~25% single-thread and contends on
    # shared-heap allocation at high thread counts (the openie.py
    # finding); regexp_extract_all caches the compiled pattern, and
    # complement-class extraction is exactly split-minus-empties.
    words = F.array_distinct(
        F.regexp_extract_all(
            F.col(text_col), F.lit(r"[^ \t\n\x0B\f\r]+"), 0
        )
    )
    ex = docs.select(F.col(id_col).alias("doc_id"), F.explode(words).alias("w"))
    chars = "transform(split(w, ''), c -> CAST(ascii(c) AS BIGINT))"
    hb = ex.select(
        "doc_id",
        F.expr(
            f"aggregate({chars}, CAST(0 AS BIGINT), (acc, x) -> (acc*31+x) % 1000000007)"
        ).alias("h1"),
        F.expr(
            f"aggregate({chars}, CAST(0 AS BIGINT), (acc, x) -> (acc*37+x) % 998244353)"
        ).alias("h2"),
    )
    sums = [
        F.sum(
            F.shiftright(F.col("h1" if i < 30 else "h2"), i % 30)
            .bitwiseAND(F.lit(1))
        ).alias(f"b{i}")
        for i in range(n_bits)
    ]
    agg = hb.groupBy("doc_id").agg(F.count("*").alias("n"), *sums)
    sig = None
    for i in range(n_bits):
        bit = F.when(F.col(f"b{i}") * 2 >= F.col("n"), F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = bit if sig is None else sig + bit
    agg = agg.select("doc_id", sig.alias("simhash"))
    return (
        docs.select(F.col(id_col).cast("long").alias("doc_id"))
        .join(agg, "doc_id", "left")
        .select("doc_id", F.coalesce("simhash", F.lit(0).cast("long")).alias("simhash"))
    )


def simhash_near_dup_pairs(
    signatures: DataFrame, max_hamming: int = 3, n_bits: int = SIMHASH_BITS
) -> DataFrame:
    """Banded exact-match blocking: split the signature bits into
    (max_hamming+1) chunks — a pair within the distance bound must
    agree on >=1 chunk (pigeonhole), so blocking is recall-lossless.
    True distance verified with bit_count (JVM)."""
    n_chunks = min(max_hamming + 1, 16)
    base, extra = divmod(n_bits, n_chunks)
    chunks, off = [], 0
    for b in range(n_chunks):
        width = base + (1 if b < extra else 0)
        mask = (1 << width) - 1
        chunks.append(
            F.shiftrightunsigned(F.col("simhash"), off).bitwiseAND(F.lit(mask)).alias(f"c{b}")
        )
        off += width
    sig = signatures.select("doc_id", "simhash", *chunks)
    pairs = None
    for b in range(n_chunks):
        a = sig.select(
            F.col(f"c{b}").alias("blk"), F.col("doc_id").alias("id_a"),
            F.col("simhash").alias("ha"),
        )
        bb = sig.select(
            F.col(f"c{b}").alias("blk"), F.col("doc_id").alias("id_b"),
            F.col("simhash").alias("hb"),
        )
        p = a.join(bb, "blk").filter(F.col("id_a") < F.col("id_b")).drop("blk")
        pairs = p if pairs is None else pairs.unionByName(p)
    pairs = pairs.dropDuplicates(["id_a", "id_b"])
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return pairs.withColumn("hamming", ham).filter(
        F.col("hamming") <= max_hamming
    ).select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


# ---------------------------------------------------------------------------
# embedding-cosine near-dup via random-hyperplane LSH buckets
# ---------------------------------------------------------------------------

def plane_signature(emb_col, planes: np.ndarray):
    """bucket id = sign bits of dot products with fixed seeded planes,
    computed with JVM array exprs (no Python)."""
    bits = []
    for p in planes:
        dot = F.aggregate(
            F.zip_with(
                emb_col,
                F.array(*[F.lit(float(x)) for x in p]),
                lambda a, b: (a * b).cast("double"),
            ),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(dot >= 0, F.lit(1)).otherwise(F.lit(0)))
    out = F.lit(0)
    for i, b in enumerate(bits):
        out = out + b * F.lit(1 << i)
    return out


def lsh_plan_for_recall(
    min_cos: float, target_recall: float = 0.95, n_tables: int = 16
) -> tuple[int, int]:
    """(n_tables, n_planes) such that a pair at cosine ``min_cos`` is a
    bucket-collision candidate in ≥1 of the tables with probability
    ≥ ``target_recall``.

    Per-plane agreement for a pair at angle θ is 1-θ/π (random
    hyperplane LSH); a table of p planes collides with s^p; over T
    independent tables recall = 1-(1-s^p)^T. We keep T fixed and pick
    the LARGEST p meeting the target — more planes ⇒ more selective
    buckets ⇒ fewer false candidates to verify. (Round-1's single
    12-plane band had recall ≈0.28 at cos 0.95 and ≈0 at 0.5 —
    VERDICT r1 item 3.)

    Scale caveat: hyperplane LSH is only selective when ``min_cos`` is
    high. At min_cos=0.5 the derived plan is ~4 planes/table, where a
    RANDOM pair (cos≈0) still collides in ≥1 of 16 tables with p≈0.64
    — near-quadratic candidates. Real near-dup thresholds (≥0.9) give
    16-plane tables with random-pair collision ≈ 1e-3. Use a higher
    threshold or fewer tables at 100 TB; q94's 0.5 exists to exercise
    recall at tiny scale."""
    import math

    s = 1.0 - math.acos(max(-1.0, min(1.0, min_cos))) / math.pi
    per_table_needed = 1.0 - (1.0 - target_recall) ** (1.0 / n_tables)
    p = int(math.floor(math.log(per_table_needed) / math.log(s))) if 0 < s < 1 else 1
    return n_tables, max(1, min(p, 30))


def embedding_near_dup_pairs(
    emb: DataFrame, id_col: str = "vec_id", emb_col: str = "embedding",
    dim: int = 64, min_cos: float = 0.95, seed: int = 42,
    n_tables: int = 16, n_planes: int | None = None,
    target_recall: float = 0.95,
) -> DataFrame:
    """(id_a, id_b, cos) near-duplicate pairs via MULTI-TABLE random
    hyperplane LSH: all table buckets are computed in ONE projection
    over the corpus, exploded to (table, bucket) rows, self-joined on
    the composite key, then exact-cosine verified. One corpus scan,
    one shuffle join, no all-pairs product; (tables, planes) are
    derived from ``min_cos`` for ≥ ``target_recall`` candidate
    recall at the threshold."""
    if n_planes is None:
        n_tables, n_planes = lsh_plan_for_recall(min_cos, target_recall, n_tables)
    rng = np.random.Generator(np.random.PCG64(seed))
    buckets = F.array(
        *[
            F.struct(
                F.lit(t).alias("tbl"),
                plane_signature(
                    F.col(emb_col), rng.standard_normal((n_planes, dim))
                ).alias("bkt"),
            )
            for t in range(n_tables)
        ]
    )
    sig = emb.select(
        F.col(id_col).alias("_id"), F.col(emb_col).alias("_e"),
        F.explode(buckets).alias("tb"),
    ).select("_id", "_e", F.col("tb.tbl").alias("tbl"), F.col("tb.bkt").alias("bkt"))

    a = sig.select("tbl", "bkt", F.col("_id").alias("id_a"), F.col("_e").alias("ea"))
    b = sig.select("tbl", "bkt", F.col("_id").alias("id_b"), F.col("_e").alias("eb"))
    cand = (
        a.join(b, ["tbl", "bkt"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    dot = F.aggregate(
        F.zip_with("ea", "eb", lambda x, y: (x * y).cast("double")),
        F.lit(0.0).cast("double"), lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(c, lambda x: (x * x).cast("double")),
            F.lit(0.0).cast("double"), lambda acc, x: acc + x,
        )
    )
    return (
        cand.withColumn("cos", dot / (norm("ea") * norm("eb")))
        .filter(F.col("cos") >= min_cos)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
    )


def dedup_paragraphs_across_docs(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_para_chars: int = 0,
):
    """Cross-document paragraph dedup (the C4 / RefinedWeb move):
    every distinct paragraph survives exactly ONCE corpus-wide — at
    its first occurrence by (id, position) — and every other copy is
    cut out of its document; texts are reassembled from the
    survivors. Returns (id, text, n_paras_kept) with text '' when a
    document lost every paragraph (row preserved: silent row loss
    would corrupt downstream per-doc joins).

    Scale shape: boilerplate is the SKEW case here — a footer
    paragraph can occur in 10^9 documents. A window
    (row_number over paragraph) would put all those copies in one
    reducer partition; instead the winner per paragraph is a plain
    ``min(struct(id, pos))`` AGGREGATE, whose map-side partial min
    collapses the hot key before the exchange — and because the
    aggregate's output IS the surviving occurrence, the survivors
    need no join against the exploded paragraphs. Plan cost,
    honestly: the paragraph-key aggregate exchange, the per-doc
    reassembly exchange, and a final ids-only (column-pruned source
    re-scan) left join that preserves fully-deduped documents as
    rows; with ``min_para_chars > 0`` the exploded-paragraph subtree
    feeds two consumers (winners + kept-short) and is computed twice
    unless the caller persists upstream.

    ``min_para_chars``: paragraphs below the bound are kept verbatim
    in every document and never used as dedup keys — cutting every
    "Yes." reply corpus-wide is rarely the intent.
    """
    i, t = F.col(id_col), F.col(text_col)
    paras = (
        df.select(
            i,
            # literal '\n\n' boundary via LITERAL replace + a
            # single-char sentinel split (String.split's no-compile
            # fast path): `split(text, '\n\n')` would recompile the
            # two-char regex per row (the openie.py finding). A NUL
            # in page text would corrupt the boundary — absent from
            # any text corpus this engine ingests (and from UTF-8
            # web text generally).
            F.posexplode(
                F.split(
                    F.replace(
                        F.coalesce(t, F.lit("")),
                        F.lit("\n\n"),
                        F.lit("\x00"),
                    ),
                    "\x00",
                )
            ).alias("pos", "para"),
        )
        .filter(F.length(F.trim(F.col("para"))) > 0)
        .withColumn("_short", F.length("para") < F.lit(min_para_chars))
    )
    winners = (
        paras.filter(~F.col("_short"))
        .groupBy("para")
        .agg(F.min(F.struct(F.col(id_col), F.col("pos"))).alias("w"))
    )
    kept = winners.select(
        F.col(f"w.{id_col}").alias(id_col),
        F.col("w.pos").alias("pos"),
        "para",
    )
    if min_para_chars > 0:
        kept = kept.unionByName(
            paras.filter(F.col("_short")).select(id_col, "pos", "para")
        )
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_paras_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda s: s["para"],
            ),
            "\n\n",
        ).alias("_text"),
    )
    return (
        df.select(i)
        .join(rebuilt, id_col, "left")
        .select(
            i,
            F.coalesce(F.col("_text"), F.lit("")).alias(text_col),
            F.coalesce(F.col("n_paras_kept"), F.lit(0)).cast("bigint").alias(
                "n_paras_kept"
            ),
        )
    )
