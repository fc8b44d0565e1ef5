"""Seeded input generators for the benchmark workloads.

The program under test receives only what these functions produce. The
same seed gives byte-identical inputs; another seed gives different
ones. Nothing here reads the clock or the environment.
"""

from __future__ import annotations

import io
import random

import pyarrow as pa
import pyarrow.parquet as pq

N_WIDE_RELATIONS = 192
N_DOCUMENTS = 500

# The documents vocabulary and shape follow the repository's sf0.01
# `documents` table: 10-99 words drawn uniformly from 30 words, and one
# document in twenty an exact copy of an earlier one with " dup" added.
_DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_DUP_EVERY = 20


def wide_relations(seed: int, n: int = N_WIDE_RELATIONS) -> list[dict]:
    """`n` relation records. Record k renames fixture relation k mod 3
    and keeps a seeded subset (at least two) of its seed tuples."""
    from knowledge_harvest_from_lms_spark.sources.fixtures import FIXTURE_RELATIONS

    rng = random.Random(seed)
    out = []
    for k in range(n):
        base = FIXTURE_RELATIONS[k % len(FIXTURE_RELATIONS)]
        tuples = base["seed_ent_tuples"]
        keep = sorted(rng.sample(range(len(tuples)), rng.randint(2, len(tuples))))
        out.append(
            {
                "rel": f"{base['rel']}_{k:03d}",
                "init_prompts": list(base["init_prompts"]),
                "prompts": list(base["prompts"]),
                "seed_ent_tuples": [list(tuples[i]) for i in keep],
            }
        )
    return out


def documents_table(seed: int, n: int = N_DOCUMENTS) -> pa.Table:
    """The `documents` table (doc_id, text, lang, source, n_chars) the
    near-duplicate queries read."""
    rng = random.Random(seed)
    texts: list[str] = []
    for i in range(n):
        if i and i % _DUP_EVERY == 0:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choices(_DOC_WORDS, k=rng.randint(10, 99))))
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": texts,
            "lang": [rng.choice(_LANGS) for _ in range(n)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def documents_parquet(seed: int, n: int = N_DOCUMENTS) -> bytes:
    buf = io.BytesIO()
    pq.write_table(documents_table(seed, n), buf)
    return buf.getvalue()


def write_documents(sf_dir: str, seed: int) -> None:
    """Write `<sf_dir>/documents.parquet`, the layout `plans.queries`
    loads tables from."""
    with open(f"{sf_dir}/documents.parquet", "wb") as f:
        f.write(documents_parquet(seed))


def write_web_pages(spark, path: str, seed: int, n_pages: int) -> None:
    """Materialize `synth_web_pages(seed)` as parquet at `path`."""
    from knowledge_harvest_from_lms_spark.sources.web_pages import synth_web_pages

    synth_web_pages(spark, n_pages, seed=seed).write.mode("overwrite").parquet(path)
