"""The benchmark workloads.

Each workload generates and materializes its inputs in `setup`, then
runs closed-loop iterations: `run` calls the program the way a user
would, `run_traced` calls the same layers under one span each. Both
return the digest of the checked result. `layer_metrics` folds the
event log onto the spans of one traced iteration.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from perfbench import checks, inputs
from perfbench.eventlog import Job, Totals, totals
from perfbench.tracing import Span, Tracer

MB = 1024 * 1024


class CheckFailed(Exception):
    pass


@dataclass
class Ctx:
    spark: object
    seed: int
    tmp: str
    cores: int


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _layer(prefix: str, t: Totals, keys: tuple[str, ...]) -> dict[str, float]:
    return {f"{prefix}.{k}": float(getattr(t, k)) for k in keys}


def _jobs_of(jobs: list[Job], span: Span) -> list[Job]:
    return [j for j in jobs if j.group == span.group]


class Workload:
    name = ""
    item = ""  # what items_per_s counts

    def __init__(self) -> None:
        self.facts: dict[str, object] = {}  # root span group -> traced counts

    def setup(self, ctx: Ctx) -> None:
        raise NotImplementedError

    def items(self) -> int:
        raise NotImplementedError

    def run(self, ctx: Ctx) -> str:
        raise NotImplementedError

    def run_traced(self, ctx: Ctx, tracer: Tracer) -> str:
        raise NotImplementedError

    def layer_metrics(self, ctx: Ctx, tracer: Tracer, root: Span, jobs: list[Job]) -> dict:
        raise NotImplementedError

    def after_iteration(self, ctx: Ctx, tracer: Tracer | None = None) -> None:
        """Work that follows each iteration outside its timing."""

    def oracle_frames(self) -> dict | None:
        """Reference results computed without Spark, or None."""
        return None

    def oracle_problems(self, frames: dict | None) -> list[str]:
        return []


# ---------------------------------------------------------------------------
# harvest_deep / harvest_wide: plans.harvest.harvest, and its four layers
# ---------------------------------------------------------------------------


class Harvest(Workload):
    item = "triples"

    def __init__(self, name: str, wide: bool) -> None:
        super().__init__()
        self.name = name
        self.wide = wide
        self.n_triples = 0

    def setup(self, ctx: Ctx) -> None:
        from knowledge_harvest_from_lms_spark.config import HarvestConfig
        from knowledge_harvest_from_lms_spark.sources.fixtures import FIXTURE_RELATIONS
        from knowledge_harvest_from_lms_spark.sources.relations import relations_from_records

        if self.wide:
            records = inputs.wide_relations(ctx.seed)
            self.cfg = HarvestConfig(
                max_n_ent_tuples=10, token_beam_width=4, max_ent_subwords=1,
                shuffle_partitions=ctx.cores,
            )
        else:
            records = FIXTURE_RELATIONS
            self.cfg = HarvestConfig(
                max_n_ent_tuples=50, token_beam_width=12, max_ent_subwords=2,
                prune_slack=3.0, shuffle_partitions=ctx.cores,
            )
        self.relations = relations_from_records(ctx.spark, records)

    def items(self) -> int:
        return self.n_triples

    def _finish(self, rows: list) -> str:
        self.n_triples = len(rows)
        return checks.digest({"triples": rows})

    def run(self, ctx: Ctx) -> str:
        from knowledge_harvest_from_lms_spark.plans.harvest import harvest

        out = harvest(ctx.spark, self.relations, self.cfg)
        rows = out["triples"].select("rel", "ents", "weight").collect()
        out["prompt_weights"].unpersist()
        return self._finish(rows)

    def run_traced(self, ctx: Ctx, tracer: Tracer) -> str:
        """`harvest()` composed layer by layer, each output materialized
        inside its own span."""
        from knowledge_harvest_from_lms_spark.operators.beam_search import (
            finalize_candidates,
            search_ent_tuples,
        )
        from knowledge_harvest_from_lms_spark.operators.prompt_weights import (
            compute_prompt_weights,
        )
        from knowledge_harvest_from_lms_spark.operators.rescoring import rescore_and_rank

        spark, cfg = ctx.spark, self.cfg
        with tracer.span(self.name) as root:
            # harvest() starts with the same setting
            spark.conf.set("spark.sql.shuffle.partitions", str(cfg.shuffle_partitions))
            with tracer.span("prompt_weights"):
                pw = compute_prompt_weights(self.relations, cfg)
                pw.persist()
                pw.count()
            with tracer.span("beam_search"):
                raw = search_ent_tuples(spark, pw, self.relations, cfg)
                raw_rows = raw.count()
                with tracer.span("beam_search.finalize"):
                    cand = finalize_candidates(raw, cfg).localCheckpoint(eager=True)
                    cand_rows = cand.count()
            with tracer.span("rescoring"):
                triples = rescore_and_rank(cand, pw, cfg)
                rows = triples.select("rel", "ents", "weight").collect()
            pw.unpersist()
        self.facts[root.group] = (raw_rows, cand_rows, len(rows))
        return self._finish(rows)

    def layer_metrics(self, ctx: Ctx, tracer: Tracer, root: Span, jobs: list[Job]) -> dict:
        raw_rows, cand_rows, n_triples = self.facts[root.group]
        kids = {c.name: c for c in tracer.children(root)}
        bs = kids["beam_search"]
        (fin,) = tracer.children(bs)
        m = {}
        for name, keys in (
            ("prompt_weights", ("jobs", "tasks", "exec_cpu_s", "py_run_s")),
            ("beam_search", ("jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s",
                             "shuffle_write_mb")),
            ("rescoring", ("jobs", "tasks", "exec_cpu_s", "py_run_s", "py_sent_mb")),
        ):
            span = kids[name]
            t = totals(_jobs_of(jobs, span))
            m.update(_layer(name, t, keys))
            m[f"{name}.wall_s"] = tracer.self_time(span)
        bs_wall = m["beam_search.wall_s"]
        m["beam_search.busy_frac"] = m["beam_search.exec_run_s"] / (bs_wall * ctx.cores)
        m["beam_search.raw_rows"] = float(raw_rows)
        fin_jobs = _jobs_of(jobs, fin)
        m["beam_search.finalize.wall_s"] = tracer.self_time(fin)
        m["beam_search.finalize.jobs"] = float(len(fin_jobs))
        m["beam_search.finalize.rows"] = float(cand_rows)
        m["harvest.kept_ratio"] = n_triples / raw_rows if raw_rows else 0.0
        return m


# ---------------------------------------------------------------------------
# web_kg: plans.full_pipeline.run_full_pipeline over generated web pages
# ---------------------------------------------------------------------------

# run_stage directory -> layer. Both graph stages materialize the graph.
WEB_STAGES = (
    ("10_extract", "extract_text"),
    ("20_prompt_weights", "prompt_weights"),
    ("30_candidates", "beam_search"),
    ("40_triples", "rescoring"),
    ("50_grounded", "corpus_grounding"),
    ("60_edges", "graph.materialize"),
    ("61_vertices", "graph.materialize"),
    ("62_ranks", "graph.pagerank"),
)
N_WEB_PAGES = 50_000


class WebKG(Workload):
    name = "web_kg"
    item = "pages"

    def setup(self, ctx: Ctx) -> None:
        from knowledge_harvest_from_lms_spark.config import HarvestConfig
        from knowledge_harvest_from_lms_spark.sources.fixtures import FIXTURE_RELATIONS
        from knowledge_harvest_from_lms_spark.sources.relations import relations_from_records

        self.pages_path = os.path.join(ctx.tmp, "web_pages")
        inputs.write_web_pages(ctx.spark, self.pages_path, ctx.seed, N_WEB_PAGES)
        self.pages = ctx.spark.read.parquet(self.pages_path)
        self.relations = relations_from_records(
            ctx.spark, [r for r in FIXTURE_RELATIONS if len(r["seed_ent_tuples"][0]) == 2]
        )
        self.cfg = HarvestConfig(
            max_n_ent_tuples=10, token_beam_width=4, max_ent_subwords=1,
            shuffle_partitions=ctx.cores,
        )
        self.n_iter = 0

    def items(self) -> int:
        return N_WEB_PAGES

    def _pipeline(self, ctx: Ctx, base: str) -> dict:
        from knowledge_harvest_from_lms_spark.plans.full_pipeline import run_full_pipeline

        return run_full_pipeline(ctx.spark, self.relations, self.pages, base, self.cfg)

    @staticmethod
    def _collect(out: dict) -> str:
        return checks.digest(
            {
                "triples": out["triples"].select("rel", "ents", "weight").collect(),
                "edges": out["edges"].collect(),
                "vertices": out["vertices"].collect(),
            }
        )

    def _base(self, ctx: Ctx) -> str:
        self.n_iter += 1
        return os.path.join(ctx.tmp, f"kg-{self.n_iter}")

    def run(self, ctx: Ctx) -> str:
        base = self._base(ctx)
        d = self._collect(self._pipeline(ctx, base))
        self.pending_resume = (base, d)
        return d

    def after_iteration(self, ctx: Ctx, tracer: Tracer | None = None) -> None:
        """Re-run on the finished base dir: every stage resumes from its
        manifest, and the result must equal the cold one."""
        import shutil
        from contextlib import nullcontext

        base, cold = self.pending_resume
        with tracer.span("resume") if tracer else nullcontext():
            out = self._pipeline(ctx, base)
        warm = self._collect(out)
        shutil.rmtree(base)
        if warm != cold:
            raise CheckFailed("web_kg: resumed output differs from the cold output")

    def run_traced(self, ctx: Ctx, tracer: Tracer) -> str:
        base = self._base(ctx)
        with tracer.span(self.name) as root:
            out = self._pipeline(ctx, base)
            with tracer.span("output"):
                d = self._collect(out)
        self._trace_stages(tracer, root, base)
        self.pending_resume = (base, d)
        return d

    def _trace_stages(self, tracer: Tracer, root: Span, base: str) -> None:
        """Stage spans from the run_stage manifests: each stage runs
        from the previous manifest's `written_at` to its own."""
        import glob
        import json

        (run_dir,) = glob.glob(os.path.join(base, "run-*"))
        start = root.start
        stages = self.facts[root.group] = []
        for stage, layer in WEB_STAGES:
            with open(os.path.join(run_dir, stage, "manifest.json")) as f:
                man = json.load(f)
            span = tracer.add(layer, start, man["written_at"], root)
            size = _dir_bytes(os.path.join(run_dir, stage))
            stages.append((span, layer, man["row_count"], size))
            start = man["written_at"]

    def layer_metrics(self, ctx: Ctx, tracer: Tracer, root: Span, jobs: list[Job]) -> dict:
        resume_span = next(s for s in tracer.spans if s.name == "resume" and s.start >= root.end)
        inner = _jobs_of(jobs, root)
        m: dict[str, float] = {}
        per_layer: dict[str, list[Job]] = {}
        rows: dict[str, int] = {}
        sizes: dict[str, int] = {}
        for span, layer, n, size in self.facts[root.group]:
            mine = [j for j in inner if span.start < j.submit_s <= span.end]
            per_layer.setdefault(layer, []).extend(mine)
            m[f"{layer}.wall_s"] = m.get(f"{layer}.wall_s", 0.0) + span.duration
            rows[layer] = n
            sizes[layer] = sizes.get(layer, 0) + size
        written = sum(sizes.values())
        m["extract_text.rows"] = float(rows["extract_text"])
        m["extract_text.written_mb"] = sizes["extract_text"] / MB
        m["corpus_grounding.written_mb"] = sizes["corpus_grounding"] / MB
        for layer, keys in (
            ("extract_text", ("jobs", "exec_cpu_s", "py_run_s")),
            ("prompt_weights", ("jobs", "tasks", "exec_cpu_s", "py_run_s")),
            ("beam_search", ("jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s",
                             "shuffle_write_mb")),
            ("rescoring", ("jobs", "tasks", "exec_cpu_s", "py_run_s", "py_sent_mb")),
            ("corpus_grounding", ("jobs", "exec_cpu_s")),
            ("graph.materialize", ("jobs",)),
            ("graph.pagerank", ("jobs",)),
        ):
            m.update(_layer(layer, totals(per_layer[layer]), keys))
        m["beam_search.busy_frac"] = m["beam_search.exec_run_s"] / (
            m["beam_search.wall_s"] * ctx.cores
        )
        attributed = {j.job_id for js in per_layer.values() for j in js}
        m["checkpoint.written_mb"] = written / MB
        m["checkpoint.bytes_per_input_byte"] = written / _dir_bytes(self.pages_path)
        m["checkpoint.jobs"] = float(
            sum(1 for j in inner if "operators/checkpoint.py" in (j.call_site or ""))
        )
        m["checkpoint.resume_jobs"] = float(len(_jobs_of(jobs, resume_span)))
        m["checkpoint.resume_s"] = resume_span.duration
        m["spark.unattributed_jobs"] = float(
            sum(1 for j in inner if j.job_id not in attributed)
        )
        return m


# ---------------------------------------------------------------------------
# near_dup: four similarity queries over a generated documents table
# ---------------------------------------------------------------------------

NEAR_DUP_QUERIES = (
    "q14_ngram_jaccard_pairs",
    "q38_dedup_documents_minhash",
    "q73_setsim_exact_pairs",
    "q80_containment_pairs",
)


class NearDup(Workload):
    name = "near_dup"
    item = "docs"

    def setup(self, ctx: Ctx) -> None:
        self.sf_dir = os.path.join(ctx.tmp, "sf")
        os.makedirs(self.sf_dir)
        inputs.write_documents(self.sf_dir, ctx.seed)
        self.first_rows: dict | None = None

    def items(self) -> int:
        return inputs.N_DOCUMENTS

    def _finish(self, results: dict) -> str:
        if self.first_rows is None:
            self.first_rows = results
        return checks.digest({q: rows for q, (_, rows) in results.items()})

    def run(self, ctx: Ctx) -> str:
        from knowledge_harvest_from_lms_spark.plans.queries import QUERIES

        results = {}
        for q in NEAR_DUP_QUERIES:
            df = QUERIES[q](ctx.spark, self.sf_dir)
            results[q] = (df.columns, df.collect())
        return self._finish(results)

    def run_traced(self, ctx: Ctx, tracer: Tracer) -> str:
        from knowledge_harvest_from_lms_spark.plans.queries import QUERIES

        results = {}
        with tracer.span(self.name) as root:
            for q in NEAR_DUP_QUERIES:
                short = q.split("_")[0]
                with tracer.span(f"{short}.plan"):
                    df = QUERIES[q](ctx.spark, self.sf_dir)
                with tracer.span(f"{short}.run"):
                    results[q] = (df.columns, df.collect())
        self.facts[root.group] = {
            q.split("_")[0]: len(rows) for q, (_, rows) in results.items()
        }
        return self._finish(results)

    def layer_metrics(self, ctx: Ctx, tracer: Tracer, root: Span, jobs: list[Job]) -> dict:
        m = {}
        for span in tracer.children(root):
            short, part = span.name.split(".")
            mine = _jobs_of(jobs, span)
            if part == "plan":
                m[f"{short}.plan_s"] = span.duration
                m[f"{short}.plan_jobs"] = float(len(mine))
            else:
                m[f"{short}.run_s"] = span.duration
                m.update(_layer(short, totals(mine),
                                ("jobs", "tasks", "exec_cpu_s", "shuffle_write_mb")))
                m[f"{short}.rows_out"] = float(self.facts[root.group][short])
        return m

    def oracle_frames(self) -> dict:
        """Each query's DuckDB oracle result over the same documents."""
        import duckdb

        from knowledge_harvest_from_lms_spark.plans.queries import ORACLES

        con = duckdb.connect()
        try:
            con.execute(
                f"CREATE VIEW documents AS SELECT * FROM '{self.sf_dir}/documents.parquet'"
            )
            return {q: con.execute(ORACLES[q]).df() for q in NEAR_DUP_QUERIES}
        finally:
            con.close()

    def oracle_problems(self, frames: dict) -> list[str]:
        """Compare the first iteration's rows with the oracle frames
        through plans.oracle_check."""
        import pandas as pd

        from knowledge_harvest_from_lms_spark.plans.oracle_check import compare_frames

        problems = []
        for q, (cols, rows) in self.first_rows.items():
            spark_pdf = pd.DataFrame([tuple(r) for r in rows], columns=cols)
            problems += [f"{q}: {p}" for p in compare_frames(spark_pdf, frames[q])]
        return problems

WORKLOADS = {
    "web_kg": WebKG,
    "near_dup": NearDup,
    "harvest_deep": lambda: Harvest("harvest_deep", wide=False),
    "harvest_wide": lambda: Harvest("harvest_wide", wide=True),
}
