"""Metric names: well-formed, unique, and every name a workload can
report is declared in BENCHMARK.json. Layer metrics are computed here
from synthetic spans and jobs, without Spark."""

import json
import os
import re

import pytest

from perfbench import workloads
from perfbench.eventlog import Job, Totals
from perfbench.tracing import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
# added by run.py to every traced workload's layer metrics
COMMON = {
    "spark.jobs", "spark.tasks", "spark.busy_frac", "spark.shuffle_write_mb",
    "spark.unattributed_jobs", "span_coverage_frac", "trace_overhead_frac",
}
END_TO_END = {"setup_s", "result_s", "items_per_s"}


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def declared(kind):
    return {m["name"] for m in spec()[kind]}


class FakeSc:
    def setLocalProperty(self, key, value):
        pass


def job(jid, group, at, call_site=None):
    t = Totals(jobs=1, stages=2, tasks=4, exec_run_s=1.0, exec_cpu_s=0.5,
               shuffle_write_mb=0.1, py_run_s=0.2, py_sent_mb=0.01)
    return Job(jid, group, call_site, at, at + 0.05, [jid], t)


def ctx(tmp_path):
    return workloads.Ctx(spark=None, seed=1, tmp=str(tmp_path), cores=4)


def test_names_are_well_formed_and_unique():
    s = spec()
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in s[k]]
    assert all(NAME.fullmatch(n) for n in names)
    assert len(names) == len(set(names))
    assert declared("end_to_end") == END_TO_END
    assert COMMON <= declared("per_layer")
    bounds = {m["name"]: m["bound"] for m in s["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


def test_harvest_layers_are_declared(tmp_path):
    w = workloads.WORKLOADS["harvest_deep"]()
    t = Tracer(FakeSc())
    jobs = []
    with t.span("harvest_deep") as root:
        for name in ("prompt_weights", "beam_search", "rescoring"):
            with t.span(name) as s:
                jobs.append(job(len(jobs), s.group, s.start))
                if name == "beam_search":
                    with t.span("beam_search.finalize") as f:
                        jobs.append(job(len(jobs), f.group, f.start))
    w.facts[root.group] = (100, 40, 30)
    m = w.layer_metrics(ctx(tmp_path), t, root, jobs)
    assert set(m) <= declared("per_layer")
    assert m["beam_search.jobs"] == 1 and m["beam_search.finalize.jobs"] == 1
    assert m["harvest.kept_ratio"] == 0.3


def test_near_dup_layers_are_declared(tmp_path):
    w = workloads.NearDup()
    t = Tracer(FakeSc())
    jobs = []
    with t.span("near_dup") as root:
        for q in workloads.NEAR_DUP_QUERIES:
            short = q.split("_")[0]
            for part in ("plan", "run"):
                with t.span(f"{short}.{part}") as s:
                    jobs.append(job(len(jobs), s.group, s.start))
    w.facts[root.group] = {q.split("_")[0]: 7 for q in workloads.NEAR_DUP_QUERIES}
    m = w.layer_metrics(ctx(tmp_path), t, root, jobs)
    assert set(m) <= declared("per_layer")
    assert m["q38.plan_jobs"] == 1 and m["q38.rows_out"] == 7


def test_web_kg_layers_are_declared(tmp_path):
    w = workloads.WebKG()
    w.pages_path = str(tmp_path / "pages")
    os.makedirs(w.pages_path)
    (tmp_path / "pages" / "part-0").write_bytes(b"x" * 1000)
    t = Tracer(FakeSc())
    with t.span("web_kg") as root:
        pass
    root.start, root.end = 0.0, float(len(workloads.WEB_STAGES) + 1)
    stages, jobs = [], []
    for i, (_, layer) in enumerate(workloads.WEB_STAGES):
        span = t.add(layer, float(i), float(i + 1), root)
        stages.append((span, layer, 10, 500))
        jobs.append(job(i, root.group, i + 0.5, "count at operators/checkpoint.py:98"))
    jobs.append(job(len(jobs), root.group, root.end - 0.5))  # after the last stage
    w.facts[root.group] = stages
    resume = t.add("resume", root.end, root.end + 0.2, root)
    resume.parent = None
    m = w.layer_metrics(ctx(tmp_path), t, root, jobs)
    assert set(m) <= declared("per_layer")
    assert m["graph.materialize.jobs"] == 2  # edges and vertices stages
    assert m["checkpoint.jobs"] == len(workloads.WEB_STAGES)
    assert m["checkpoint.bytes_per_input_byte"] == pytest.approx(4.0)
    assert m["spark.unattributed_jobs"] == 1
