"""KG-construction benchmark: one workload per call.

    python3 perfbench/run.py --workload web_kg --seed 3 --seconds 10 --trace 0

Runs from the root of a checkout. It sets up a local[nproc] session,
generates and materializes the workload's inputs from the seed, runs
one checked warm-up iteration, then closed-loop checked iterations for
`--seconds`. The last stdout line is the result JSON. With `--trace 1`
the metrics are the per-layer ones, taken from Spark's event log and
the benchmark's own spans (also written under .perfbench_runs/).
Exit code: 0 when every check passed, 1 when one failed, 2 when the
program is not in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_runs")
MIB = 1024 * 1024


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def declared_metrics() -> dict[str, list[dict]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {"end_to_end": spec["end_to_end"], "per_layer": spec["per_layer"]}


def session_conf(tmp: str, cores: int, trace: bool) -> dict:
    from perfbench import host

    # below physical RAM: session.py's 16g default exceeds small hosts
    mem_g = max(1, min(4, host.phys_mem_bytes() // (4 * 1024**3)))
    conf = {
        "spark.driver.memory": f"{mem_g}g",
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(tmp, "eventlog"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(tmp, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM this process launched and wait
    for it: the gateway JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


class Run:
    """One invocation: set-up, warm-up, the timed loop, the checks."""

    def __init__(self, args, tmp: str, t_start: float) -> None:
        from perfbench import checks
        from perfbench.workloads import WORKLOADS

        self.args = args
        self.tmp = tmp
        self.t_start = t_start
        self.workload = WORKLOADS[args.workload]()
        self.expected = checks.expected_digest(args.workload, args.seed)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def one(self, fn) -> float | None:
        """Time one iteration; check its digest; None if it failed."""
        from perfbench.workloads import CheckFailed

        self.attempted += 1
        t0 = time.perf_counter()
        try:
            d = fn()
            dt = time.perf_counter() - t0
            if self.expected is None:
                self.expected = d  # another seed: every iteration must equal the first
            if d != self.expected:
                raise CheckFailed(f"digest {d[:12]} != expected {self.expected[:12]}")
            self.workload.after_iteration(self.ctx, self.tracer)
            return dt
        except Exception as e:  # a failed iteration is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            self.problems.append(f"iteration {self.attempted}: {e}")
            return None

    def execute(self) -> dict:
        from knowledge_harvest_from_lms_spark.session import get_session

        from perfbench import host
        from perfbench.tracing import Tracer
        from perfbench.workloads import Ctx

        args, w = self.args, self.workload
        cores = host.nproc()
        cpu0 = host.cpu_times()
        with host.RssSampler() as rss:
            spark = get_session(
                cpus=cores,
                shuffle_partitions=cores,
                app_name=f"perfbench-{args.workload}",
                extra_conf=session_conf(self.tmp, cores, bool(args.trace)),
            )
            try:
                self.ctx = Ctx(spark, args.seed, self.tmp, cores)
                self.tracer = None
                w.setup(self.ctx)
                with ThreadPoolExecutor(max_workers=1) as pool:
                    # a traced call reports no setup_s, so the Spark-free
                    # oracle shares the CPU with the warm-up only
                    oracle = pool.submit(w.oracle_frames) if args.trace else None
                    self.one(lambda: w.run(self.ctx))  # warm-up, checked
                    frames = oracle.result() if oracle else None
                setup_s = time.perf_counter() - self.t_start

                times: list[float] = []
                traced: list[float] = []
                t_loop = time.perf_counter()
                if args.trace:
                    untraced = self.one(lambda: w.run(self.ctx))
                    self.tracer = Tracer(spark.sparkContext)
                    fn = lambda: w.run_traced(self.ctx, self.tracer)  # noqa: E731
                else:
                    fn = lambda: w.run(self.ctx)  # noqa: E731
                while True:
                    dt = self.one(fn)
                    if dt is not None:
                        (traced if args.trace else times).append(dt)
                    if time.perf_counter() - t_loop >= args.seconds:
                        break
                if args.trace:
                    self.problems += w.oracle_problems(frames)
            finally:
                stop_spark(spark)
        facts = {
            "workload": args.workload,
            "seed": args.seed,
            "nproc": cores,
            "sha256_mb_per_s": round(host.sha256_mb_per_s(), 1),
            "steal_pct": round(host.steal_pct(cpu0, host.cpu_times()), 3),
            "attempted": self.attempted,
            "failed": self.failed,
            "fail_frac": self.failed / self.attempted,
            "problems": self.problems,
            "digest": self.expected,
            "peak_rss_mb": round(rss.peak_bytes / MIB, 1),
        }
        if args.trace:
            metrics = self.layer_metrics(untraced, traced, cores)
        else:
            result_s = statistics.median(times) if times else float("nan")
            facts["result_s_samples"] = len(times)
            facts["items"] = f"{w.items()} {w.item}"
            metrics = {
                "setup_s": setup_s,
                "result_s": result_s,
                "items_per_s": w.items() / result_s,
            }
        return {"facts": facts, "metrics": metrics}

    def layer_metrics(self, untraced: float | None, traced: list[float], cores: int) -> dict:
        """Median over the traced iterations of each per-layer metric."""
        import glob

        from perfbench.eventlog import read_jobs, totals

        (log,) = glob.glob(os.path.join(self.tmp, "eventlog", "*"))
        jobs = read_jobs(log)
        t = self.tracer
        per_iter = []
        for root in [s for s in t.spans if s.name == self.workload.name]:
            tree = {root.group}
            for s in t.spans:
                if s.parent in tree:
                    tree.add(s.group)
            mine = [j for j in jobs if j.group in tree]
            m = self.workload.layer_metrics(self.ctx, t, root, jobs)
            tot = totals(mine)
            m["spark.jobs"] = float(tot.jobs)
            m["spark.tasks"] = float(tot.tasks)
            m["spark.shuffle_write_mb"] = tot.shuffle_write_mb
            m["spark.busy_frac"] = tot.exec_run_s / (root.duration * cores)
            # jobs in the iteration's window outside any layer's group
            m.setdefault(
                "spark.unattributed_jobs",
                float(
                    sum(
                        1
                        for j in jobs
                        if root.start <= j.submit_s <= root.end
                        and (j.group is None or j.group == root.group)
                    )
                ),
            )
            m["span_coverage_frac"] = 1.0 - t.self_time(root) / root.duration
            per_iter.append(m)
        out = {k: statistics.median(m[k] for m in per_iter) for k in per_iter[0]}
        if untraced and traced:
            out["trace_overhead_frac"] = statistics.median(traced) / untraced - 1.0
        stem = os.path.join(WORK, f"{self.args.workload}-seed{self.args.seed}")
        t.write(stem + "-spans.json")
        with open(stem + "-layers.json", "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
        return out


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import knowledge_harvest_from_lms_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    spec = declared_metrics()
    os.makedirs(WORK, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="tmp-", dir=WORK)
    # Python workers are children of the JVM: they find the program
    # through PYTHONPATH, not through this process's sys.path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    try:
        res = Run(args, tmp, t_start).execute()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    facts, produced = res["facts"], res["metrics"]
    kind = "per_layer" if args.trace else "end_to_end"
    undeclared = sorted(set(produced) - {m["name"] for m in spec[kind]})
    if undeclared:
        facts["problems"].append(f"undeclared metrics: {undeclared}")
    metrics = {
        m["name"]: {"value": produced.get(m["name"], 0.0), "unit": m["unit"]}
        for m in spec[kind]
    }
    correct = not facts["problems"] and facts["failed"] == 0
    print(json.dumps(facts, sort_keys=True))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": facts["attempted"],
                "failed": facts["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
