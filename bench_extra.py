#!/usr/bin/env python
"""Noop-sink timing sweep over the FULL query registry (guide §1.4).

NOT the driver bench — `bench.py` is frozen and untouched. This file
exists so OPTIMIZATION_r06.md's operator checklist cites measured
numbers for every registry entry, not just the headline set. Each
query is executed twice against $SPARK_GRAFT_SF_DIR (default sf0.1)
with `df.write.format("noop")` so the computation is timed, not the
sink; the JSON line reports both samples (first = cold-within-session,
second = warm) and, per sample, the Spark jobs of its job group (plan
build and run together).

    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python bench_extra.py [name ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from knowledge_harvest_from_lms_spark.plans.queries import QUERIES  # noqa: E402
from knowledge_harvest_from_lms_spark.session import get_session  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    names = sys.argv[1:] or list(QUERIES)
    spark = get_session(cpus=cpus, app_name="bench-extra-sweep")
    sc = spark.sparkContext
    out: dict[str, list[float]] = {}
    for name in names:
        samples, jobs = [], []
        for i in range(2):
            group = f"bench_extra:{name}:{i}"
            sc.setJobGroup(group, f"bench_extra:{name}")
            t0 = time.monotonic()
            QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            samples.append(round(time.monotonic() - t0, 3))
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        out[name] = samples
        print(json.dumps({"query": name, "sec": samples, "jobs": jobs}), flush=True)
    sc.setLocalProperty("spark.jobGroup.id", None)
    warm_total = round(sum(s[-1] for s in out.values()), 3)
    print(
        json.dumps(
            {
                "metric": "full-registry noop-sink sweep",
                "sf_dir": sf_dir,
                "cpus": cpus,
                "n_queries": len(out),
                "warm_total_sec": warm_total,
            }
        )
    )


if __name__ == "__main__":
    main()
