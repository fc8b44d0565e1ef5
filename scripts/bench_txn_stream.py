#!/usr/bin/env python
"""Transactional streaming harvest at full reference relation width.

The batch full-width sweep (`SPARK_GRAFT_FULL_EKAR=1 python bench.py`,
BENCH_ekar487.json) proves the beam at 487 relations; THIS script
proves the same width through the STREAMING path with `txn=True` —
every micro-batch commits ledger + vertices + edges + band/variant
indexes as ONE TxnLog generation, and the incremental graph merge
(linking, LSH banding, connected components) runs per drop. That is the
production posture the README advertises, so its width limit needs
its own evidence: driver-side rel_info maps, per-relation grounding
masks, the graph merge's link/cluster joins, and the commit manifest
all scale with relation count, none of which the batch sweep's
plain-parquet path exercises.

Usage:
    python scripts/bench_txn_stream.py [--width 487] [--drops-per 1]
        [--cpus 32] [--out JSON_PATH]

Prints one JSON line: seconds, triples, triples/sec, snapshot count,
table row counts. Work dirs live under /tmp and are wiped first.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EKAR = "/root/reference/relation_info/ekar_aggr.json"


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--width", type=int, default=487)
    p.add_argument(
        "--drops-per",
        type=int,
        default=1,
        help="micro-batches to split the relations over (1 = one big drop)",
    )
    p.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", 32)))
    p.add_argument("--out", default=None, help="also write the JSON line here")
    args = p.parse_args()

    from pyspark.sql import Row

    from knowledge_harvest_from_lms_spark.config import HarvestConfig
    from knowledge_harvest_from_lms_spark.session import get_session
    from knowledge_harvest_from_lms_spark.streaming.relations import (
        RELATION_DROP_SCHEMA,
        harvest_relation_stream,
        harvested_rels,
    )
    from knowledge_harvest_from_lms_spark.txn import TxnLog

    root = "/tmp/kg_bench_txn_stream"
    shutil.rmtree(root, ignore_errors=True)
    drops = os.path.join(root, "drops")
    out = os.path.join(root, "wh")
    ckpt = os.path.join(root, "ckpt")

    spark = get_session(cpus=args.cpus, app_name="kg-bench-txn-stream")
    with open(EKAR) as f:
        obj = json.load(f)
    rows = [
        Row(
            rel=rel,
            init_prompts=list(info["init_prompts"]),
            prompts=list(info.get("prompts", [])),
            seed_ent_tuples=[list(t) for t in info["seed_ent_tuples"]],
        )
        for rel, info in sorted(obj.items())[: args.width]
    ]
    # one parquet file per intended micro-batch; maxFilesPerTrigger=1
    # inside harvest_relation_stream is not assumed — availableNow
    # drains everything, so drops-per>1 just exercises several commits
    per = max(1, len(rows) // args.drops_per)
    for i in range(0, len(rows), per):
        spark.createDataFrame(rows[i : i + per], RELATION_DROP_SCHEMA).coalesce(
            1
        ).write.mode("append").parquet(drops)

    cfg = HarvestConfig(
        max_n_ent_tuples=10,
        token_beam_width=4,
        max_ent_subwords=1,
        shuffle_partitions=args.cpus,
        prune_slack=3.0,
    )
    t0 = time.time()
    q = harvest_relation_stream(
        spark, drops, out, ckpt, cfg, graph_dir=os.path.join(root, "graph"),
        txn=True,
    )
    q.awaitTermination()
    sec = time.time() - t0

    log = TxnLog(spark, out)
    versions = log.versions()
    n_triples = spark.read.parquet(os.path.join(out, "triples")).count()
    res = {
        "metric": "txn_streaming_full_width",
        "width": len(rows),
        "harvested_rels": len(harvested_rels(spark, out)),
        "seconds": round(sec, 3),
        "triples": int(n_triples),
        "triples_per_sec": round(n_triples / sec, 3),
        "txn_snapshots": len(versions),
        "vertices": log.read("vertices").count(),
        "edges": log.read("edges").count(),
        "cpus": args.cpus,
    }
    line = json.dumps(res)
    print(line)
    if args.out:
        with open(args.out, "w") as f:
            f.write(line + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
