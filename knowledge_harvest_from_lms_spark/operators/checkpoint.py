"""Per-stage checkpoint / lineage / resume (north_star: "every stage
checkpoints per-partition lineage + triple-count metrics to enable
exact resume"; reference analog: the output-exists skip at
``main.py:37-42``, F11).

A stage run writes:
  <base>/<stage>/data/          parquet (Iceberg table in production)
  <base>/<stage>/manifest.json  {stage, inputs fingerprint, row_count,
                                 partition_counts, schema, config_key}

``run_stage`` re-reads the data when a manifest with the same
fingerprint exists (exact resume, no recomputation); otherwise it
computes, writes, and records lineage. Partition counts come from
``spark_partition_id()`` (A9 metrics) so skew is visible per stage.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _manifest_path(base: str, stage: str) -> str:
    return os.path.join(base, stage, "manifest.json")


def _data_path(base: str, stage: str) -> str:
    return os.path.join(base, stage, "data")


def _read(spark: SparkSession, dpath: str, schema_json: str | None) -> DataFrame:
    if schema_json:
        from pyspark.sql import types as T

        schema = T.StructType.fromJson(json.loads(schema_json))
        return spark.read.schema(schema).parquet(dpath)
    return spark.read.parquet(dpath)


def partition_counts(df: DataFrame) -> list[dict]:
    rows = (
        df.groupBy(F.spark_partition_id().alias("pid"))
        .count()
        .orderBy("pid")
        .collect()
    )
    return [{"pid": int(r["pid"]), "rows": int(r["count"])} for r in rows]


def run_stage(
    spark: SparkSession,
    base_dir: str,
    stage: str,
    make_df: Callable[[], DataFrame],
    fingerprint: str = "",
    partition_by: list[str] | None = None,
) -> DataFrame:
    """Compute-or-resume one pipeline stage.

    ``fingerprint`` should capture the stage's inputs/config (e.g.
    upstream manifest hashes + HarvestConfig repr); a mismatch forces
    recomputation, matching the "exact resume" contract.
    """
    mpath = _manifest_path(base_dir, stage)
    dpath = _data_path(base_dir, stage)
    if os.path.exists(mpath):
        try:
            with open(mpath) as f:
                man = json.load(f)
        except (json.JSONDecodeError, OSError):
            man = {}  # unreadable manifest → recompute (resume is safe)
        if man.get("fingerprint") == fingerprint:
            try:
                return _read(spark, dpath, man.get("schema_json"))
            except Exception:
                pass  # data missing/corrupt → recompute

    df = make_df()
    schema_json = df.schema.json()
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(dpath)

    # schema passed explicitly: an empty stage output writes no parquet
    # files, which would otherwise make the read-back uninferable
    out = _read(spark, dpath, schema_json)
    # one scan: the row count is the sum of the per-partition counts
    pcounts = partition_counts(out)
    man = {
        "stage": stage,
        "fingerprint": fingerprint,
        "row_count": sum(p["rows"] for p in pcounts),
        "partition_counts": pcounts,
        "schema": out.schema.simpleString(),
        "schema_json": schema_json,
        "written_at": time.time(),
    }
    os.makedirs(os.path.dirname(mpath), exist_ok=True)
    with open(mpath, "w") as f:
        json.dump(man, f, indent=2)
    return out


def read_manifest(base_dir: str, stage: str) -> dict | None:
    mpath = _manifest_path(base_dir, stage)
    if not os.path.exists(mpath):
        return None
    with open(mpath) as f:
        return json.load(f)


def completed_stages(base_dir: str) -> list[str]:
    if not os.path.isdir(base_dir):
        return []
    return sorted(
        d for d in os.listdir(base_dir)
        if os.path.exists(_manifest_path(base_dir, d))
    )
