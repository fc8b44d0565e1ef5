"""Record the small event log the reader's test parses.

    python3 perfbench/tests/record_eventlog.py

Runs three jobs on local[2]: a Python-UDF job with a shuffle under
group "0:udf", a driver-side collect under group "1:collect", and one
job outside any group. Keeps only the job, stage and task events the
reader uses, and rewrites call-site paths relative to the repo root.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
OUT = os.path.join(HERE, "data", "eventlog.jsonl")
KEEP = {
    "SparkListenerJobStart",
    "SparkListenerJobEnd",
    "SparkListenerStageSubmitted",
    "SparkListenerStageCompleted",
    "SparkListenerTaskEnd",
}
PROPS = ("spark.jobGroup.id", "callSite.short")


def _trim(ev: dict) -> dict:
    if "Properties" in ev:
        ev["Properties"] = {
            k: v.replace(ROOT + os.sep, "") for k, v in ev["Properties"].items() if k in PROPS
        }
    ev.pop("Stage Infos", None)
    info = ev.get("Stage Info")
    if info:
        for k in ("RDD Info", "Details", "Accumulables"):
            info.pop(k, None)
        info["Stage Name"] = info["Stage Name"].replace(ROOT + os.sep, "")
    task = ev.get("Task Info")
    if task:
        task["Accumulables"] = [
            {k: a[k] for k in ("Name", "Update")}
            for a in task["Accumulables"]
            if not a["Name"].startswith("internal.")
        ]
    ev.pop("Task Executor Metrics", None)
    return ev


def main() -> None:
    sys.path.insert(0, ROOT)
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    tmp = tempfile.mkdtemp()
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", "file://" + tmp)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    sc = spark.sparkContext

    def double(batches):
        for pdf in batches:
            yield pdf.assign(id=pdf["id"] * 2)

    try:
        sc.setLocalProperty("spark.jobGroup.id", "0:udf")
        spark.range(1000, numPartitions=2).mapInPandas(double, "id long").groupBy(
            (F.col("id") % 7).alias("k")
        ).count().collect()
        sc.setLocalProperty("spark.jobGroup.id", "1:collect")
        spark.range(10).collect()
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.range(5).count()
    finally:
        spark.stop()
    (log,) = glob.glob(os.path.join(tmp, "*"))
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(log) as f, open(OUT, "w") as out:
        for line in f:
            ev = json.loads(line)
            if ev["Event"] in KEEP:
                out.write(json.dumps(_trim(ev)) + "\n")
    shutil.rmtree(tmp)


if __name__ == "__main__":
    main()
