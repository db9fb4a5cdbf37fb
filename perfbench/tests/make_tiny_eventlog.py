"""Record ``data/tiny_eventlog.jsonl``, the event log the parser tests read.

    python3 perfbench/tests/make_tiny_eventlog.py

Three labelled jobs run on local[2] with the benchmark's event-log settings:
an aggregation under span ``0.agg`` (2 map tasks x 10 groups = 20 shuffle
records), a count under the nested span ``1.count``, and a job under
``2.fail`` whose tasks fail. Events the parser never reads are dropped and
the stage/RDD listings trimmed to keep the file small.
"""

import glob
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from perfbench.hostguard import stop_spark  # noqa: E402
from perfbench.run import _spark_conf  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402

KEEP = ("SparkListenerJobStart", "SparkListenerStageSubmitted",
        "SparkListenerStageCompleted", "SparkListenerTaskEnd")


def _trim(ev: dict) -> dict:
    ev.pop("Stage Infos", None)
    ev.pop("Task Executor Metrics", None)
    for key in ("Stage Info", "Task Info"):
        if key in ev:
            for field in ("RDD Info", "Accumulables", "Stage Name", "Details"):
                ev[key].pop(field, None)
    if "Properties" in ev:
        ev["Properties"] = {
            k: v for k, v in ev["Properties"].items() if k == "spark.job.description"
        }
    return ev


def main():
    work = tempfile.mkdtemp(prefix="tiny_eventlog_", dir=ROOT)
    builder = SparkSession.builder.master("local[2]").appName("tiny")
    for k, v in _spark_conf(work).items():
        builder = builder.config(k, v)
    spark = builder.config("spark.sql.shuffle.partitions", "2").getOrCreate()
    try:
        t = Tracer(spark, layers=True)
        df = spark.range(0, 1000, 1, 2)
        with t.span("agg"):
            df.groupBy((F.col("id") % 10).alias("k")).count().collect()
            with t.span("count", layer=True):
                df.count()
        with t.span("fail"):
            try:
                df.select(F.assert_true(F.col("id") < 5)).collect()
            except Exception:
                pass
    finally:
        stop_spark(spark)
    out = os.path.join(HERE, "data", "tiny_eventlog.jsonl")
    with open(out, "w") as fh:
        for name in glob.glob(os.path.join(work, "eventlog", "*")):
            for line in open(name):
                ev = json.loads(line)
                if ev["Event"] not in KEEP:
                    continue
                fh.write(json.dumps(_trim(ev), separators=(",", ":")) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    print(out)


if __name__ == "__main__":
    main()
