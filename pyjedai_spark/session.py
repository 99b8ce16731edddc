"""SparkSession factory tuned for the dedup workload.

Scale notes (targets a multi-executor cluster even though the sandbox is
local[N]):
- AQE on: runtime coalescing + skew-join splitting for the Zipfian token
  distributions of webtext.
- Arrow on: every Python-side kernel is a vectorized pandas UDF.
- shuffle partitions default to the core count here; on a real cluster
  this should be ~2-3x total cores (set via spark-submit conf).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONFS = {
    # machine-independent timestamp semantics: tumbling windows align on
    # UTC epoch and render in UTC, so windowed results (and their
    # naive-timestamp SQL oracles) don't shift on a non-whole-hour-offset
    # host timezone (e.g. IST)
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # documents are small rows; keep scan partitions reasonable
    "spark.sql.files.maxPartitionBytes": "128m",
    # our plans are join/agg heavy on small-ish dims: let broadcast kick in
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.shuffle.partitions": "32",
    "spark.ui.enabled": "false",
    # local mode: driver heap IS the executor heap for every core —
    # size it for 32 concurrent tasks or GC becomes the serial
    # bottleneck that caps scaling (128 GiB box; leave room for Python
    # workers + page cache)
    "spark.driver.memory": "48g",
    # the flagship DER chain + iterative CC emit well over 100 distinct
    # whole-stage-codegen units per execution; the default 100-entry
    # LRU thrashes, so EVERY execution regenerated+recompiled ~400
    # classes (measured via ClassLoadingMXBean: classes_delta ~4585 on
    # run 0 and ~400 on every later run, 13-20s compiler-thread time
    # each) and hot loops kept restarting interpreted. A larger cache
    # turns repeat executions of the same operators into cache hits —
    # generated-class count and C2 churn drop after the first run.
    "spark.sql.codegen.cache.maxEntries": "5000",
}


def get_spark(
    app_name: str = "pyjedai-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` falls back to ``local[$SPARK_GRAFT_CPUS]`` so the same
    entry points run under spark-submit on a cluster (where master is
    provided externally and this arg stays None -> builder default).
    ``SPARK_GRAFT_CPUS`` defaults to the cores this process may run on,
    as ``nproc`` counts them.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS",
                          str(len(os.sched_getaffinity(0))))
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    confs = dict(DEFAULT_CONFS)
    if shuffle_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_confs:
        confs.update(extra_confs)
    for k, v in confs.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
