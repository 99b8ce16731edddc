"""Per-stage checkpointing with lineage metrics — the resume-from-
checkpoint requirement of the north rule.

Iceberg is the production target (atomic snapshot commits, partition
evolution): pass ``fmt="iceberg"`` and a table namespace (e.g.
``local.db.pipeline1``) to write each stage as an Iceberg table via
``df.writeTo(...).createOrReplace()`` — atomic per stage, resumable
across drivers. The sandbox has no Iceberg runtime jar, so the default
``fmt="parquet"`` writes checkpoint directories instead; BOTH paths
share the same lineage sidecar (stage name, input fingerprint, row
count, wall time and per-partition signature: count + order-insensitive
content hash), which is what `resumable from checkpoint with
per-partition lineage + metrics` needs. The two writers are selected in
exactly one place (``_write``/``_read``), so a cluster deployment flips
one constructor argument.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class CheckpointManager:
    """``fmt="parquet"``: ``root`` is a directory; each stage persists to
    ``root/<stage>`` with a ``<stage>._lineage.json`` sidecar.

    ``fmt="iceberg"``: ``root`` is a catalog namespace prefix (e.g.
    ``local.db.run42``); each stage persists to the Iceberg table
    ``<root>_<stage>`` (createOrReplace = atomic snapshot commit).
    Lineage sidecars need a filesystem home, so ``meta_dir`` is required
    for iceberg (defaults to ``root`` for parquet). Requires an Iceberg
    catalog on the session (spark.sql.catalog.* + runtime jar); the
    first write fails with Spark's own catalog error otherwise — tests
    probe availability and skip.
    """

    def __init__(self, root: str, enabled: bool = True,
                 fmt: str = "parquet", meta_dir: str | None = None):
        if fmt not in ("parquet", "iceberg"):
            raise ValueError(f"unknown checkpoint format {fmt!r}")
        self.root = root
        self.enabled = enabled
        self.fmt = fmt
        if fmt == "iceberg" and enabled and meta_dir is None:
            raise ValueError("iceberg checkpoints need meta_dir for the "
                             "lineage sidecars (root is a table namespace)")
        self.meta_dir = meta_dir if meta_dir is not None else root
        if enabled:
            os.makedirs(self.meta_dir, exist_ok=True)

    def _table(self, stage: str) -> str:
        return f"{self.root}_{stage}"

    def _dir(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def _meta_path(self, stage: str) -> str:
        return os.path.join(self.meta_dir, f"{stage}._lineage.json")

    def has(self, stage: str) -> bool:
        return self.enabled and os.path.exists(self._meta_path(stage))

    def _write(self, df: DataFrame, stage: str) -> None:
        if self.fmt == "iceberg":
            df.writeTo(self._table(stage)).using("iceberg").createOrReplace()
        else:
            df.write.mode("overwrite").parquet(self._dir(stage))

    def _read(self, spark, stage: str) -> DataFrame:
        if self.fmt == "iceberg":
            return spark.read.table(self._table(stage))
        return spark.read.parquet(self._dir(stage))

    def stage(self, spark, stage: str, build, input_fingerprint: str = "") -> DataFrame:
        """Return the checkpointed DataFrame for ``stage`` if present
        (resume path), else compute via ``build()``, persist, record
        lineage, and return the persisted copy (truncated lineage)."""
        if not self.enabled:
            # A stage boundary is STILL a materialization point even with
            # durable checkpoints off: downstream operators (edge
            # weighting, CNP) reference their input 3-4 times, and
            # without a barrier each reference re-inlines the entire
            # upstream lineage — plans grow multiplicatively (~2000
            # physical operators for purge->filter->CNP) and every
            # reference recomputes the chain. localCheckpoint keeps the
            # data executor-local with no durability cost.
            return build().localCheckpoint()
        if self.has(stage):
            meta = json.load(open(self._meta_path(stage)))
            if meta.get("input_fingerprint") == input_fingerprint:
                return self._read(spark, stage)
        t0 = time.time()
        df = build()
        self._write(df, stage)
        out = self._read(spark, stage)
        # per-partition lineage signature: spark_partition_id + row count
        # + order-insensitive content hash of the partition
        parts = (
            out.withColumn("_pid", F.spark_partition_id())
            .withColumn("_h", F.xxhash64(*[F.col(c) for c in out.columns]))
            .groupBy("_pid")
            .agg(F.count("*").alias("rows"),
                 # bit_xor: order-insensitive, overflow-free under ANSI
                 F.expr("bit_xor(_h)").alias("content_sig"))
            .collect()
        )
        meta = {
            "stage": stage,
            "format": self.fmt,
            "input_fingerprint": input_fingerprint,
            "rows": sum(int(r["rows"]) for r in parts),
            "wall_s": round(time.time() - t0, 3),
            "partitions": [
                {"pid": int(r["_pid"]), "rows": int(r["rows"]),
                 "content_sig": int(r["content_sig"])} for r in parts
            ],
            "ts": time.time(),
        }
        with open(self._meta_path(stage), "w") as f:
            json.dump(meta, f)
        return out
