"""Incremental near-duplicate detection over a document stream.

The reference has NO streaming surface (SURVEY §2.11) — this is the
Spark-native extension a continuously-crawled corpus needs: new pages
arrive as files, each micro-batch is deduplicated against everything
seen so far WITHOUT recomparing old-vs-old.

Design (foreachBatch, not a stateful operator):
    readStream(parquet)
      -> foreachBatch(new_docs):
           sig(new)                                   # one scan
           pairs = LSH-join(sig(new), sig_store ∪ sig(new))
           verify exact Jaccard >= t, append to pair sink
           append sig(new) to sig_store                # the state
The signature store is an append-only table keyed by band hash —
exactly the per-stage checkpoint the batch pipeline writes, so batch
and streaming share state format. foreachBatch is chosen over
applyInPandasWithState because the state (all historical signatures)
is far larger than per-key executor state should be; a table IS the
right state store at 10^12 docs, and the band-hash key keeps each
micro-batch's probe a hash join, never a rescan.

Cost per batch: O(|batch| sigs) + join keyed on band hash against the
store (partition-pruned by band on a real Iceberg table).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as DD


def _band_table(docs: DataFrame, k: int, bands: int, shingle_size: int,
                id_col: str, text_col: str) -> DataFrame:
    sigs = DD.minhash_signatures(docs, k=k, shingle_size=shingle_size,
                                 id_col=id_col, text_col=text_col)
    return DD._band_keys(sigs, bands, k // bands)


def _fs_exists(spark: SparkSession, path: str) -> bool:
    """Existence via the Hadoop FileSystem API — works for ANY
    configured filesystem (hdfs/s3a/local), unlike os.path, which only
    sees the driver's local disk."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def _read_prior(spark: SparkSession, path: str,
                batch_id: int) -> DataFrame | None:
    """State from strictly-earlier batches (``batch_id`` partition column
    via parquet partition discovery); None before the first write."""
    if not _fs_exists(spark, path):
        return None
    df = spark.read.option("basePath", path).parquet(path)
    return df.where(F.col("batch_id") < batch_id).drop("batch_id")


def _write_batch(df: DataFrame, store: str, batch_id: int) -> None:
    """Write ``df`` as the ``batch_id=N`` partition of ``store`` with
    OVERWRITE — what makes a retried batch replace its own partial
    output instead of appending a duplicate."""
    df.write.mode("overwrite").parquet(
        os.path.join(store, f"batch_id={batch_id}"))


def _near_dup_probe(docs: DataFrame, bands_path: str, docs_path: str,
                    batch_id: int, threshold: float, k: int, bands: int,
                    shingle_size: int, id_col: str,
                    text_col: str) -> tuple[DataFrame, DataFrame]:
    """(band table, verified pairs) of the pinned micro-batch ``docs``
    against the band and doc stores of strictly-earlier batches.

    Candidates are (store ∪ batch) x batch on the band-hash key,
    canonicalized — a pair is emitted exactly once, in the micro-batch
    where its LATEST member arrived (later batches have neither member
    in the probe side). id order is NOT arrival order, so canonicalize
    with least/greatest rather than an id-directional join. Verified
    against full shingle sets; old docs are read from the doc store."""
    spark = docs.sparkSession
    nb = _band_table(docs, k, bands, shingle_size, id_col,
                     text_col).localCheckpoint()
    prior_bands = _read_prior(spark, bands_path, batch_id)
    base = nb if prior_bands is None else prior_bands.unionByName(nb)
    cands = (
        base.select("key", F.col("eid").alias("a"))
        .join(nb.select("key", F.col("eid").alias("b")), "key")
        .where(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("id1"),
                F.greatest("a", "b").alias("id2"))
        .distinct()
    )
    batch_docs = docs.select(id_col, text_col)
    prior_docs = _read_prior(spark, docs_path, batch_id)
    all_docs = batch_docs if prior_docs is None \
        else prior_docs.unionByName(batch_docs)
    return nb, DD.jaccard_verify(cands, all_docs, threshold, shingle_size,
                                 id_col, text_col)


def process_increment(new_docs: DataFrame, state_dir: str,
                      pairs_dir: str, threshold: float = 0.5,
                      k: int = 32, bands: int = 8, shingle_size: int = 3,
                      id_col: str = "doc_id", text_col: str = "text",
                      docs_store_dir: str | None = None,
                      batch_id: int = 0) -> None:
    """One micro-batch: emit (new x seen) + (new x new) near-dup pairs,
    then fold the batch into the signature store.

    IDEMPOTENT under Structured Streaming retries: every output lands in
    a ``batch_id=N`` partition written with OVERWRITE, and state reads
    filter to ``batch_id < N`` — so a batch that failed between writes
    and re-runs replaces its own partial output instead of appending a
    duplicate, and never sees its own half-written state."""
    new_docs = new_docs.localCheckpoint()  # pin the micro-batch
    store_path = os.path.join(state_dir, "bands")
    docs_path = docs_store_dir or os.path.join(state_dir, "docs")
    nb, verified = _near_dup_probe(new_docs, store_path, docs_path,
                                   batch_id, threshold, k, bands,
                                   shingle_size, id_col, text_col)
    _write_batch(verified, pairs_dir, batch_id)
    _write_batch(nb, store_path, batch_id)
    _write_batch(new_docs.select(id_col, text_col), docs_path, batch_id)


def start_incremental_dedup(spark: SparkSession, input_dir: str,
                            work_dir: str, threshold: float = 0.5,
                            k: int = 32, bands: int = 8,
                            shingle_size: int = 3,
                            id_col: str = "doc_id",
                            text_col: str = "text",
                            schema: str | None = None,
                            available_now: bool = True):
    """Structured Streaming entry: watch ``input_dir`` for new parquet
    files, dedup each micro-batch against history. Returns the started
    StreamingQuery (awaitTermination is the caller's choice).

    ``available_now=True`` drains the current backlog then stops —
    the deterministic mode used in tests and backfills.
    """
    state_dir = os.path.join(work_dir, "state")
    pairs_dir = os.path.join(work_dir, "pairs")
    ckpt_dir = os.path.join(work_dir, "_stream_checkpoint")
    reader = spark.readStream
    if schema:
        reader = reader.schema(schema)
    else:
        reader = reader.schema(spark.read.parquet(input_dir).schema)
    stream = reader.parquet(input_dir)

    def batch_fn(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        process_increment(batch_df, state_dir, pairs_dir, threshold,
                          k, bands, shingle_size, id_col, text_col,
                          batch_id=batch_id)

    writer = stream.writeStream.foreachBatch(batch_fn).option(
        "checkpointLocation", ckpt_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
