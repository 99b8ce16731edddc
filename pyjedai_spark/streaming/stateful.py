"""Custom stateful streaming operators — per-key state via
``applyInPandasWithState`` and watermarked event-time windows.

The reference has no streaming surface (SURVEY §2.11); these are the
Spark-native extensions a continuously-crawled corpus needs alongside
``incremental_dedup.py``. The state-store choice is deliberate and the
OPPOSITE of incremental_dedup's: there the state (every historical
MinHash signature) is table-sized, so an append-only table is the store
and foreachBatch drives it; here the state is per-key and tiny (a
first-seen marker, rolling counters), which is exactly what the
executor-local HDFS-backed state store is for. Both kinds exist in a
real pipeline and picking per state size is the design point.

Scale notes:
- state is hash-partitioned by group key across executors; no task ever
  holds more than its shard (10^12 fingerprints shard across
  ``spark.sql.shuffle.partitions`` state stores, RocksDB-backed in prod
  via ``spark.sql.streaming.stateStore.providerClass``).
- the watermark bounds state retention for windows: closed windows are
  evicted, so long-running queries don't accumulate unbounded window
  state.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (LongType, StringType, StructField,
                               StructType)

from ..functions import analysis as A

FIRST_SEEN_SCHEMA = StructType([
    StructField("fingerprint", StringType()),
    StructField("doc_id", LongType()),
    StructField("n_dups_in_batch", LongType()),
])

_STATE_SCHEMA = StructType([
    StructField("first_doc_id", LongType()),
])


def _first_seen_fn(key: Tuple[str], pdfs: Iterator[pd.DataFrame],
                   state: GroupState) -> Iterator[pd.DataFrame]:
    """Emit one row per fingerprint the FIRST time it is ever seen
    (min doc_id within the discovering batch — deterministic); later
    occurrences, in this batch or any future one, are counted but not
    re-emitted. State per key: the surviving doc_id (one long)."""
    rows = 0
    best = None
    for pdf in pdfs:
        rows += len(pdf)
        m = int(pdf["doc_id"].min())
        best = m if best is None else min(best, m)
    if state.exists:
        # duplicate of an earlier batch's survivor: update nothing, emit
        # nothing (the survivor was already emitted)
        return iter(())
    state.update((best,))
    return iter([pd.DataFrame({
        "fingerprint": [key[0]], "doc_id": [best],
        "n_dups_in_batch": [rows]})])


def streaming_exact_dedup(stream: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Exactly-once survivor emission for exact duplicates over a
    document stream: fingerprint = md5 of whitespace-normalized
    lowercased text (same fingerprint as the batch ``exact_dedup``), one
    output row per NEW fingerprint. Use outputMode('update')."""
    keyed = stream.select(
        A._fingerprint(text_col).alias("fingerprint"), F.col(id_col).cast("long").alias("doc_id"))
    return (
        keyed.groupBy("fingerprint")
        .applyInPandasWithState(
            _first_seen_fn, FIRST_SEEN_SCHEMA, _STATE_SCHEMA,
            "update", GroupStateTimeout.NoTimeout)
    )


def streaming_windowed_stats(stream: DataFrame, ts_col: str = "warc_ts",
                             lang_col: str = "lang",
                             text_col: str = "text",
                             watermark: str = "10 minutes",
                             window: str = "1 hour") -> DataFrame:
    """Event-time windowed corpus stats with late-data handling: per
    (window, lang) doc count / mean length over ``window`` tumbling
    windows, tolerating ``watermark`` of event-time lateness. Rows later
    than the watermark are dropped; windows emit (append mode) once the
    watermark passes their end — bounded state, the canonical
    readStream → withWatermark → window(...) plan."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"),
                 F.col(lang_col).alias("lang"))
        .agg(F.count("*").alias("n_docs"),
             F.avg(F.length(text_col)).alias("avg_len"))
        .select(F.col("win.start").alias("window_start"),
                F.col("win.end").alias("window_end"),
                "lang", "n_docs", "avg_len")
    )
