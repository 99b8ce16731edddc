"""Per-key stateful streaming (applyInPandasWithState) and watermarked
event-time windows: cross-batch state survival, exactly-once survivor
emission, late-data dropping."""

import hashlib
import os
import shutil
import tempfile

from pyspark.sql import functions as F

from pyjedai_spark.streaming.stateful import (streaming_exact_dedup,
                                              streaming_windowed_stats)

DOC_SCHEMA = "doc_id long, text string"
TS_SCHEMA = "doc_id long, warc_ts timestamp, lang string, text string"


def _run_dedup(spark, inp, work, out):
    stream = spark.readStream.schema(DOC_SCHEMA).parquet(inp + "/*")
    dedup = streaming_exact_dedup(stream)
    q = (dedup.writeStream
         .foreachBatch(lambda df, bid: df.write.mode("append").parquet(out))
         .outputMode("update")
         .option("checkpointLocation", os.path.join(work, "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)


def test_stateful_dedup_emits_each_fingerprint_once(spark):
    work = tempfile.mkdtemp(prefix="statefuldedup_")
    inp = os.path.join(work, "in")
    out = os.path.join(work, "out")
    os.makedirs(inp)
    try:
        b0 = spark.createDataFrame(
            [(1, "alpha beta"), (2, "alpha  BETA"),   # exact dups (normed)
             (3, "gamma delta")], DOC_SCHEMA)
        b0.write.parquet(os.path.join(inp, "b0"))
        _run_dedup(spark, inp, work, out)

        got0 = {r["fingerprint"]: r for r in spark.read.parquet(out).collect()}
        assert len(got0) == 2
        fp_alpha = [fp for fp, r in got0.items() if r["doc_id"] == 1]
        assert fp_alpha and got0[fp_alpha[0]]["n_dups_in_batch"] == 2

        # batch 1: a dup of batch-0 text (must NOT re-emit), plus new text
        b1 = spark.createDataFrame(
            [(10, "ALPHA beta"), (11, "epsilon zeta")], DOC_SCHEMA)
        b1.write.parquet(os.path.join(inp, "b1"))
        _run_dedup(spark, inp, work, out)

        rows = spark.read.parquet(out).collect()
        fps = [r["fingerprint"] for r in rows]
        assert len(fps) == len(set(fps)), "a fingerprint was emitted twice"
        assert len(rows) == 3
        survivors = {r["doc_id"] for r in rows}
        assert survivors == {1, 3, 11}  # 10 is a cross-batch dup of 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_stateful_dedup_null_text_is_empty_text(spark):
    """NULL text fingerprints as empty text: a NULL and a "" doc form
    one group with a non-NULL fingerprint, and a later NULL doc is a
    cross-batch duplicate of it."""
    work = tempfile.mkdtemp(prefix="statefuldedup_null_")
    inp = os.path.join(work, "in")
    out = os.path.join(work, "out")
    os.makedirs(inp)
    try:
        spark.createDataFrame([(5, None), (4, ""), (6, "gamma")],
                              DOC_SCHEMA).write.parquet(os.path.join(inp, "b0"))
        _run_dedup(spark, inp, work, out)
        spark.createDataFrame([(3, None)], DOC_SCHEMA).write.parquet(
            os.path.join(inp, "b1"))
        _run_dedup(spark, inp, work, out)

        rows = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
        assert sorted(rows) == [4, 6]
        empty = rows[4]
        assert empty["fingerprint"] == hashlib.md5(b"").hexdigest()
        assert empty["n_dups_in_batch"] == 2
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_windowed_stats_watermark_closes_and_drops_late(spark):
    work = tempfile.mkdtemp(prefix="winstats_")
    inp = os.path.join(work, "in")
    out = os.path.join(work, "out")
    os.makedirs(inp)

    def run():
        stream = spark.readStream.schema(TS_SCHEMA).parquet(inp + "/*")
        stats = streaming_windowed_stats(stream)
        q = (stats.writeStream.format("parquet")
             .option("path", out)
             .option("checkpointLocation", os.path.join(work, "ckpt"))
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(180)

    try:
        d = "2025-01-01 "
        b0 = spark.createDataFrame(
            [(1, d + "10:00:00", "en", "aaaa"), (2, d + "10:20:00", "en", "bb"),
             (3, d + "10:50:00", "de", "cccccc")],
            "doc_id long, warc_ts string, lang string, text string"
        ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
        b0.select("doc_id", "warc_ts", "lang", "text").write.parquet(
            os.path.join(inp, "b0"))
        run()
        # watermark so far: 10:50 - 10min = 10:40 -> nothing closed
        assert not os.path.exists(out) or \
            spark.read.parquet(out).count() == 0

        # b1 advances the watermark to 12:50 (13:00 - 10min), past the
        # end of the 10:00-11:00 window — but windows close against the
        # watermark as of the START of a batch, so emission happens on
        # the NEXT batch
        b1 = spark.createDataFrame(
            [(5, d + "13:00:00", "en", "dddd")],
            "doc_id long, warc_ts string, lang string, text string"
        ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
        b1.select("doc_id", "warc_ts", "lang", "text").write.parquet(
            os.path.join(inp, "b1"))
        run()
        # b2: a TOO-LATE row — its window (10:00-11:00) ends before the
        # current watermark 12:50, so Spark drops it (late-data rule:
        # window end <= watermark, not row timestamp vs watermark);
        # the closed 10:00 windows emit during this batch
        b2 = spark.createDataFrame(
            [(4, d + "10:07:00", "xx", "late-dropped"),
             (6, d + "16:00:00", "en", "eeee")],
            "doc_id long, warc_ts string, lang string, text string"
        ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
        b2.select("doc_id", "warc_ts", "lang", "text").write.parquet(
            os.path.join(inp, "b2"))
        run()

        res = spark.read.parquet(out)
        rows = {(str(r["window_start"]), r["lang"]): r for r in res.collect()}
        # the 10:00-11:00 window emitted once per lang, late row dropped
        assert rows[("2025-01-01 10:00:00", "en")]["n_docs"] == 2
        assert rows[("2025-01-01 10:00:00", "de")]["n_docs"] == 1
        assert not any(lang == "xx" for _, lang in rows)
        assert abs(rows[("2025-01-01 10:00:00", "en")]["avg_len"] - 3.0) < 1e-9
    finally:
        shutil.rmtree(work, ignore_errors=True)
