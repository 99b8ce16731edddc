"""Incremental corpus cleaning over a document stream — the streaming
twin of ``pipeline.corpus_clean_pipeline`` (reference has no streaming
surface, SURVEY §2.11).

Each micro-batch is cleaned against everything seen so far WITHOUT
revisiting old docs: first-seen-wins prefix semantics. A new doc is

    url_dup      — its canonical URL was already seen (prior store or
                   an earlier id in this batch)
    exact_dup    — its content fingerprint was already seen
    low_quality  — fails the Gopher gate (stateless)
    near_dup     — MinHash-LSH + exact-Jaccard match against any prior
                   doc or an in-batch doc; survivor resolved through
                   the prior doc's own survivor pointer, so matching a
                   *dropped* doc still lands on its kept canonical
    kept         — none of the above

Documented delta vs the batch pipeline: no retroactive merging — if a
new doc bridges two previously-kept docs, both stay kept (append-only
statuses; the batch pipeline's global CC would merge them). Everything
else matches batch semantics when doc ids are arrival-ordered.
:func:`reconcile_clean_state` closes that delta: a periodic batch job
that replays the accumulated verified edge store through global
connected components, after which the state matches
``corpus_clean_pipeline`` output on the same corpus EXACTLY (pinned by
test + the shared DuckDB oracle of the ``streaming_reconciled``
registry query).

Each cleaning decision has one implementation shared with the batch
pipeline: the URL key (``urls._url_key``, null-url sentinel included),
the content fingerprint (``analysis.doc_fingerprint``) and the
kept/near_dup labeller (``pipeline._near_dup_status``, used by the
reconciliation).

State = five ``batch_id=N``-partitioned parquet stores (urls,
fingerprints, LSH bands, doc texts, verified near-dup edges) plus the
status output itself, whose non-kept rows are the survivor pointers;
all written by incremental_dedup's ``_write_batch`` and
probed by its ``_near_dup_probe`` — the same table-as-state design and
the same band → strictly-prior bands → self-join → verify probe as
``process_increment``: per-batch OVERWRITE partitions + strictly-prior
reads make every batch idempotent under Structured Streaming retries,
and the band-hash key keeps the near-dup probe a hash join, never a
rescan (partition-pruned on a real Iceberg table at 10^12 docs).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import analysis as A
from ..functions import urls as U
from ..operators import clustering as CL
from ..pipeline import _near_dup_status
from .incremental_dedup import (_fs_exists, _near_dup_probe, _read_prior,
                                _write_batch)


def _first_seen_dedup(d: DataFrame, key: str, prior: DataFrame | None):
    """Split ``d`` (eid, <key>) into (dups-with-survivor, survivors):
    a row is a dup if its key appears in ``prior`` (survivor = the
    prior min holder) or an earlier eid in this batch holds it."""
    w = Window.partitionBy(key).orderBy("eid")
    ranked = d.withColumn("_first", F.min("eid").over(w))
    if prior is not None:
        pr = prior.groupBy(key).agg(F.min("eid").alias("_prior"))
        ranked = ranked.join(pr, key, "left")
    else:
        ranked = ranked.withColumn("_prior", F.lit(None).cast("long"))
    surv_of = F.coalesce("_prior", "_first")
    dups = ranked.where(
        F.col("_prior").isNotNull() | (F.col("eid") != F.col("_first"))
    ).select("eid", surv_of.alias("survivor"))
    keep = ranked.where(
        F.col("_prior").isNull() & (F.col("eid") == F.col("_first"))
    ).select("eid", key)
    return dups, keep


def process_clean_increment(new_docs: DataFrame, state_dir: str,
                            out_dir: str, batch_id: int = 0,
                            id_col: str = "doc_id",
                            text_col: str = "text",
                            url_col: str | None = None,
                            k: int = 32, bands: int = 8,
                            shingle_size: int = 3,
                            jaccard_threshold: float = 0.5) -> None:
    """Clean one micro-batch against all prior state; write per-doc
    statuses to ``out_dir/batch_id=N`` and fold the batch into the
    state stores. Idempotent per batch_id."""
    spark = new_docs.sparkSession
    d = new_docs.select(
        F.col(id_col).alias("eid"), F.col(text_col).alias("text"),
        *([F.col(url_col).alias("url")] if url_col else [])
    ).localCheckpoint()

    p = {n: os.path.join(state_dir, n)
         for n in ("urls", "fps", "bands", "docs", "edges")}
    drops = []

    if url_col:
        # the batch url_dedup's key: a NULL url must not group in-batch
        # nulls into one bogus dup window
        cu = d.select("eid", U._url_key("url", "eid").alias("url_canon"))
        udups, ukeep = _first_seen_dedup(
            cu, "url_canon", _read_prior(spark, p["urls"], batch_id))
        drops.append(udups.select(
            "eid", F.lit("url_dup").alias("status"), "survivor"))
        d = d.join(ukeep.select("eid"), "eid").localCheckpoint()
        new_urls = ukeep
    else:
        new_urls = None

    fp = A.doc_fingerprint(d, id_col="eid", text_col="text") \
        .withColumnRenamed("fingerprint", "fp")
    edups, ekeep = _first_seen_dedup(
        fp, "fp", _read_prior(spark, p["fps"], batch_id))
    drops.append(edups.select(
        "eid", F.lit("exact_dup").alias("status"), "survivor"))
    d = d.join(ekeep.select("eid"), "eid").localCheckpoint()

    gq = A.gopher_quality(d, id_col="eid", text_col="text")
    drops.append(gq.where(F.col("passes") == 0).select(
        "eid", F.lit("low_quality").alias("status"),
        F.lit(None).cast("long").alias("survivor")))
    d = d.join(gq.where(F.col("passes") == 1).select("eid"),
               "eid").localCheckpoint()

    # near-dup: probe = this batch's qualified docs; base = prior bands
    # ∪ batch bands (in-batch pairs included)
    nb, ver = _near_dup_probe(d, p["bands"], p["docs"], batch_id,
                              jaccard_threshold, k, bands, shingle_size,
                              "eid", "text")
    ver = ver.localCheckpoint()

    # survivor resolution: map every matched neighbor through the prior
    # statuses' survivor pointers (a dropped neighbor forwards to its kept
    # canonical; kept/unknown neighbors map to themselves), then take
    # the min resolved survivor per batch doc. First-seen: a doc that
    # only matches LATER in-batch ids (min resolved == itself) stays
    # kept — its later matches are the ones dropped.
    edges = ver.select(F.col("id1").alias("eid"), F.col("id2").alias("nb")) \
        .unionByName(ver.select(F.col("id2").alias("eid"),
                                F.col("id1").alias("nb")))
    batch_edges = edges.join(d.select("eid"), "eid")
    # every non-kept doc that HAS a canonical (url/exact/near dups —
    # low_quality has none) points at it
    prior_out = _read_prior(spark, out_dir, batch_id)
    if prior_out is not None:
        ptr = prior_out.where((F.col("status") != "kept")
                              & F.col("survivor").isNotNull()) \
            .select(F.col("eid").alias("nb"),
                    F.col("survivor").alias("_fwd"))
        batch_edges = batch_edges.join(ptr, "nb", "left")
    else:
        batch_edges = batch_edges.withColumn("_fwd", F.lit(None).cast("long"))
    resolved = batch_edges.select(
        "eid", F.coalesce("_fwd", "nb").alias("cand"))
    nmin = resolved.groupBy("eid").agg(F.min("cand").alias("_m"))
    ndups = nmin.where(F.col("_m") < F.col("eid")).select(
        "eid", F.lit("near_dup").alias("status"),
        F.col("_m").alias("survivor")).localCheckpoint()
    # in-batch chains: A(5)-B(7), B(7)-C(9) with no A-C edge gives C
    # survivor 7, itself dropped this batch. Every pointer goes to a
    # smaller id, so each chain ends at its pointer component's minimum.
    chains = CL.connected_components(
        ndups.select(F.col("eid").alias("id1"), F.col("survivor").alias("id2")))
    ndups = ndups.join(chains, "eid").select(
        "eid", "status", F.col("cluster_id").alias("survivor"))
    drops.append(ndups)
    kept = d.select("eid").join(ndups.select("eid"), "eid", "left_anti") \
        .select("eid", F.lit("kept").alias("status"),
                F.col("eid").alias("survivor"))

    out = kept
    for dr in drops:
        out = out.unionByName(dr)
    out = out.localCheckpoint()

    _write_batch(out, out_dir, batch_id)
    if new_urls is not None:
        _write_batch(new_urls, p["urls"], batch_id)
    _write_batch(ekeep, p["fps"], batch_id)
    _write_batch(nb, p["bands"], batch_id)
    _write_batch(d.select("eid", "text"), p["docs"], batch_id)
    # verified near-dup edges touching this batch — the raw material the
    # periodic reconciliation replays through global CC (pointer stores
    # alone lose bridge edges: a doc matching two kept docs records only
    # its min survivor)
    _write_batch(ver.select("id1", "id2"), p["edges"], batch_id)


def reconcile_clean_state(spark, state_dir: str, out_dir: str) -> DataFrame:
    """Periodic batch reconciliation of the streaming state: replay the
    accumulated verified near-dup edge store through GLOBAL connected
    components, recomputing kept/near_dup labels and survivors with the
    batch pipeline's semantics (retroactive merges included: a late doc
    bridging two previously-kept docs now collapses all three into one
    cluster whose min id is the sole survivor).

    url_dup / exact_dup / low_quality labels are first-seen-stable —
    identical between streaming and batch when ids are arrival-ordered —
    so they pass through unchanged. Returns the reconciled
    (eid, status, survivor) table for the full corpus seen so far; the
    test + shared oracle pin it EQUAL to ``corpus_clean_pipeline`` on
    the same docs. At 10^12-doc scale this is the standard compaction
    job shape: edge store ≪ corpus, CC over survivors only.
    """
    status = spark.read.option("basePath", out_dir).parquet(out_dir) \
        .drop("batch_id")
    passthrough = status.where(
        ~F.col("status").isin("kept", "near_dup"))
    nodes = status.where(F.col("status").isin("kept", "near_dup")) \
        .select("eid")
    edges_path = os.path.join(state_dir, "edges")
    if _fs_exists(spark, edges_path):
        edges = spark.read.option("basePath", edges_path) \
            .parquet(edges_path).select("id1", "id2")
    else:
        edges = nodes.select(F.col("eid").alias("id1"),
                             F.col("eid").alias("id2")).limit(0)
    clusters = CL.connected_components(edges, nodes=nodes)
    return passthrough.unionByName(_near_dup_status(
        clusters.select("eid", F.col("cluster_id").alias("survivor"))))


def incremental_clean_stream(spark, input_dir: str, state_dir: str,
                             out_dir: str, checkpoint_dir: str,
                             schema, **kw):
    """Wire process_clean_increment into Structured Streaming
    (file-arrival micro-batches, exactly-once via per-batch_id
    overwrite partitions + the stream checkpoint)."""
    stream = (spark.readStream.schema(schema).parquet(input_dir)
              .writeStream
              .foreachBatch(lambda df, bid: process_clean_increment(
                  df, state_dir, out_dir, batch_id=bid, **kw))
              .option("checkpointLocation", checkpoint_dir)
              .trigger(availableNow=True)
              .start())
    return stream
