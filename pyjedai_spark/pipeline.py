"""End-to-end dedup pipelines.

1. ``der_dedup_pipeline`` — the reference's best Dirty-ER chain
   (workflow.py:718-735): StandardBlocking -> BlockPurging(1.0) ->
   BlockFiltering(0.8) -> CNP(JS) -> EntityMatching(cosine, 0.55) ->
   ConnectedComponents. The exact-key parity pipeline.

2. ``minhash_dedup_pipeline`` — the 100TB path (north rule):
   MinHash signatures -> LSH band groupBy -> size-capped buckets ->
   exact-Jaccard verify -> ConnectedComponents. Same output shape
   (eid, cluster_id), so both feed the same recall evaluation.

Each stage may checkpoint through a CheckpointManager (resume +
lineage metrics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpoint import CheckpointManager
from .operators import block_building as BB
from .operators import block_cleaning as BC
from .operators import clustering as CL
from .operators import comparison_cleaning as CC
from .operators import dedup as DD
from .operators import matching as M


def der_dedup_pipeline(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       purging_smoothing: float = 1.0,
                       filtering_ratio: float = 0.8,
                       matching_threshold: float = 0.55,
                       cnp_scheme: str = "JS",
                       ckpt: CheckpointManager | None = None,
                       fingerprint: str = "") -> DataFrame:
    """Reference best-DER chain -> (eid, cluster_id)."""
    spark = docs.sparkSession
    ck = ckpt or CheckpointManager("", enabled=False)
    num_entities = docs.count()

    postings = ck.stage(spark, "blocking",
                        lambda: BB.standard_blocking(docs, id_col, text_col),
                        fingerprint)
    # fused purge+filter: one cardinality aggregate serves the threshold
    # scan, the purge join and the filter ranks (clean_blocks docstring);
    # postings is already a materialized stage boundary
    filtered = ck.stage(
        spark, "block_cleaning",
        lambda: BC.clean_blocks(postings, purging_smoothing,
                                filtering_ratio, keep_size=True),
        fingerprint)
    candidates = ck.stage(
        spark, "cnp",
        lambda: CC.cardinality_node_pruning(filtered, cnp_scheme,
                                            num_entities=num_entities),
        fingerprint)
    matched = ck.stage(
        spark, "matching",
        lambda: M.entity_matching(candidates.select("id1", "id2"), docs,
                                  metric="cosine",
                                  tokenizer="white_space_tokenizer",
                                  similarity_threshold=matching_threshold,
                                  id_col=id_col, text_col=text_col,
                                  round_to=6),
        fingerprint)
    clusters = ck.stage(
        spark, "clustering",
        lambda: CL.connected_components(
            matched.select("id1", "id2"),
            nodes=docs.select(F.col(id_col).alias("eid"))),
        fingerprint)
    return clusters


def corpus_clean_pipeline(docs: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text", url_col: str | None = None,
                          k: int = 32, bands: int = 8, shingle_size: int = 3,
                          jaccard_threshold: float = 0.5,
                          max_bucket: int | None = 1000,
                          ranks: DataFrame | None = None,
                          rank_col: str = "rank",
                          ckpt: CheckpointManager | None = None,
                          fingerprint: str = "") -> DataFrame:
    """The full training-data cleaning pass in one call — every input
    doc labeled with what happened to it:

    1. ``url_dup``    — not the min-id doc for its canonical URL
                        (skipped when ``url_col`` is None)
    2. ``exact_dup``  — not the min-id doc for its content fingerprint
    3. ``low_quality``— fails the Gopher quality gate
    4. ``near_dup``   — MinHash-LSH + exact-Jaccard + connected
                        components; not the min id of its dup cluster
    5. ``kept``       — survives everything

    Returns (eid, status, survivor): ``survivor`` is the doc this one
    defers to (itself when kept; NULL for low_quality — there is no
    canonical twin, the doc is simply dropped).

    Scale shape: each stage is aggregates + key-partitioned joins over
    the *remaining* set only (each stage shrinks the data the next one
    touches — URL and exact dedup are O(n) hash aggregates and remove
    the bulk of crawl duplicates before the LSH shuffle). Stage
    boundaries are materialized (CheckpointManager stages when ``ckpt``
    is given — durable, resumable mid-run with lineage metrics like the
    other pipelines — else localCheckpoint) because every stage's
    survivor set fans out into stage N+1 and the final union.

    ``max_bucket`` defaults BOUNDED (1000): at crawl scale one
    boilerplate band-hash bucket with 10^8 members would otherwise
    enumerate ~10^16 pairs. Pass ``max_bucket=None`` for exact
    (uncapped) enumeration when capped recall loss is unacceptable:
    buckets above ``block_building.SALT_BLOCK_SIZE`` rows are then
    split into hash chunks and enumerated chunk pair by chunk pair.

    ``ranks`` (optional, (id_col, rank_col) numeric): tiered survivor
    policy end-to-end — every dedup stage (url groups, exact groups,
    near-dup clusters) keeps its HIGHEST-ranked member (ties and
    unranked members sort last, break to min id) instead of the min-id
    default, so the pipeline retains the best-quality / highest-tier
    copy of each duplicate group. Note the survivor choice feeds the
    downstream stages: the copy that proceeds to the quality gate and
    the near-dup shuffle is the tiered survivor, not the min-id one.
    """
    from .functions import analysis as A
    from .functions import urls as U

    spark = docs.sparkSession
    ck = ckpt or CheckpointManager("", enabled=False)

    d = docs.select(F.col(id_col).alias("eid"), F.col(text_col).alias("text"),
                    *([F.col(url_col).alias("url")] if url_col else []))
    # Each per-doc label table below (ranks, url/exact-dup labels, the
    # quality gate, cluster labels) fans out into 2-3 consumers (the
    # drop records + the survivor filter feeding the next stage, and
    # ranks into every dedup stage): materialize each ONCE or every
    # consumer re-runs the full text-analysis / aggregation pass over
    # the corpus. All of them are eid-sized — the cheap side of the
    # pipeline — and at scale they are exactly the per-stage label
    # checkpoints a resumable run writes anyway.
    rk = (ranks.select(F.col(id_col).alias("eid"),
                       F.col(rank_col).cast("double").alias("rank"))
          .localCheckpoint()
          if ranks is not None else None)
    drops = []

    if url_col:
        ud = U.url_dedup(d, id_col="eid", url_col="url", ranks=rk) \
            .localCheckpoint()
        drops.append(ud.where(F.col("is_dup") == 1).select(
            "eid", F.lit("url_dup").alias("status"),
            F.col("survivor").cast("long").alias("survivor")))
        d0 = d
        d = ck.stage(spark, "clean_url",
                     lambda: d0.join(
                         ud.where(F.col("is_dup") == 0).select("eid"), "eid"),
                     fingerprint)

    ed = DD.exact_dedup(d, id_col="eid", text_col="text", ranks=rk) \
        .localCheckpoint()
    drops.append(ed.where(F.col("keep") == 0).join(
        ed.where(F.col("keep") == 1).select(
            "fingerprint", F.col("eid").alias("survivor")), "fingerprint")
        .select("eid", F.lit("exact_dup").alias("status"),
                F.col("survivor").cast("long")))
    d1 = d
    d = ck.stage(spark, "clean_exact",
                 lambda: d1.join(
                     ed.where(F.col("keep") == 1).select("eid"), "eid"),
                 fingerprint)

    gq = A.gopher_quality(d, id_col="eid", text_col="text").localCheckpoint()
    drops.append(gq.where(F.col("passes") == 0).select(
        "eid", F.lit("low_quality").alias("status"),
        F.lit(None).cast("long").alias("survivor")))
    d2 = d
    d = ck.stage(spark, "clean_quality",
                 lambda: d2.join(
                     gq.where(F.col("passes") == 1).select("eid"), "eid"),
                 fingerprint)

    cands = DD.lsh_candidate_pairs(d, k=k, bands=bands,
                                   shingle_size=shingle_size,
                                   id_col="eid", text_col="text",
                                   max_bucket=max_bucket)
    verified = DD.jaccard_verify(cands, d, jaccard_threshold, shingle_size,
                                 id_col="eid", text_col="text")
    clusters = CL.connected_components(
        verified.select("id1", "id2"), nodes=d.select("eid")) \
        .localCheckpoint()
    if rk is not None:
        # tiered representative: best-ranked cluster member, not the
        # CC label (which is the cluster-min id by construction)
        reps = DD.cluster_survivors(clusters, rk).select("eid", "survivor")
    else:
        reps = clusters.select("eid", F.col("cluster_id").alias("survivor"))

    out = _near_dup_status(reps)
    for dr in drops:
        out = out.unionByName(dr)
    return out


def _near_dup_status(survivors: DataFrame) -> DataFrame:
    """(eid, survivor) near-dup cluster assignments -> (eid, status,
    survivor): ``kept`` iff the doc is its own survivor, else
    ``near_dup``. The labels the batch cleaner and the streaming
    reconciliation both emit."""
    return survivors.select(
        "eid",
        F.when(F.col("survivor") == F.col("eid"), F.lit("kept"))
        .otherwise(F.lit("near_dup")).alias("status"),
        F.col("survivor").cast("long").alias("survivor"))


def minhash_dedup_pipeline(docs: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text",
                           k: int = 32, bands: int = 8,
                           shingle_size: int = 1,
                           jaccard_threshold: float = 0.5,
                           max_bucket: int = 1000,
                           ckpt: CheckpointManager | None = None,
                           fingerprint: str = "") -> DataFrame:
    """MinHash-LSH near-dup chain -> (eid, cluster_id)."""
    spark = docs.sparkSession
    ck = ckpt or CheckpointManager("", enabled=False)

    cands = ck.stage(
        spark, "lsh_candidates",
        lambda: DD.lsh_candidate_pairs(docs, k=k, bands=bands,
                                       shingle_size=shingle_size,
                                       id_col=id_col, text_col=text_col,
                                       max_bucket=max_bucket),
        fingerprint)
    verified = ck.stage(
        spark, "verify",
        lambda: DD.jaccard_verify(cands, docs, jaccard_threshold,
                                  shingle_size, id_col, text_col),
        fingerprint)
    clusters = ck.stage(
        spark, "clustering",
        lambda: CL.connected_components(
            verified.select("id1", "id2"),
            nodes=docs.select(F.col(id_col).alias("eid"))),
        fingerprint)
    return clusters
