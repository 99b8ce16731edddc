"""Clean-Clean ER (two-dataset linkage): the CCER postings, pair space
and counters.

Reference semantics (is_dirty_er=False throughout pyJedAI):
- a block is valid only if BOTH datasets contribute at least one entity
  (drop_single_entity_blocks, utils.py:105-122, CCER branch);
- the comparison space of a block is |D1-side| x |D2-side|
  (datamodel.py:496-506), never intra-dataset pairs;
- ConnectedComponentsClustering keeps ONLY 2-element clusters
  (clustering.py:466-467 — one entity from each side;
  ``clustering.connected_components_clustering(dirty=False)``);
- UniqueMappingClustering is CCER-only (clustering.py:477-539).

The ER mode is a property of the postings, as the reference reads it
from its data (``is_dirty_er = dataset_2 is None``, datamodel.py:114):
:func:`ccer_blocking` emits (key, eid, side), and a postings table
with a ``side`` column is CCER (:func:`_is_ccer`). Block cleaning,
``block_building.block_pairs`` and every meta-blocking method in
``comparison_cleaning`` read the mode from it and route here for what
differs: the D1 x D2 pairs and the CCER counters
(:func:`ccer_edge_weights`). CNP orients its pairs by side in
``comparison_cleaning.cardinality_node_pruning``. Pruning rules and
weight formulas exist once.

Spark shape: one postings DataFrame (key, eid, side) for both datasets
— candidate pairs are a side-1 x side-2 join within key, so Catalyst
plans exactly one shuffle keyed on the block key, AQE splitting any hot
key. Block validity and the size cap are one rule
(:func:`_ccer_postings`), which ``schema_clustering``'s batched ER
paths reuse with cluster-scoped keys. Entity ids must be disjoint
across the two inputs (natural keys of one corpus split, or pre-offset
ids — the reference's n1-offset remap, datamodel.py:176-177, is not
needed when ids are already distinct).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as T


def _is_ccer(postings: DataFrame) -> bool:
    """A postings table is Clean-Clean ER iff it carries ``side``."""
    return "side" in postings.columns


def _ccer_postings(rows: DataFrame,
                   max_block_size: int | None = None) -> DataFrame:
    """Distinct (key, eid, side) postings of the keys with >= 1 entity
    on EACH side (CCER drop_single_entity_blocks), optionally capped at
    n1 + n2 <= ``max_block_size``. Side counts come from a groupBy and a
    left-semi join back, not a per-key window: the aggregate combines
    map-side, where a window funnels every posting of one hot key
    through a single task."""
    p = rows.select("key", "eid", "side").distinct()
    n1 = F.sum((F.col("side") == 1).cast("int"))
    n2 = F.sum((F.col("side") == 2).cast("int"))
    cond = (n1 >= 1) & (n2 >= 1)
    if max_block_size is not None:
        cond = cond & (n1 + n2 <= max_block_size)
    keys = p.groupBy("key").agg(cond.alias("_ok")).where("_ok")
    return p.join(keys.select("key"), "key", "left_semi")


def ccer_blocking(d1: DataFrame, d2: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text",
                  max_block_size: int | None = None) -> DataFrame:
    """StandardBlocking over two datasets -> (key, eid, side) postings;
    keeps keys with >= 1 entity on EACH side (CCER
    drop_single_entity_blocks) and optionally caps |D1|+|D2|."""
    def side(df, s):
        return df.select(F.explode(T.tokens(text_col)).alias("key"),
                         F.col(id_col).alias("eid"), F.lit(s).alias("side"))

    return _ccer_postings(side(d1, 1).union(side(d2, 2)), max_block_size)


def ccer_pairs(postings: DataFrame) -> DataFrame:
    """Distinct D1 x D2 comparisons: (id1 from side 1, id2 from side 2)."""
    a = postings.where(F.col("side") == 1).select("key", F.col("eid").alias("id1"))
    b = postings.where(F.col("side") == 2).select("key", F.col("eid").alias("id2"))
    return a.join(b, "key").select("id1", "id2").distinct()


def ccer_edge_weights(postings: DataFrame, scheme: str = "CBS") -> DataFrame:
    """Blocking-graph edge weights for the CCER pair space — the FULL
    scheme family (comparison_cleaning.py:210-249 CCER branches) over
    CCER counters:

      cbs    = #common blocks of (i in D1, j in D2)
      |Bi|   = #blocks entity i occurs in (its side's postings)
      block size = n1 + n2, block cardinality = n1 * n2
      cmp_i  = #distinct cross-side comparisons of i
      D      = total distinct D1 x D2 comparisons
      N      = #valid blocks

    The counters differ from Dirty ER; the scheme formulas are
    ``comparison_cleaning._weight_expr``'s (incl. the CN-*/SN-*
    dangling-else quirk). Reached through
    ``comparison_cleaning.edge_weights`` on ``side``-carrying postings.
    Returns (id1 in D1, id2 in D2, weight, cbs).
    """
    from .comparison_cleaning import (CN_SCHEMES, COLUMNS, NEEDS_CMP,
                                      SN_SCHEMES, _weight_expr)

    scheme = scheme.upper()
    cn = scheme in CN_SCHEMES
    sn = scheme in SN_SCHEMES

    sizes = postings.groupBy("key").agg(
        F.sum((F.col("side") == 1).cast("long")).alias("b1"),
        F.sum((F.col("side") == 2).cast("long")).alias("b2"),
    ).select(
        "key",
        (F.col("b1") + F.col("b2")).alias("bs"),
        (F.col("b1") * F.col("b2")).alias("card"),
    )

    a = postings.where(F.col("side") == 1).select("key", F.col("eid").alias("id1"))
    b = postings.where(F.col("side") == 2).select("key", F.col("eid").alias("id2"))
    pairs = a.join(b, "key").join(sizes, "key")

    aggs = [F.count("*").alias("cbs")]
    if cn:
        aggs.append(F.sum(F.lit(1.0) / F.col("card")).alias("cn_extra"))
    if sn:
        aggs.append(F.sum(F.lit(1.0) / F.col("bs")).alias("sn_counter"))
    e = pairs.groupBy("id1", "id2").agg(*aggs)
    if cn:
        e = e.withColumn("counter", F.col("cn_extra") + F.col("cbs"))
    elif sn:
        e = e.withColumn("counter", F.col("sn_counter"))
    else:
        e = e.withColumn("counter", F.col("cbs").cast("double"))

    nb = postings.groupBy("eid").agg(F.count("*").alias("nb"))
    e = (
        e.join(nb.withColumnRenamed("eid", "id1").withColumnRenamed("nb", "nb1"),
               "id1")
        .join(nb.withColumnRenamed("eid", "id2").withColumnRenamed("nb", "nb2"),
              "id2")
    )

    num_blocks = None
    if scheme in {"ECBS", "X2"}:
        num_blocks = postings.select("key").distinct().count()

    d_total = None
    if scheme in NEEDS_CMP:
        # the edge table feeds three derivations (cmp1, cmp2, D) plus
        # the weight projection — materialize the stage boundary once
        # instead of re-running blocking+pairing per branch
        e = e.localCheckpoint()
        # distinct cross-side partners per entity; D = sum/2 over the
        # bidirectional view == total distinct pairs
        dp = e.select("id1", "id2")
        cmp1 = dp.groupBy("id1").agg(F.count("*").alias("cmp1"))
        cmp2 = dp.groupBy("id2").agg(F.count("*").alias("cmp2"))
        d_total = float(dp.count())
        e = e.join(cmp1, "id1").join(cmp2, "id2")

    w = _weight_expr(COLUMNS, scheme, F.col("counter"), F.col("nb1"),
                     F.col("nb2"), F.col("cmp1"), F.col("cmp2"), num_blocks,
                     d_total)
    return e.select("id1", "id2", w.cast("double").alias("weight"),
                    F.col("cbs").cast("double").alias("cbs"))
