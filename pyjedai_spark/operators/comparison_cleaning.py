"""Comparison cleaning / meta-blocking: edge pruning on the blocking graph.

The reference iterates python loops over per-entity counter arrays
(src/pyjedai/comparison_cleaning.py:192-249,344-666); here the whole
blocking graph is ONE edge DataFrame built by a within-key self-join +
groupBy, and every weighting scheme is a column expression over it.

Weight schemes (_get_weight, comparison_cleaning.py:210-249), Dirty-ER:
  cbs            = #common blocks of (i, j)
  JS             = cbs / (|Bi| + |Bj| - cbs)
  COSINE         = cbs / sqrt(|Bi| * |Bj|)
  DICE           = 2*cbs / (|Bi| + |Bj|)
  ECBS           = cbs * log10(N/|Bi|) * log10(N/|Bj|)
  EJS            = JS * log10(D/cmp_i) * log10(D/cmp_j)
  X2             = chi^2 of the 2x2 block-occurrence table (utils.py:186-202)
  CN-CBS         = sum_b(1/card_b) + cbs   <- the reference's dangling-else
  SN-CBS         = sum_b(1/size_b)            quirk at lines 380-385: CN-*
  CNC/CND/CNJ    = CN-CBS counter, cosine/dice/js normalized by cmp_i     adds BOTH 1/card and +1;
  SNC/SND/SNJ    = SN-CBS counter, same norms                             SN-* only 1/size. Replicated.

where |Bi| = #blocks of entity i, N = #blocks, cmp_i = #distinct
comparisons of i, D = total distinct comparisons.

Both ER modes run through the same methods: postings with a ``side``
column (``ccer.ccer_blocking``) are Clean-Clean ER, so
:func:`edge_weights` builds the D1 x D2 graph with CCER counters
(``ccer.ccer_edge_weights``, the same scheme formulas) and every
pruning rule below applies unchanged; CNP alone differs, orienting its
output by side (``ccer._ccer_cnp``).

All prune rules keep the numeric comparison inside a shared guard band
EPS: floating-point thresholds (means/maxima) are computed by different
engines in different orders; a 1e-9 band makes the retained-edge set
stable across Spark and the DuckDB oracle.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .block_building import _block_pair_rows, block_pairs
from .ccer import _ccer_cnp, _is_ccer, ccer_edge_weights

EPS = 1e-9

CN_SCHEMES = {"CN-CBS", "CNC", "CND", "CNJ"}
SN_SCHEMES = {"SN-CBS", "SNC", "SND", "SNJ"}
NEEDS_CMP = {"EJS", "CNC", "SNC", "SND", "CND", "CNJ", "SNJ"}


def edge_weights(postings: DataFrame, scheme: str = "CBS") -> DataFrame:
    """Blocking-graph edges (id1 < id2, weight) for a weighting scheme.

    One shuffle for the self-join on key, one for the groupBy(id1,id2);
    per-entity block counts ride the postings into the enumeration
    (attached pre-expansion), so no edge-stream-sized join follows.
    Pairs are enumerated by ``block_building._block_pair_rows``, which
    splits every block above ``SALT_BLOCK_SIZE`` postings into hash
    chunks enumerated chunk pair by chunk pair, so one hot key's
    quadratic expansion spreads over bounded tasks instead of one.

    CCER postings (a ``side`` column) route to
    ``ccer.ccer_edge_weights``: edges (id1 in D1, id2 in D2) over the
    D1 x D2 pair space, same schemes, unsalted.
    """
    if _is_ccer(postings):
        return ccer_edge_weights(postings, scheme)
    scheme = scheme.upper()

    # only CN schemes aggregate per-block card and only SN schemes
    # per-block bs ACROSS the pair enumeration; for everything else
    # (CBS/JS/ECBS/X2/EJS) the per-pair stream is just (id1, id2) —
    # pruning the two numeric columns halves the width of the
    # enumeration shuffle, the single biggest byte-mover in
    # meta-blocking (the edge stream is |pairs|-sized, everything else
    # entity-sized)
    need_block_cols = scheme in CN_SCHEMES or scheme in SN_SCHEMES
    if "bs" in postings.columns:
        # block sizes precomputed upstream (clean_blocks(keep_size=True)
        # retains the rebuilt size) — skip the groupBy + per-key join,
        # one full exchange of the postings saved
        p = postings
    else:
        sizes = postings.groupBy("key").agg(F.count("*").alias("bs"))
        p = postings.join(sizes, "key")  # sizes is block-count-sized ->
        # AQE broadcasts the build side; no postings exchange
    if need_block_cols:
        p = p.withColumn("card", F.col("bs") * (F.col("bs") - 1) / 2)
        block_cols = ["bs", "card"]
    else:
        block_cols = []

    # Attach the per-entity block count BEFORE the quadratic pair
    # expansion (one entity-keyed join of the postings-sized stream),
    # NOT to the |pairs|-sized edge table after it: the post-agg
    # variant needed two more full exchanges of the edge stream — its
    # checkpointed inputs carry no size statistics, so the planner
    # shuffle-joins the tiny per-entity dim instead of broadcasting.
    # Moving decisions onto the small rows before the expansion is the
    # same proxy-first shape at any scale; the pair stream widens by
    # two ints, far less than the two edge-stream exchanges it removes.
    blocks_per_entity = postings.groupBy("eid").agg(F.count("*").alias("nb"))
    p = p.join(blocks_per_entity, "eid")

    # AQE usually turns these joins into broadcast-hash joins (the
    # build side is postings-sized), which makes the join OUTPUT
    # parallelism equal the stream side's INPUT partition count — and a
    # checkpointed/coalesced postings table arrives in 1-2 partitions,
    # serializing the quadratic pair expansion into 1-2 tasks (measured
    # 4-7s single-task stages at sf0.1). Re-spreading the tiny
    # entity-level stream side first costs one exchange of |postings|
    # rows and restores full fan-out however the join executes.
    pairs = _block_pair_rows(p, entity_cols=("nb",), block_cols=block_cols,
                             spread=True)

    # counter accumulation, incl. the CN/SN dangling-else quirk
    # (comparison_cleaning.py:376-385); nb1/nb2 are constant per pair,
    # so max() just carries them through the same aggregate
    aggs = [F.count("*").alias("cbs"),
            F.max("nb1").alias("nb1"), F.max("nb2").alias("nb2")]
    if scheme in CN_SCHEMES:
        aggs.append(F.sum(F.lit(1.0) / F.col("card")).alias("cn_extra"))
    if scheme in SN_SCHEMES:
        aggs.append(F.sum(F.lit(1.0) / F.col("bs")).alias("sn_counter"))
    # repartition BEFORE the groupBy: pair multiplicity (= #shared
    # blocks) is ~1-3, so group cardinality ≈ row count and the default
    # map-side partial aggregate reduces almost nothing while paying
    # full hash-table churn + spill on every map task. Pre-satisfying
    # the distribution makes Catalyst run ONE post-shuffle aggregate
    # (measured 11.2s -> 6.1s on a 14M-pair enumeration); the shuffle
    # volume is identical. This is the right shape at web scale for the
    # same reason — blocking-graph edges are near-unique.
    e = pairs.repartition("id1", "id2").groupBy("id1", "id2").agg(*aggs)

    if scheme in CN_SCHEMES:
        e = e.withColumn("counter", F.col("cn_extra") + F.col("cbs"))
    elif scheme in SN_SCHEMES:
        e = e.withColumn("counter", F.col("sn_counter"))
    else:
        e = e.withColumn("counter", F.col("cbs").cast("double"))

    num_blocks = None
    if scheme in {"ECBS", "X2"}:
        num_blocks = postings.select("key").distinct().count()

    if scheme in NEEDS_CMP:
        # e fans out into three consumers below (bidir union x2 + the
        # final joins) — materialize the boundary once or each branch
        # re-runs the key self-join + groupBy
        e = e.localCheckpoint()
        # distinct comparisons per entity (comparison_cleaning.py:270-295):
        # DER -> #distinct co-occurring entities (self excluded)
        bidir = e.select(F.col("id1").alias("u"), F.col("id2").alias("v")).union(
            e.select(F.col("id2").alias("u"), F.col("id1").alias("v"))
        )
        cmp_per_entity = bidir.groupBy("u").agg(F.count("*").alias("cmp"))
        dc_row = cmp_per_entity.agg((F.sum("cmp") / 2).alias("d")).collect()[0]
        distinct_comparisons = float(dc_row["d"] or 0.0)
        e = (
            e.join(cmp_per_entity.withColumnRenamed("u", "id1")
                   .withColumnRenamed("cmp", "cmp1"), "id1")
            .join(cmp_per_entity.withColumnRenamed("u", "id2")
                  .withColumnRenamed("cmp", "cmp2"), "id2")
        )

    w = _weight_expr(scheme, F.col("counter"), F.col("nb1"), F.col("nb2"),
                     num_blocks, distinct_comparisons
                     if scheme in NEEDS_CMP else None)
    return e.select("id1", "id2", w.cast("double").alias("weight"),
                    F.col("cbs").cast("double").alias("cbs"))


def _weight_expr(scheme: str, c, nb1, nb2, num_blocks=None,
                 distinct_comparisons=None):
    """The per-scheme weight column over counter ``c`` and per-entity
    block counts. ``cmp1``/``cmp2`` columns must exist for NEEDS_CMP
    schemes."""
    if scheme in {"CBS", "CN-CBS", "SN-CBS"}:
        w = c
    elif scheme == "JS":
        w = c / (nb1 + nb2 - c)
    elif scheme == "COSINE":
        w = c / F.sqrt(nb1 * nb2)
    elif scheme == "DICE":
        w = 2 * c / (nb1 + nb2)
    elif scheme == "ECBS":
        w = (c * F.log10(F.lit(float(num_blocks)) / nb1)
             * F.log10(F.lit(float(num_blocks)) / nb2))
    elif scheme == "EJS":
        js = c / (nb1 + nb2 - c)
        d = F.lit(distinct_comparisons)
        w = js * F.log10(d / F.col("cmp1")) * F.log10(d / F.col("cmp2"))
    elif scheme in {"CNC", "SNC"}:
        w = c / F.sqrt(F.col("cmp1") * F.col("cmp2"))
    elif scheme in {"CND", "SND"}:
        w = 2 * c / (F.col("cmp1") + F.col("cmp2"))
    elif scheme in {"CNJ", "SNJ"}:
        w = c / (F.col("cmp1") + F.col("cmp2") - c)
    elif scheme == "X2":
        # chi^2 of [[cbs, |Bi|-cbs], [|Bj|-cbs, N-(cbs+(|Bi|-cbs)-cbs)]]
        # with int() truncation of observed cells
        # (comparison_cleaning.py:242-247 + utils.py:186-202); the odd o22
        # cell N-(o11+o12-cbs) = N-|Bi|+cbs is the reference's exact
        # formula. counter == cbs for X2.
        o11 = F.floor(c).cast("double")
        o12 = (nb1 - F.floor(c)).cast("double")
        o21 = (nb2 - F.floor(c)).cast("double")
        o22 = (F.lit(float(num_blocks))
               - (F.floor(c) + (nb1 - F.floor(c)) - F.floor(c))).cast("double")
        w = _chi_square(o11, o12, o21, o22)
    else:
        raise ValueError(f"unknown weighting scheme {scheme}")
    return w


def _chi_square(o11, o12, o21, o22):
    """chi^2 over the 2x2 table [[o11,o12],[o21,o22]] — column-expression
    translation of utils.py:186-202 (row/col marginal expectation)."""
    total = o11 + o12 + o21 + o22
    r1, r2 = o11 + o12, o21 + o22
    c1, c2 = o11 + o21, o12 + o22
    def term(o, r, c):
        e_ = r * c / total
        return F.when(e_ != 0, (o - e_) * (o - e_) / e_).otherwise(F.lit(0.0))
    return term(o11, r1, c1) + term(o12, r1, c2) + term(o21, r2, c1) + term(o22, r2, c2)


# ---------------------------------------------------------------- pruning

def comparison_propagation(postings: DataFrame) -> DataFrame:
    """Distinct comparisons across all blocks, no weighting
    (ComparisonPropagation, comparison_cleaning.py:310-342); D1 x D2
    pairs on CCER postings (``block_building.block_pairs``)."""
    return block_pairs(postings)


def weighted_edge_pruning(postings: DataFrame, scheme: str = "CBS") -> DataFrame:
    """Keep edges with weight >= global mean edge weight
    (WEP, comparison_cleaning.py:344-424)."""
    # mean is an action over e and the filter re-reads it — one
    # materialization, not two edge builds
    e = edge_weights(postings, scheme).localCheckpoint()
    mean = e.agg(F.avg("weight")).collect()[0][0] or 0.0
    return e.where(F.col("weight") >= F.lit(mean) - EPS).select("id1", "id2", "weight")


def _node_stat(e: DataFrame, agg) -> DataFrame:
    """Per-node aggregate over the bidirectional neighborhood."""
    bidir = e.select(F.col("id1").alias("node"), "weight").union(
        e.select(F.col("id2").alias("node"), "weight")
    )
    return bidir.groupBy("node").agg(agg(F.col("weight")).alias("stat"))


def weighted_node_pruning(postings: DataFrame, scheme: str = "CBS",
                          reciprocal: bool = False) -> DataFrame:
    """WNP: keep (i<j) if w >= avg(neighborhood_i) OR w >= avg(nbh_j)
    (comparison_cleaning.py:570-618); Reciprocal -> AND (647-666,
    default scheme CN-CBS there)."""
    # e fans out 3x (both _node_stat branches + the join probe side)
    e = edge_weights(postings, scheme).localCheckpoint()
    stats = _node_stat(e, F.avg)
    e2 = (
        e.join(stats.withColumnRenamed("node", "id1")
               .withColumnRenamed("stat", "avg1"), "id1")
        .join(stats.withColumnRenamed("node", "id2")
              .withColumnRenamed("stat", "avg2"), "id2")
    )
    c1 = F.col("weight") >= F.col("avg1") - EPS
    c2 = F.col("weight") >= F.col("avg2") - EPS
    cond = (c1 & c2) if reciprocal else (c1 | c2)
    return e2.where(cond).select("id1", "id2", "weight")


def blast(postings: DataFrame, scheme: str = "X2") -> DataFrame:
    """BLAST: keep (i<j) if w >= (max_w(i)+max_w(j))/4
    (comparison_cleaning.py:620-645)."""
    e = edge_weights(postings, scheme).localCheckpoint()
    stats = _node_stat(e, F.max)
    e2 = (
        e.join(stats.withColumnRenamed("node", "id1")
               .withColumnRenamed("stat", "max1"), "id1")
        .join(stats.withColumnRenamed("node", "id2")
              .withColumnRenamed("stat", "max2"), "id2")
    )
    return e2.where(
        F.col("weight") >= (F.col("max1") + F.col("max2")) / 4 - EPS
    ).select("id1", "id2", "weight")


def cardinality_edge_pruning(postings: DataFrame, scheme: str = "JS",
                             k: int | None = None) -> DataFrame:
    """Global top-K edges, K = floor(total block assignments / 2)
    (CEP, comparison_cleaning.py:426-473). Tie order follows the
    reference PQ tuple (weight, larger_id, smaller_id) — survivors are
    the K lexicographically-largest tuples.
    """
    e = edge_weights(postings, scheme)
    if k is None:
        k = int(postings.count() / 2)
    # orderBy().limit(k) executes as TakeOrdered — a per-partition top-K
    # followed by a driver merge; no global sort is materialized.
    return (
        e.orderBy(F.col("weight").desc(), F.col("id2").desc(), F.col("id1").desc())
        .limit(k)
        .select("id1", "id2", "weight")
    )


def cardinality_node_pruning(postings: DataFrame, scheme: str = "CBS",
                             k: int | None = None,
                             num_entities: int | None = None,
                             reciprocal: bool = False) -> DataFrame:
    """CNP: per-node top-k neighbors, k = max(1, block_assignments /
    num_entities) (comparison_cleaning.py:475-546); RCNP keeps only
    reciprocal pairs (548-568, default CN-CBS).

    Per-node candidates are the full bidirectional neighborhood
    (node-centric _normalize_neighbor_entities, lines 259-263). Validity
    (_is_valid_comparison, 511-516): reciprocal pairs kept once (i<j),
    one-directional pairs kept as-is (CNP) / dropped (RCNP). CCER
    postings keep each pair oriented (id1 in D1, id2 in D2) instead of
    i<j (``ccer._ccer_cnp``).
    """
    if k is None:
        # reference k = max(1, block_assignments / num_of_entities) with
        # num_of_entities = FULL dataset size (comparison_cleaning.py:518-523)
        if num_entities is None:
            num_entities = postings.select("eid").distinct().count()
        ba = postings.count()
        k = int(max(1.0, ba / num_entities))
    if _is_ccer(postings):
        return _ccer_cnp(edge_weights(postings, scheme), k, reciprocal)
    if k == 1:
        # top-1 fast path (the common Dirty-ER config: k = max(1,
        # ba/N) == 1 on web corpora): per-node best neighbor as a
        # map-side-combining max(struct(weight, v)) aggregate over a
        # post-agg explode of both orientations — the same (w desc,
        # v desc) order as the reference PQ tuple, but no 2x edge-table
        # materialization and no data-sized window sort; the edge frame
        # has a single consumer chain so it needs no checkpoint.
        # (A single-shuffle variant — both orientations enumerated with
        # nb pre-attached, both aggs clustered by u — measured SLOWER:
        # doubling the pre-agg enumeration to 2x pairs costs more than
        # the saved exchanges, 7.2s vs 4.4s at sf0.1.)
        e = edge_weights(postings, scheme)
        bidir = e.select(
            F.explode(F.array(
                F.struct(F.col("id1").alias("u"), F.col("id2").alias("v")),
                F.struct(F.col("id2").alias("u"), F.col("id1").alias("v")),
            )).alias("p"), "weight",
        ).select("p.u", "p.v", "weight")
        nearest = bidir.groupBy("u").agg(
            F.max(F.struct("weight", "v")).alias("b")
        ).select("u", F.col("b.v").alias("v"),
                 F.col("b.weight").alias("weight")).localCheckpoint()
    else:
        # e fans out into the bidir union's two branches; nearest fans
        # out into fwd + rev. Materialize both boundaries or the key
        # self-join + groupBy runs up to 4x.
        e = edge_weights(postings, scheme).localCheckpoint()
        bidir = e.select(F.col("id1").alias("u"), F.col("id2").alias("v"),
                         "weight").union(
            e.select(F.col("id2").alias("u"), F.col("id1").alias("v"), "weight")
        )
        # reference PQ tuple (w, u, v): survivors per u are the k
        # largest by (w, v) — v desc tie-break replicated.
        w_rank = Window.partitionBy("u").orderBy(F.col("weight").desc(),
                                                 F.col("v").desc())
        nearest = bidir.withColumn("_rn", F.row_number().over(w_rank)).where(
            F.col("_rn") <= k
        ).select("u", "v", "weight").localCheckpoint()

    fwd = nearest
    rev = nearest.select(F.col("u").alias("v"), F.col("v").alias("u")).withColumn(
        "_has_rev", F.lit(1)
    )
    joined = fwd.join(rev, ["u", "v"], "left")
    if reciprocal:
        valid = joined.where(F.col("_has_rev").isNotNull() & (F.col("u") < F.col("v")))
    else:
        valid = joined.where(F.col("_has_rev").isNull() | (F.col("u") < F.col("v")))
    return (
        valid.select(
            F.least("u", "v").alias("id1"),
            F.greatest("u", "v").alias("id2"),
            "weight",
        )
        .groupBy("id1", "id2")
        .agg(F.max("weight").alias("weight"))
    )


def get_meta_blocking_approach(acronym: str, postings: DataFrame,
                               scheme: str | None = None, **kw) -> DataFrame:
    """Acronym dispatch (comparison_cleaning.py:1088-1124) with the
    reference's default scheme per method."""
    a = acronym.upper()
    if a == "CP":
        return comparison_propagation(postings)
    if a == "WEP":
        return weighted_edge_pruning(postings, scheme or "CBS")
    if a == "WNP":
        return weighted_node_pruning(postings, scheme or "CBS")
    if a == "RWNP":
        return weighted_node_pruning(postings, scheme or "CN-CBS", reciprocal=True)
    if a == "BLAST":
        return blast(postings, scheme or "X2")
    if a == "CEP":
        return cardinality_edge_pruning(postings, scheme or "JS", **kw)
    if a == "CNP":
        return cardinality_node_pruning(postings, scheme or "CBS", **kw)
    if a == "RCNP":
        return cardinality_node_pruning(postings, scheme or "CN-CBS",
                                        reciprocal=True, **kw)
    raise ValueError(f"unknown meta-blocking acronym {acronym}")
