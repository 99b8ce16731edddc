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

Small graphs finish on the driver, as connected components do
(``clustering.DRIVER_EDGE_LIMIT``). When the Dirty-ER postings imply
at most that many comparisons (sum over blocks of bs*(bs-1)/2) and
hold at most that many rows, they are collected once through Arrow and
:func:`_driver_graph` enumerates the pairs, counts the counters and
evaluates the weight in numpy; CNP then ranks and validates the same
arrays. The route is read from the data by one aggregate job; every
weight is the same :func:`_weight_expr` formula over numpy arrays
instead of Spark columns. At these sizes a Spark plan is a dozen
single-task jobs whose latency, not their work, is the cost. Larger
graphs run the Spark plan below.

Both ER modes run through the same methods: postings with a ``side``
column (``ccer.ccer_blocking``) are Clean-Clean ER, so
:func:`edge_weights` builds the D1 x D2 graph with CCER counters
(``ccer.ccer_edge_weights``, the same scheme formulas, always on Spark)
and every pruning rule below applies unchanged; CNP alone differs,
orienting its output by side.

All prune rules keep the numeric comparison inside a shared guard band
EPS: floating-point thresholds (means/maxima) are computed by different
engines in different orders; a 1e-9 band makes the retained-edge set
stable across Spark and the DuckDB oracle.
"""

from __future__ import annotations

from types import SimpleNamespace

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from . import clustering
from .block_building import _block_pair_rows, block_pairs
from .ccer import _is_ccer, ccer_edge_weights

EPS = 1e-9

CN_SCHEMES = {"CN-CBS", "CNC", "CND", "CNJ"}
SN_SCHEMES = {"SN-CBS", "SNC", "SND", "SNJ"}
NEEDS_CMP = {"EJS", "CNC", "SNC", "SND", "CND", "CNJ", "SNJ"}

# The array namespace of Spark columns for _weight_expr/_chi_square;
# on the driver they take numpy itself.
COLUMNS = SimpleNamespace(
    sqrt=F.sqrt, log10=F.log10,
    floor=lambda c: F.floor(c).cast("double"),
    where=lambda cond, a, b: F.when(cond, a).otherwise(b),
)


def _graph_size(postings: DataFrame) -> tuple[int, bool]:
    """(block assignments, whether the graph finishes on the driver) of
    Dirty-ER postings, from one aggregate job.

    The driver route needs both the postings and their pair stream
    (sum over blocks of bs*(bs-1)/2 rows) to fit under
    ``clustering.DRIVER_EDGE_LIMIT``. A ``bs`` column is taken as the
    block size, as the Spark plan takes it: then each posting adds
    bs-1 to twice the comparison count, and no groupBy runs.
    """
    if "bs" in postings.columns:
        row = postings.agg(F.count("*"), F.sum(F.col("bs") - 1)).first()
    else:
        row = postings.groupBy("key").agg(F.count("*").alias("bs")).agg(
            F.sum("bs"), F.sum(F.col("bs") * (F.col("bs") - 1))).first()
    ba, comparisons = int(row[0] or 0), int(row[1] or 0) // 2
    return ba, max(ba, comparisons) <= clustering.DRIVER_EDGE_LIMIT


def _driver_graph(postings: DataFrame, scheme: str) -> SimpleNamespace:
    """The weighted blocking graph of small Dirty-ER postings, computed
    on the driver from one Arrow collect.

    Returns ``ent`` (the sorted distinct entity ids) and per edge
    ``a < b`` (indices into ``ent``, so id order), ``weight`` and
    ``cbs``. The counters are :func:`_spark_edge_weights`' own: pairs
    are the within-block position pairs with id1 < id2, ``nb`` counts
    postings per entity, ``bs`` is the column when present (else the
    block's posting count), N counts distinct keys, cmp_i is the edge
    degree and D the edge count.
    """
    cols = ["key", "eid"] + (["bs"] if "bs" in postings.columns else [])
    pdf = postings.select(*cols).toPandas()
    key = pd.factorize(pdf["key"])[0]
    ent, idx = np.unique(pdf["eid"].to_numpy(), return_inverse=True)
    nb = np.bincount(idx, minlength=len(ent))
    bs = (pdf["bs"].to_numpy(np.int64) if "bs" in pdf
          else np.bincount(key)[key])

    # sort by (block, entity); position r of an n-posting block pairs
    # with the n-1-r positions after it
    order = np.lexsort((idx, key))
    key, idx, bs = key[order], idx[order], bs[order]
    n = len(key)
    starts = np.flatnonzero(np.diff(key, prepend=-1))
    lens = np.diff(np.r_[starts, n])
    after = np.repeat(lens, lens) - 1 - (np.arange(n) - np.repeat(starts, lens))
    left = np.repeat(np.arange(n), after)
    right = left + 1 + np.arange(len(left)) - np.repeat(np.cumsum(after) - after,
                                                         after)
    keep = idx[left] < idx[right]
    left, right = left[keep], right[keep]

    edge, pair, cbs = np.unique(idx[left] * len(ent) + idx[right],
                                return_inverse=True, return_counts=True)
    a, b = np.divmod(edge, len(ent))
    if scheme in CN_SCHEMES:
        card = bs[left] * (bs[left] - 1) / 2
        counter = np.bincount(pair, 1.0 / card, len(edge)) + cbs
    elif scheme in SN_SCHEMES:
        counter = np.bincount(pair, 1.0 / bs[left], len(edge))
    else:
        counter = cbs.astype(np.float64)
    cmp = np.bincount(a, minlength=len(ent)) + np.bincount(b, minlength=len(ent))
    with np.errstate(divide="ignore", invalid="ignore"):
        weight = _weight_expr(np, scheme, counter, nb[a], nb[b], cmp[a], cmp[b],
                              num_blocks=len(starts), d=float(len(edge)))
    return SimpleNamespace(ent=ent, a=a, b=b, cbs=cbs.astype(np.float64),
                           weight=weight)


def _driver_frame(postings: DataFrame, ent: np.ndarray, a: np.ndarray,
                  b: np.ndarray, **values: np.ndarray) -> DataFrame:
    """(id1 = ent[a], id2 = ent[b], *double ``values``) as a DataFrame
    in the postings' id type; one partition, as
    ``clustering._driver_labels`` returns its table."""
    f = postings.schema["eid"]
    schema = StructType([StructField("id1", f.dataType), StructField("id2", f.dataType)]
                        + [StructField(c, DoubleType()) for c in values])
    return postings.sparkSession.createDataFrame(
        pd.DataFrame({"id1": ent[a], "id2": ent[b], **values}), schema
    ).coalesce(1)


def edge_weights(postings: DataFrame, scheme: str = "CBS") -> DataFrame:
    """Blocking-graph edges (id1 < id2, weight, cbs) for a weighting
    scheme.

    Dirty-ER postings small enough for the driver
    (:func:`_graph_size`) are weighted there (:func:`_driver_graph`);
    larger ones run :func:`_spark_edge_weights`. CCER postings (a
    ``side`` column) route to ``ccer.ccer_edge_weights``: edges (id1 in
    D1, id2 in D2) over the D1 x D2 pair space, same schemes, unsalted.
    """
    if _is_ccer(postings):
        return ccer_edge_weights(postings, scheme)
    scheme = scheme.upper()
    if _graph_size(postings)[1]:
        g = _driver_graph(postings, scheme)
        return _driver_frame(postings, g.ent, g.a, g.b, weight=g.weight,
                             cbs=g.cbs)
    return _spark_edge_weights(postings, scheme)


def _spark_edge_weights(postings: DataFrame, scheme: str) -> DataFrame:
    """:func:`edge_weights` as a Spark plan, for Dirty-ER graphs above
    the driver limit.

    One shuffle for the self-join on key, one for the groupBy(id1,id2);
    per-entity block counts ride the postings into the enumeration
    (attached pre-expansion), so no edge-stream-sized join follows.
    Pairs are enumerated by ``block_building._block_pair_rows``, which
    splits every block above ``SALT_BLOCK_SIZE`` postings into hash
    chunks enumerated chunk pair by chunk pair, so one hot key's
    quadratic expansion spreads over bounded tasks instead of one.
    """
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

    w = _weight_expr(COLUMNS, scheme, F.col("counter"), F.col("nb1"),
                     F.col("nb2"), F.col("cmp1"), F.col("cmp2"), num_blocks,
                     distinct_comparisons if scheme in NEEDS_CMP else None)
    return e.select("id1", "id2", w.cast("double").alias("weight"),
                    F.col("cbs").cast("double").alias("cbs"))


def _weight_expr(xp, scheme: str, c, nb1, nb2, cmp1=None, cmp2=None,
                 num_blocks=None, d=None):
    """The per-scheme weight over counter ``c``, per-entity block counts
    ``nb1``/``nb2`` and, for NEEDS_CMP schemes, distinct comparison
    counts ``cmp1``/``cmp2`` and their total ``d``. ``xp`` is the array
    namespace the arguments live in: :data:`COLUMNS` for Spark columns,
    numpy for the driver's arrays. One formula per scheme serves both."""
    if scheme in {"CBS", "CN-CBS", "SN-CBS"}:
        w = c
    elif scheme == "JS":
        w = c / (nb1 + nb2 - c)
    elif scheme == "COSINE":
        w = c / xp.sqrt(nb1 * nb2)
    elif scheme == "DICE":
        w = 2 * c / (nb1 + nb2)
    elif scheme == "ECBS":
        n = float(num_blocks)
        w = c * xp.log10(n / nb1) * xp.log10(n / nb2)
    elif scheme == "EJS":
        js = c / (nb1 + nb2 - c)
        w = js * xp.log10(d / cmp1) * xp.log10(d / cmp2)
    elif scheme in {"CNC", "SNC"}:
        w = c / xp.sqrt(cmp1 * cmp2)
    elif scheme in {"CND", "SND"}:
        w = 2 * c / (cmp1 + cmp2)
    elif scheme in {"CNJ", "SNJ"}:
        w = c / (cmp1 + cmp2 - c)
    elif scheme == "X2":
        # chi^2 of [[cbs, |Bi|-cbs], [|Bj|-cbs, N-(cbs+(|Bi|-cbs)-cbs)]]
        # with int() truncation of observed cells
        # (comparison_cleaning.py:242-247 + utils.py:186-202); the odd o22
        # cell N-(o11+o12-cbs) = N-|Bi|+cbs is the reference's exact
        # formula. counter == cbs for X2.
        o11 = xp.floor(c)
        o22 = float(num_blocks) - (o11 + (nb1 - o11) - o11)
        w = _chi_square(xp, o11, nb1 - o11, nb2 - o11, o22)
    else:
        raise ValueError(f"unknown weighting scheme {scheme}")
    return w


def _chi_square(xp, o11, o12, o21, o22):
    """chi^2 over the 2x2 table [[o11,o12],[o21,o22]] — array
    translation of utils.py:186-202 (row/col marginal expectation)."""
    total = o11 + o12 + o21 + o22
    r1, r2 = o11 + o12, o21 + o22
    c1, c2 = o11 + o21, o12 + o22
    def term(o, r, c):
        e_ = r * c / total
        return xp.where(e_ != 0, (o - e_) * (o - e_) / e_, 0.0)
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
    (node-centric _normalize_neighbor_entities, lines 259-263), ranked
    by the reference PQ tuple (w, u, v): survivors per u are the k
    largest by (weight, v). Validity (_is_valid_comparison, 511-516):
    a pair kept from both ends is emitted once, one kept from one end
    only is emitted by CNP and dropped by RCNP. Dirty-ER pairs are
    oriented i<j; CCER postings keep each pair oriented (id1 in D1, id2
    in D2). Small Dirty-ER graphs are ranked on the driver
    (:func:`_driver_cnp`).
    """
    ccer = _is_ccer(postings)
    if ccer:
        ba, driver = (postings.count() if k is None else 0), False
    else:
        # the one sizing job also yields the block assignments for k
        ba, driver = _graph_size(postings)
    g = _driver_graph(postings, scheme.upper()) if driver else None
    if k is None:
        # reference k = max(1, block_assignments / num_of_entities) with
        # num_of_entities = FULL dataset size (comparison_cleaning.py:518-523)
        if num_entities is None:
            num_entities = (len(g.ent) if driver
                            else postings.select("eid").distinct().count())
        k = int(max(1.0, ba / num_entities)) if num_entities else 1
    if driver:
        return _driver_cnp(postings, g, k, reciprocal)

    e = (ccer_edge_weights(postings, scheme) if ccer
         else _spark_edge_weights(postings, scheme.upper()))
    # both orientations of every edge by a post-agg explode: the edge
    # frame has one consumer, so it needs no checkpoint. ``s`` is the
    # side of u on CCER graphs (id1 is in D1); Dirty ER ignores it.
    bidir = e.select(
        F.explode(F.array(
            F.struct(F.col("id1").alias("u"), F.col("id2").alias("v"),
                     F.lit(1).alias("s")),
            F.struct(F.col("id2").alias("u"), F.col("id1").alias("v"),
                     F.lit(2).alias("s")),
        )).alias("p"), "weight",
    ).select("p.u", "p.v", "p.s", "weight")
    if k == 1:
        # top-1 (the common Dirty-ER config: k = max(1, ba/N) == 1 on
        # web corpora): a map-side-combining max(struct(weight, v))
        # aggregate, the same (w desc, v desc) order without a
        # data-sized window sort. (A single-shuffle variant — both
        # orientations enumerated with nb pre-attached, both aggs
        # clustered by u — measured SLOWER: doubling the pre-agg
        # enumeration to 2x pairs costs more than the saved exchanges,
        # 7.2s vs 4.4s at sf0.1.)
        nearest = bidir.groupBy("u").agg(
            F.max(F.struct("weight", "v", "s")).alias("b")
        ).select("u", "b.v", "b.s", "b.weight")
    else:
        w_rank = Window.partitionBy("u").orderBy(F.col("weight").desc(),
                                                 F.col("v").desc())
        nearest = bidir.withColumn("_rn", F.row_number().over(w_rank)).where(
            F.col("_rn") <= k)
    if ccer:
        d1 = F.col("s") == 1
        id1 = F.when(d1, F.col("u")).otherwise(F.col("v"))
        id2 = F.when(d1, F.col("v")).otherwise(F.col("u"))
    else:
        id1, id2 = F.least("u", "v"), F.greatest("u", "v")
    # one row per kept pair; n = how many of its ends kept it
    pairs = nearest.groupBy(id1.alias("id1"), id2.alias("id2")).agg(
        F.max("weight").alias("weight"), F.count("*").alias("n"))
    if reciprocal:
        pairs = pairs.where(F.col("n") == 2)
    return pairs.select("id1", "id2", "weight")


def _driver_cnp(postings: DataFrame, g: SimpleNamespace, k: int,
                reciprocal: bool) -> DataFrame:
    """CNP's ranking and validity over :func:`_driver_graph`'s arrays:
    the Spark plan's rule, with ids as indices into the sorted ``ent``
    (so index order is id order)."""
    u, v = np.r_[g.a, g.b], np.r_[g.b, g.a]
    w = np.r_[g.weight, g.weight]
    order = np.lexsort((-v, -w, u))
    u, v, w = u[order], v[order], w[order]
    starts = np.flatnonzero(np.diff(u, prepend=-1))
    rank = np.arange(len(u)) - np.repeat(starts, np.diff(np.r_[starts, len(u)]))
    top = rank < k
    u, v, w = u[top], v[top], w[top]
    lo, hi = np.minimum(u, v), np.maximum(u, v)
    pair, first, n = np.unique(lo * len(g.ent) + hi, return_index=True,
                               return_counts=True)
    if reciprocal:
        pair, first = pair[n == 2], first[n == 2]
    a, b = np.divmod(pair, len(g.ent))
    return _driver_frame(postings, g.ent, a, b, weight=w[first])


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
