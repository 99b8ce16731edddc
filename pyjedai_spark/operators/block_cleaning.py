"""Block cleaning: BlockPurging + BlockFiltering.

Both reduce the comparison space *before* any pair explosion — at web
scale these (plus size caps) are what keep Zipfian mega-blocks from
producing quadratic shuffles. Both ER modes: postings with a ``side``
column (``ccer.ccer_blocking``) get CCER cardinalities and validity.
"""

from __future__ import annotations

import math
from itertools import accumulate

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .ccer import _ccer_postings, _is_ccer


def java_math_round(x: float) -> int:
    """int(x + 0.5) — Java half-up rounding (reference utils.py:204-205).
    NOT python round() (banker's) and NOT Spark round (half-even)."""
    return int(math.floor(x + 0.5))


def block_cardinalities(postings: DataFrame) -> DataFrame:
    """(key, block_size, cardinality). DER cardinality = s(s-1)/2;
    CCER (postings carry ``side``) cardinality = n1*n2
    (datamodel.py:496-506, both branches)."""
    if _is_ccer(postings):
        return postings.groupBy("key").agg(
            F.count("*").alias("block_size"),
            (F.sum((F.col("side") == 1).cast("long"))
             * F.sum((F.col("side") == 2).cast("long"))).alias("cardinality"),
        )
    return postings.groupBy("key").agg(F.count("*").alias("block_size")).withColumn(
        "cardinality",
        (F.col("block_size") * (F.col("block_size") - 1) / 2).cast("long"),
    )


def purging_threshold(levels: list[tuple[int, float, float]],
                      smoothing_factor: float = 1.025) -> float:
    """Scalar threshold scan of BlockPurging._set_threshold
    (block_cleaning.py:158-198), run driver-side on the tiny per-level
    aggregate (#distinct cardinality levels rows).

    ``levels``: ascending (cardinality, cum_block_assignments,
    cum_comparisons) — the reference's block_assignments /
    total_comparisons_per_level arrays after its cumulative scan.
    """
    if len(levels) <= 1:
        return 0.0
    cur_bc = cur_cc = cur_size = prev_bc = prev_cc = prev_size = 0.0
    for i in range(len(levels) - 1, 0, -1):
        prev_size, prev_bc, prev_cc = cur_size, cur_bc, cur_cc
        cur_size, cur_bc, cur_cc = (
            float(levels[i][0]), float(levels[i][1]), float(levels[i][2]))
        if cur_bc * prev_cc < smoothing_factor * cur_cc * prev_bc:
            break
    return prev_size


def _scan_threshold(cards: DataFrame, smoothing_factor: float) -> float:
    """Level-table collect + driver-side scan over an existing
    cardinality frame (the O(#levels) piece of BlockPurging): one row
    per cardinality level, cumulated on the driver."""
    levels = sorted(tuple(r) for r in cards.groupBy("cardinality").agg(
        F.sum("block_size"), F.sum("cardinality")).collect())
    cum_bs = accumulate(lv[1] for lv in levels)
    cum_cc = accumulate(lv[2] for lv in levels)
    return purging_threshold(
        [(lv[0], b, c) for lv, b, c in zip(levels, cum_bs, cum_cc)],
        smoothing_factor)


def block_purging(postings: DataFrame,
                  smoothing_factor: float = 1.025) -> DataFrame:
    """Drop blocks whose cardinality exceeds the scanned threshold
    (BlockPurging, block_cleaning.py:110-207).

    Plan: groupBy(key) -> groupBy(cardinality) level agg -> collect the
    (tiny) level table -> cumulative sums and threshold scan on the
    driver -> filter.
    """
    cards = block_cardinalities(postings)
    thr = _scan_threshold(cards, smoothing_factor)
    keep = cards.where(F.col("cardinality") <= F.lit(thr)).select("key")
    # broadcast the kept-key whitelist when it is small; Catalyst/AQE will
    # decide — we only express the semi-join.
    return postings.join(keep, "key", "left_semi")


def block_filtering(postings: DataFrame, ratio: float = 0.8) -> DataFrame:
    """Retain each entity only in the java_round(ratio*|blocks(e)|)
    smallest-cardinality blocks it occurs in, then re-drop singleton
    blocks (BlockFiltering, block_cleaning.py:33-108, core 82-97).

    Determinism delta (documented, SURVEY §4.4): the reference breaks
    cardinality ties by dict insertion order (OrderedSet,
    block_cleaning.py:209-210); we use (cardinality, key) — an explicit
    total order that both the Spark plan and any SQL oracle share.
    """
    cards = block_cardinalities(postings).select("key", "cardinality")
    return _filter_with_cards(postings.join(cards, "key"), ratio)


def _filter_with_cards(p: DataFrame, ratio: float,
                       keep_size: bool = False) -> DataFrame:
    """BlockFiltering core over postings that already carry their
    block's ``cardinality`` column (shared by :func:`block_filtering`
    and the fused :func:`clean_blocks`). ``keep_size`` retains the
    REBUILT block size as ``bs`` (Dirty ER only)."""
    w = Window.partitionBy("eid").orderBy(F.col("cardinality").asc(), F.col("key").asc())
    ranked = (
        p.withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count("*").over(Window.partitionBy("eid")))
    )
    # java_math_round(ratio*n) == floor(ratio*n + 0.5)
    kept = ranked.where(
        F.col("_rn") <= F.floor(F.lit(ratio) * F.col("_n") + F.lit(0.5))
    )
    if _is_ccer(p):
        # CCER validity after the rebuild: a block survives only if BOTH
        # datasets still contribute (drop_single_entity_blocks CCER branch)
        return _ccer_postings(kept)
    kept = kept.select("key", "eid")
    # rebuilt blocks may now be singletons -> drop (block_cleaning.py:97)
    from .block_building import keep_multi_entity_blocks

    return keep_multi_entity_blocks(kept, 2, keep_size=keep_size)


def clean_blocks(postings: DataFrame, smoothing_factor: float = 1.025,
                 ratio: float = 0.8, keep_size: bool = False) -> DataFrame:
    """BlockPurging + BlockFiltering fused: output-identical to
    ``block_filtering(block_purging(p, s), r)``, but the block-cardinality
    aggregate runs ONCE (purging drops whole blocks, so a surviving
    block's cardinality is unchanged — the original cardinality frame
    serves the threshold scan, the purge filter, AND the filtering ranks).

    The naive composition computes block cardinalities three times
    (threshold collect, the purge semi-join's build side, filtering).
    ``postings`` is read twice (the cardinality aggregate and the purge
    join), so pass a materialized stage boundary (a checkpoint or
    ``localCheckpoint()``), or the corpus is tokenized twice.
    """
    # one groupBy over the postings, materialized because it feeds both
    # the level collect and the purge+filter join below
    cards = block_cardinalities(postings).localCheckpoint()
    thr = _scan_threshold(cards, smoothing_factor)
    kept_cards = cards.where(F.col("cardinality") <= F.lit(thr)).select(
        "key", "cardinality")
    # inner join = purge semi-join + cardinality attach in one exchange
    return _filter_with_cards(postings.join(kept_cards, "key"), ratio,
                              keep_size=keep_size)
