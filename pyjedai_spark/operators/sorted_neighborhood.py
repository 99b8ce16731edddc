"""Sorted-neighborhood blocking / progressive sorted neighborhood (PSN).

Reference (src/pyjedai/comparison_cleaning.py:751-981): entities of
blocks sorted by key are laid out in one global position list
(utils.py:310-334 PositionIndex); for windows w = 1..W every entity is
compared with the entities at positions +/-w, and each co-occurrence
updates a per-pair counter (ACF += 1, ID += 1/w); pair weight is then
ACF / NCF / ID / COSINE / DICE over the counters and per-entity
position counts.

Determinism delta (SURVEY §7.5 / §4 item 4): the reference shuffles the
entities inside each block with an UNSEEDED random.shuffle
(utils.py:227) — irreproducible by design. We order entities inside a
block by ``eid`` ascending; the oracle and any parity harness use the
same rule.

Spark-first formulation — no position index dict, no per-entity loop:

    postings(key, eid)
    -> global position: range-partitioned sort + per-partition
       row_number + partition offsets (functions/positions.py — never
       an unpartitioned window, which would serialize all postings
       through one task)
    -> window join: explode offsets 1..W, equi-join pos_b = pos_a + w
       (a range join realized as W equi-joins in ONE shuffle)
    -> groupBy(pair [, w]) aggregation of the counter
    -> weight expression per scheme.

Scale note: the position index costs three small distributed jobs; the
join key ``pos`` is unique per side, so the equi-join is skew-free by
construction — the reason PSN is attractive at web scale vs token
blocking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.positions import with_global_position


def sorted_positions(postings: DataFrame) -> DataFrame:
    """(pos, eid): the PositionIndex flattened — one row per posting,
    global position by (block key, eid) ascending. Distributed two-pass
    rank; (key, eid) is unique per posting, so positions are total and
    deterministic."""
    return with_global_position(
        postings.select("key", "eid"), ["key", "eid"], "pos"
    ).select("pos", "eid")


def _window_cooccurrences(positions: DataFrame, window: int) -> DataFrame:
    """(id1, id2, w) one row per position pair at distance w <= window,
    id1 < id2, self-pairs dropped."""
    a = positions.select(
        "pos", F.col("eid").alias("eid_a"),
        F.explode(F.sequence(F.lit(1), F.lit(window))).alias("w"),
    ).withColumn("pos_b", F.col("pos") + F.col("w"))
    b = positions.select(F.col("pos").alias("pos_b"), F.col("eid").alias("eid_b"))
    return (
        a.join(b, "pos_b")
        .where(F.col("eid_a") != F.col("eid_b"))
        .select(
            F.least("eid_a", "eid_b").alias("id1"),
            F.greatest("eid_a", "eid_b").alias("id2"),
            "w",
        )
    )


def _position_counts(positions: DataFrame) -> DataFrame:
    return positions.groupBy("eid").agg(F.count("*").alias("np"))


def _weight_expr(scheme: str, counter, n1, n2):
    if scheme in {"ACF", "ID"}:
        return counter
    if scheme == "NCF":
        return counter / (n1 + n2 - counter)
    if scheme == "COSINE":
        return counter / F.sqrt(n1 * n2)
    if scheme == "DICE":
        return 2 * counter / (n1 + n2)
    raise ValueError(f"unknown PSN weighting scheme {scheme}")


def _join_counts(pairs: DataFrame, positions: DataFrame) -> DataFrame:
    np_ = _position_counts(positions)
    return (
        pairs.join(np_.select(F.col("eid").alias("id1"), F.col("np").alias("n1")),
                   "id1")
        .join(np_.select(F.col("eid").alias("id2"), F.col("np").alias("n2")), "id2")
    )


def global_psn(postings: DataFrame, window: int = 10,
               scheme: str = "ACF", round_to: int = 6) -> DataFrame:
    """GPSN (comparison_cleaning.py:851-912): counters accumulate over
    ALL windows 1..W; one weight per pair. Returns (id1, id2, weight)."""
    scheme = scheme.upper()
    positions = sorted_positions(postings)
    co = _window_cooccurrences(positions, window)
    counter = (F.sum(1.0 / F.col("w")) if scheme == "ID"
               else F.count("*").cast("double")).alias("counter")
    pairs = co.groupBy("id1", "id2").agg(counter)
    out = _join_counts(pairs, positions)
    w_ = _weight_expr(scheme, F.col("counter"), F.col("n1"), F.col("n2"))
    return out.select("id1", "id2",
                      F.round(w_.cast("double"), round_to).alias("weight"))


def local_psn(postings: DataFrame, window: int = 10,
              scheme: str = "ACF", round_to: int = 6) -> DataFrame:
    """LPSN (comparison_cleaning.py:914-981): counters RESET per window
    (exact distance w); pair weight = max over windows of the per-window
    weight. Returns (id1, id2, weight)."""
    scheme = scheme.upper()
    if scheme == "ID":
        # LPSN._update_counters has no ID branch: increments are 1.0
        scheme = "ACF"
    positions = sorted_positions(postings)
    co = _window_cooccurrences(positions, window)
    per_w = co.groupBy("id1", "id2", "w").agg(
        F.count("*").cast("double").alias("counter")
    )
    out = _join_counts(per_w, positions)
    w_ = _weight_expr(scheme, F.col("counter"), F.col("n1"), F.col("n2"))
    return (
        out.select("id1", "id2", w_.alias("weight"))
        .groupBy("id1", "id2")
        .agg(F.round(F.max("weight").cast("double"), round_to).alias("weight"))
    )
