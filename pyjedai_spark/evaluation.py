"""Evaluation: precision / recall / F1 of predicted pairs vs ground
truth (reference src/pyjedai/evaluation.py:54-79; recall = |GT semi-join
pred| / |GT| — a left-semi join + count, never a python loop)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def canonical_pairs(df: DataFrame, c1: str = "id1", c2: str = "id2") -> DataFrame:
    return df.select(
        F.least(F.col(c1), F.col(c2)).alias("id1"),
        F.greatest(F.col(c1), F.col(c2)).alias("id2"),
    ).distinct()


def pair_metrics(pred: DataFrame, gt: DataFrame) -> dict:
    """dict(tp, fp, fn, precision, recall, f1). Both inputs any pair
    DataFrames; canonicalized before comparison."""
    p = canonical_pairs(pred).cache()
    g = canonical_pairs(gt).cache()
    tp = p.join(g, ["id1", "id2"], "left_semi").count()
    np_, ng = p.count(), g.count()
    precision = tp / np_ if np_ else 0.0
    recall = tp / ng if ng else 0.0
    f1 = (2 * precision * recall / (precision + recall)) if (precision + recall) else 0.0
    return {"tp": tp, "fp": np_ - tp, "fn": ng - tp,
            "precision": precision, "recall": recall, "f1": f1}


def progressive_recall_curve(emitted: DataFrame, gt: DataFrame,
                             rank_col: str = "emit_rank",
                             round_to: int = 6) -> DataFrame:
    """Cumulative recall per emission — the metric progressive ER exists
    for (reference evaluation.py:298-368, calculate_tps_indices +
    _generate_auc_data): recall_axis[i] = #GT pairs among the first i
    emissions / |GT|. Returns (emit_rank, cum_tps, cum_recall).

    The rank window is unpartitioned but its input is the EMITTED set,
    capped at the progressive budget — never data-sized."""
    from pyspark.sql import Window

    g = canonical_pairs(gt)
    total = g.count()
    e = emitted.select(
        F.least("id1", "id2").alias("id1"),
        F.greatest("id1", "id2").alias("id2"),
        F.col(rank_col).alias("emit_rank"),
    )
    flagged = e.join(g.withColumn("_tp", F.lit(1)), ["id1", "id2"], "left")
    w = Window.orderBy("emit_rank").rowsBetween(Window.unboundedPreceding, 0)
    cum = F.sum(F.coalesce(F.col("_tp"), F.lit(0))).over(w)
    return flagged.select(
        "emit_rank",
        cum.alias("cum_tps"),
        F.round(cum / F.lit(float(total)) if total else F.lit(0.0),
                round_to).alias("cum_recall"),
    )


def progressive_auc(emitted: DataFrame, gt: DataFrame,
                    rank_col: str = "emit_rank") -> DataFrame:
    """Normalized area under the cumulative-recall curve
    (evaluation.py:360-368: sum(recall_axis) / (total_emissions + 1)).
    Single-row DataFrame (total_emissions, tps_found, auc)."""
    curve = progressive_recall_curve(emitted, gt, rank_col, round_to=9)
    return curve.agg(
        F.count("*").alias("total_emissions"),
        F.max("cum_tps").alias("tps_found"),
        F.round(F.sum("cum_recall") / (F.count("*") + 1.0), 6).alias("auc"),
    )
