"""The survivor rule every dedup operator shares: which member of a
duplicate group is kept.

One map-side-combining ``groupBy(key)`` — a 10^9-copy boilerplate group
reduces to one partial row per map task instead of funneling every copy
through one window task.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _best_members(members: DataFrame, key: str,
                  ranks: DataFrame | None = None, id_col: str = "eid",
                  rank_col: str = "rank", descending: bool = True,
                  aggs: tuple[Column, ...] = ()) -> DataFrame:
    """(key, *aggs, survivor): one survivor per ``key`` group of
    ``members`` (eid, key).

    Without ``ranks`` the survivor is the group's min eid. With ``ranks``
    ((id_col, rank_col) numeric) it is the best-ranked member (highest
    when ``descending``, lowest otherwise); a duplicated ranks row counts
    once, with its best rank. Ties, and NULL, NaN or missing ranks, sort
    last and break to the min eid, so every-rank-tied degrades to the
    min-id rule. The rule is ``min(struct(-coalesce(rank, -inf), eid))``:
    no arithmetic on the id, so any orderable id type works (string urls
    included). ``aggs`` ride along in the same aggregate."""
    if ranks is None:
        return members.groupBy(key).agg(*aggs, F.min("eid").alias("survivor"))
    best = F.max if descending else F.min
    r = (ranks.select(F.col(id_col).alias("eid"),
                      F.col(rank_col).cast("double").alias("_rank"))
         .groupBy("eid").agg(best("_rank").alias("_rank")))
    signed = F.col("_rank") if descending else -F.col("_rank")
    # min picks the best rank; unranked -(-inf) = +inf and NaN sort last
    nk = -F.coalesce(signed, F.lit(float("-inf")))
    return (members.join(r, "eid", "left").groupBy(key)
            .agg(*aggs, F.min(F.struct(nk.alias("nk"), F.col("eid")))
                 .getField("eid").alias("survivor")))
