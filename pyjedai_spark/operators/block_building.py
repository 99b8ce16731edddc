"""Block building = candidate-generation "scan" of the comparison space.

A block collection is a long postings DataFrame ``(key string, eid long)``
— never a driver-side dict (reference builds dict[token -> Block],
src/pyjedai/block_building.py:446-461; we let a groupBy do that).

Blocks with a single entity are dropped (drop_single_entity_blocks,
src/pyjedai/utils.py:105-122); oversized blocks can be capped
(drop_big_blocks_by_size, utils.py:85-103) — at web scale this is the
first line of defense against Zipfian mega-blocks *before* any pair
explosion.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as T
from .ccer import _is_ccer, ccer_pairs


def _postings(docs: DataFrame, keys_col, id_col: str) -> DataFrame:
    """docs + an array<string> key expression -> (key, eid) postings."""
    return (
        docs.select(F.col(id_col).alias("eid"), F.explode(keys_col).alias("key"))
        .distinct()
    )


def keep_multi_entity_blocks(postings: DataFrame, min_size: int = 2,
                             max_size: int | None = None,
                             keep_size: bool = False) -> DataFrame:
    """HAVING count BETWEEN min AND max on block size, without losing the
    postings shape. Window avoids a second scan; partial agg is free.

    ``keep_size=True`` retains the block size as ``bs`` — downstream
    edge weighting (comparison_cleaning.edge_weights) needs exactly this
    per-block size and can skip its own groupBy+join when the column is
    already present.

    reference: drop_single_entity_blocks utils.py:105-122 (min);
    drop_big_blocks_by_size utils.py:85-103 (max).
    """
    w = Window.partitionBy("key")
    p = postings.withColumn("_bs", F.count("*").over(w))
    cond = F.col("_bs") >= min_size
    if max_size is not None:
        cond = cond & (F.col("_bs") <= max_size)
    p = p.where(cond)
    return p.withColumnRenamed("_bs", "bs") if keep_size else p.drop("_bs")


def standard_blocking(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text",
                      max_block_size: int | None = None) -> DataFrame:
    """One block per distinct token shared by >= 2 entities
    (StandardBlocking, block_building.py:485-525)."""
    p = _postings(docs, T.tokens(text_col), id_col)
    return keep_multi_entity_blocks(p, 2, max_block_size)


def qgrams_blocking(docs: DataFrame, q: int = 6, id_col: str = "doc_id",
                    text_col: str = "text",
                    max_block_size: int | None = None) -> DataFrame:
    """Key = char q-gram of each token; short tokens kept whole
    (QGramsBlocking q=6 default, block_building.py:527-576)."""
    p = _postings(docs, T.token_qgrams(T.tokens(text_col), q), id_col)
    return keep_multi_entity_blocks(p, 2, max_block_size)


def suffix_arrays_blocking(docs: DataFrame, suffix_length: int = 6,
                           max_block_size: int = 53, id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """Key = token suffix; blocks larger than max_block_size dropped
    (SuffixArraysBlocking defaults 6/53, block_building.py:579-633)."""
    p = _postings(docs, T.token_suffixes(T.tokens(text_col), suffix_length), id_col)
    return keep_multi_entity_blocks(p, 2, max_block_size)


def extended_suffix_arrays_blocking(docs: DataFrame, suffix_length: int = 6,
                                    max_block_size: int = 39,
                                    id_col: str = "doc_id",
                                    text_col: str = "text") -> DataFrame:
    """Key = any token substring with len >= suffix_length
    (ExtendedSuffixArraysBlocking defaults 6/39, block_building.py:635-690)."""
    p = _postings(docs, T.token_substrings(T.tokens(text_col), suffix_length), id_col)
    return keep_multi_entity_blocks(p, 2, max_block_size)


def _udf_qgram_combo_keys(text_col: str, q: int, threshold: float):
    """ExtendedQGrams keys for ANY threshold: an Arrow pandas UDF with
    the reference's ordered-combination generator — the only path for
    t < 14/15, and the reference the column-expression path is tested
    against."""
    import math
    from itertools import combinations

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def _keys(texts: pd.Series) -> pd.Series:
        import re

        def per_doc(s: str) -> list[str]:
            keys: set[str] = set()
            for tok in set(filter(None, re.split(r"[\W_]", str(s).lower()))):
                if len(tok) < q:
                    keys.add(tok)
                    continue
                grams = [tok[i:i + q] for i in range(len(tok) - q + 1)]
                if len(grams) == 1:
                    keys.update(grams)
                    continue
                grams = grams[:15]
                lo = max(1, math.floor(len(grams) * threshold))
                # ordered combinations, concatenated
                # (block_building.py:754-773)
                for size in range(lo, len(grams) + 1):
                    keys.update("".join(grams[i] for i in c)
                                for c in combinations(range(len(grams)),
                                                      size))
            return sorted(keys)

        return texts.map(per_doc)

    return _keys(F.col(text_col))


def extended_qgrams_blocking(docs: DataFrame, q: int = 6,
                             threshold: float = 0.95,
                             id_col: str = "doc_id", text_col: str = "text",
                             max_block_size: int | None = None) -> DataFrame:
    """Key = ordered q-gram combination of size >= max(1, floor(L*t))
    (ExtendedQGramsBlocking, block_building.py:692-788, MAX_QGRAMS=15).

    The threshold picks the key builder: for t >= 14/15 (the 0.95
    default), where the combination set is {full, drop-one}, pure column
    expressions; below it, the pandas-UDF generator
    :func:`_udf_qgram_combo_keys`.
    """
    if threshold >= 14.0 / 15.0:
        keys = T.token_qgram_combo_keys(T.tokens(text_col), q, threshold)
    else:
        keys = _udf_qgram_combo_keys(text_col, q, threshold)
    return keep_multi_entity_blocks(_postings(docs, keys, id_col), 2,
                                    max_block_size)


def block_pairs(postings: DataFrame,
                max_block_size: int | None = None) -> DataFrame:
    """All distinct comparisons implied by a block collection, as an edge
    list (id1 < id2) — the Dirty-ER cardinality n(n-1)/2 per block
    (datamodel.py:496-506) materialized as a within-key self-join, never a
    collect_list + python combinations. CCER postings (a ``side``
    column) give the D1 x D2 pairs instead (``ccer.ccer_pairs``).

    Scale note: the self-join shuffles both sides hash-partitioned by
    ``key``; AQE skew-join splits a hot key's partitions. Upstream
    purging/filtering/size-caps must bound the per-key quadratic blowup —
    ``max_block_size`` is a belt-and-braces guard that *drops* keys whose
    block size exceeds it (to keep a hot block, split it with
    :func:`block_pairs_salted`).
    """
    if _is_ccer(postings):
        return ccer_pairs(postings)
    p = postings
    if max_block_size is not None:
        p = keep_multi_entity_blocks(p, 2, max_block_size)
    a = p.select(F.col("key"), F.col("eid").alias("id1"))
    b = p.select(F.col("key"), F.col("eid").alias("id2"))
    return (
        a.join(b, "key")
        .where(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .distinct()
    )


def block_pairs_salted(postings: DataFrame, chunk: int = 1024) -> DataFrame:
    """Same distinct (id1 < id2) pair set as :func:`block_pairs`, but with
    skewed mega-blocks SPLIT across tasks instead of funneled through
    one — the "salted repartitioning" of the north rule, for when a hot
    block must be *kept* (vs the drop/cap guards).

    Plan: each block's entities are hashed into ``ceil(size/chunk)``
    sub-chunks (expected size ≈ ``chunk``); the quadratic enumeration
    becomes a join of chunk-pairs ``(c1 <= c2)`` repartitioned on
    ``(key, c1, c2)``, so no single task ever materializes more than
    ~chunk² pairs regardless of block size. A 10^6-entity boilerplate
    block (5·10^11 pairs) thus spreads over ~5·10^5 bounded tasks where
    the plain self-join would hash every one of its rows to one
    reducer (AQE skew-split can divide a join partition, but every
    sub-partition still re-reads the full build side of the hot key).
    """
    sizes = postings.groupBy("key").agg(F.count("*").alias("_bs"))
    p = (
        postings.join(sizes, "key")
        .where(F.col("_bs") >= 2)
        .withColumn("_nc", F.ceil(F.col("_bs") / F.lit(chunk)).cast("int"))
        .withColumn("_c", F.pmod(F.xxhash64("eid"), F.col("_nc")).cast("int"))
    )
    chunks = p.groupBy("key", "_c").agg(F.collect_list("eid").alias("_ids"))
    left = chunks.select("key", F.col("_c").alias("c1"), F.col("_ids").alias("ids1"))
    right = chunks.select("key", F.col("_c").alias("c2"), F.col("_ids").alias("ids2"))
    cp = (
        left.join(right, "key")
        .where(F.col("c1") <= F.col("c2"))
        # spread the hot key's chunk-pairs across the cluster BEFORE the
        # quadratic explode — this repartition is the salt
        .repartition("key", "c1", "c2")
    )
    return (
        cp.select("c1", "c2", F.explode("ids1").alias("x"), "ids2")
        .select("c1", "c2", "x", F.explode("ids2").alias("y"))
        .where((F.col("c1") < F.col("c2")) | (F.col("x") < F.col("y")))
        .select(F.least("x", "y").alias("id1"), F.greatest("x", "y").alias("id2"))
        .distinct()
    )


def block_stats(postings: DataFrame) -> DataFrame:
    """Per-collection summary stats (reference AbstractBlockProcessing
    .stats, block_building.py:148-289) as one aggregate row. Median /
    stddev / entropy use engine-portable formulations (population
    stddev; Shannon entropy of the block-size distribution computed
    from explicit sums) so the DuckDB oracle reproduces them."""
    sizes = postings.groupBy("key").agg(F.count("*").alias("block_size"))
    # entropy via the algebraic identity
    #   -sum((s/T)*ln(s/T)) == ln(T) - sum(s*ln(s))/T
    # so everything is ONE hash aggregate over the (vocabulary-sized)
    # block-size table — no unpartitioned window funneling the whole
    # table through a single task for the normalizer
    tot = F.sum("block_size").cast("double")
    s_lns = F.sum(F.col("block_size") * F.log(F.col("block_size").cast("double")))
    return sizes.agg(
        F.count("*").alias("num_blocks"),
        F.sum("block_size").alias("total_assignments"),
        F.min("block_size").alias("min_block_size"),
        F.max("block_size").alias("max_block_size"),
        F.round(F.avg("block_size"), 6).alias("avg_block_size"),
        F.sum(
            (F.col("block_size") * (F.col("block_size") - 1) / 2).cast("long")
        ).alias("total_comparisons"),
        F.round(F.expr("percentile(block_size, 0.5)"), 6)
        .alias("median_block_size"),
        F.round(F.stddev_pop("block_size"), 6).alias("stddev_block_size"),
        F.round(F.log(tot) - s_lns / tot, 6).alias("entropy"),
    )
