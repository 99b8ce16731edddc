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
    """docs + an array<string> key expression -> distinct (key, eid)
    postings, hash-partitioned by key and sorted by (key, eid).

    Duplicates are dropped by a row_number over that sort, not by a
    distinct, so the per-key window of :func:`keep_multi_entity_blocks`
    after it needs no second exchange and no second sort. A distinct
    after the key exchange would also save the exchange, but its two
    hash maps and the window's sort would share one task, tripling the
    task's peak execution memory.
    """
    first = Window.partitionBy("key", "eid").orderBy("eid")
    return (
        docs.select(F.col(id_col).alias("eid"), F.explode(keys_col).alias("key"))
        .repartition("key")
        .withColumn("_rn", F.row_number().over(first))
        .where(F.col("_rn") == 1)
        .drop("_rn")
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


# Blocks above this many postings are enumerated chunk pair by chunk
# pair (BlockSplit, Kolb, Thor & Rahm, ICDE 2012). A plain key
# self-join puts a block's whole bs^2/2 expansion into ONE join task
# (AQE skew-split cannot fire: the input partition is tiny, the blowup
# is at join output). 1024^2/2 pairs is the work of ~500 average
# blocks, a balanced cutoff at any scale.
SALT_BLOCK_SIZE = 1024


def _block_pair_rows(p: DataFrame, entity_cols=(), block_cols=(),
                     spread: bool = False) -> DataFrame:
    """One row per (block, id1 < id2) pair of postings ``p`` (key, eid,
    bs, ...): ``key``, ``id1``, ``id2``, each ``entity_cols`` column for
    both sides (``<c>1``, ``<c>2``) and each ``block_cols`` column once.

    Blocks of ``bs <= SALT_BLOCK_SIZE`` go through the plain key
    self-join; ``spread`` first hashes its left side over
    ``spark.sql.shuffle.partitions`` partitions by (key, id1), so a
    broadcast join's output fans out even when ``p`` arrives in 1-2
    partitions. Larger blocks are split into ``ceil(bs /
    SALT_BLOCK_SIZE)`` hash chunks and enumerated per chunk pair
    ``(c1 <= c2)``, each chunk pair its own task, so no task expands
    more than ~SALT_BLOCK_SIZE^2 pairs however large the block.
    """
    def side(src, i):
        return src.select("key", F.col("eid").alias(f"id{i}"),
                          *[F.col(c).alias(f"{c}{i}") for c in entity_cols],
                          *(block_cols if i == 1 else []))

    n = int(p.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    small = p.where(F.col("bs") <= SALT_BLOCK_SIZE)
    a = side(small, 1)
    if spread:
        a = a.repartition(n, "key", "id1")
    plain = a.join(side(small, 2), "key").where(F.col("id1") < F.col("id2"))

    hot = p.where(F.col("bs") > SALT_BLOCK_SIZE)
    nc = F.ceil(F.col("bs") / F.lit(SALT_BLOCK_SIZE))
    chunks = hot.groupBy(
        "key", *block_cols,
        F.pmod(F.xxhash64("eid"), nc).alias("c")
    ).agg(F.collect_list(F.struct("eid", *entity_cols)).alias("m"))
    cp = (
        chunks.select("key", *block_cols, F.col("c").alias("c1"),
                      F.col("m").alias("m1"))
        .join(chunks.select("key", F.col("c").alias("c2"),
                            F.col("m").alias("m2")), "key")
        .where(F.col("c1") <= F.col("c2"))
        # one task per chunk pair BEFORE the quadratic explode; the
        # explicit count keeps AQE from coalescing the (tiny,
        # pre-explode) chunk pairs back into one task
        .repartition(n, "key", "c1", "c2")
        .select("key", *block_cols, "c1", "c2",
                F.explode("m1").alias("x"), "m2")
        .select("key", *block_cols, "c1", "c2", "x",
                F.explode("m2").alias("y"))
        .where((F.col("c1") < F.col("c2")) | (F.col("x.eid") < F.col("y.eid")))
    )
    lo = F.col("x.eid") < F.col("y.eid")
    s1 = F.when(lo, F.col("x")).otherwise(F.col("y"))
    s2 = F.when(lo, F.col("y")).otherwise(F.col("x"))
    split = cp.select(
        "key", s1["eid"].alias("id1"),
        *[s1[c].alias(f"{c}1") for c in entity_cols], *block_cols,
        s2["eid"].alias("id2"), *[s2[c].alias(f"{c}2") for c in entity_cols])
    return plain.unionByName(split)


def block_pairs(postings: DataFrame,
                max_block_size: int | None = None) -> DataFrame:
    """All distinct comparisons implied by a block collection, as an edge
    list (id1 < id2) — the Dirty-ER cardinality n(n-1)/2 per block
    (datamodel.py:496-506) materialized as a within-key self-join, never a
    collect_list + python combinations. CCER postings (a ``side``
    column) give the D1 x D2 pairs instead (``ccer.ccer_pairs``).

    Scale note: blocks above ``SALT_BLOCK_SIZE`` postings are split
    into hash chunks and enumerated chunk pair by chunk pair
    (:func:`_block_pair_rows`), so a hot block is kept and spread over
    bounded tasks. ``max_block_size`` is a separate guard that *drops*
    keys whose block size exceeds it.
    """
    if _is_ccer(postings):
        return ccer_pairs(postings)
    p = keep_multi_entity_blocks(postings.drop("bs"), 2, max_block_size,
                                 keep_size=True)
    return _block_pair_rows(p).select("id1", "id2").distinct()


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
