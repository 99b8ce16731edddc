"""Web-scale deduplication operators — the north-rule additions.

These are the scalable stand-ins for the reference's token/q-gram/suffix
exact-key blocking (SURVEY §2.3 last row): MinHash-signature + LSH
band-hash groupBys, SimHash Hamming-ball candidates, rolling w-gram
fingerprints for long-span ("suffix-array style") duplicates, exact
hash dedup, and n-gram Jaccard verification.

Every signature here is built from PORTABLE hashes (md5 hex prefix ->
uint32, affine universal hashing mod a >2^32 prime), computed in
vectorized Arrow pandas-UDF kernels (MinHash, SimHash, and the verify
intersection), so a DuckDB oracle reproduces the same arithmetic
bit-for-bit — no RNG, no JVM-specific hash. The tests check each kernel
against an independent pure-column reference.

Scale design:
- signatures are computed scan-side (one pass, no shuffle);
- candidates come from groupBy(band) / groupBy(chunk) shuffles whose
  fan-out is bounded by band width, never an n^2 cross join;
- hot buckets (boilerplate pages) are size-capped before pair
  explosion, mirroring size-capped block purging (north rule); an
  uncapped bucket above ``block_building.SALT_BLOCK_SIZE`` rows is
  split into hash chunks and enumerated chunk pair by chunk pair.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import analysis as A
from ..functions import text as T
from ..functions.survivors import _best_members
from .block_building import block_pairs, keep_multi_entity_blocks

P = T.MERSENNE_PRIME_ISH  # 4294967311, prime > 2^32


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Repartition up to the session's default parallelism IF the plan
    currently has fewer partitions. Small-file scans collapse into 1-2
    input partitions (maxPartitionBytes binning), which serializes the
    per-doc signature compute; a 100TB scan already has thousands of
    partitions, so this is a no-op there — no unconditional shuffle of
    the full input."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df

# deterministic affine coefficients (a_i, b_i) for the universal hash
# family h_i(x) = (a_i * x + b_i) mod P.  Generated once from the decimal
# expansion of pi/e-flavored constants — fixed, public, seedless, and
# small enough that a_i * x < 2^63 never overflows a signed 64-bit long.
def minhash_coeffs(k: int) -> list[tuple[int, int]]:
    coeffs = []
    a, b = 1103515245, 12345  # classic LCG multipliers as the generator
    x = 48271
    for _ in range(k):
        x = (a * x + b) % 2147483647
        ai = (x % 99999989) + 1  # 1 .. ~1e8  -> ai * u32 < 2^63
        x = (a * x + b) % 2147483647
        bi = x % P
        coeffs.append((ai, bi))
    return coeffs


def exact_dedup(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text", ranks: DataFrame | None = None,
                rank_col: str = "rank") -> DataFrame:
    """Exact duplicate groups by content hash: (eid, fingerprint,
    group_size, is_duplicate, keep). The fingerprint is
    :func:`~pyjedai_spark.functions.analysis.doc_fingerprint` (NULL text
    hashes like empty text, so all-missing docs are one exact group, not
    silently dropped). ``keep`` marks the minimum id of each group — the
    canonical survivor a training pipeline retains.

    ``ranks`` (optional, (id_col, rank_col) numeric): tiered survivor
    policy — ``keep`` marks the HIGHEST-ranked member instead (ties and
    unranked/NaN members sort last, break to min id); degrades to min-id
    when every rank ties. For exact groups the texts are identical, so
    the ranking is only meaningful when it carries doc-level signal
    beyond the text (source tier, recency, url quality).

    Plan: the survivor rule's single groupBy(fingerprint) (map-side
    partial combine, ``group_size`` counted in the same aggregate), then
    a join back — never a Window.partitionBy(fingerprint), which would
    funnel every copy of a boilerplate page through one task."""
    h = A.doc_fingerprint(docs, id_col, text_col)
    groups = _best_members(h, "fingerprint", ranks, id_col, rank_col,
                           aggs=(F.count("*").alias("group_size"),))
    return h.join(groups, "fingerprint").select(
        "eid", "fingerprint",
        F.col("group_size"),
        (F.col("group_size") > 1).cast("int").alias("is_duplicate"),
        (F.col("eid") == F.col("survivor")).cast("int").alias("keep"),
    )


# Per-Python-worker token->u32 cache for the Arrow signature kernel.
# Webtext TOKENS are Zipfian, so the hit rate is high; shingle keys
# (shingle_size > 1, low reuse) skip the cache — caching them would pin
# hundreds of MB per reused worker for near-zero hit rate (r5 ADVICE).
_TOKEN_HASH_CACHE: dict = {}
_TOKEN_HASH_CACHE_CAP = 4_000_000


def _doc_hasher(use_cache: bool):
    """-> hash_doc(toks): one doc's token hashes as an int64 array, each
    the first 8 hex chars of the token's md5 — the portable u32 token
    hash both signature kernels and the DuckDB oracles share.
    ``use_cache`` routes lookups through ``_TOKEN_HASH_CACHE`` (unit
    tokens only). A closure, so the kernels that call it pickle it by
    value and Python workers never import this package."""
    cache = _TOKEN_HASH_CACHE if use_cache else None

    def hash_doc(toks):
        md5 = hashlib.md5
        hs = np.empty(len(toks), dtype=np.int64)
        if cache is None:
            for i, t in enumerate(toks):
                hs[i] = int(md5(t.encode("utf-8", "surrogatepass"))
                            .hexdigest()[:8], 16)
            return hs
        for i, t in enumerate(toks):
            v = cache.get(t)
            if v is None:
                v = int(md5(t.encode("utf-8", "surrogatepass"))
                        .hexdigest()[:8], 16)
                if len(cache) < _TOKEN_HASH_CACHE_CAP:
                    cache[t] = v
            hs[i] = v
        return hs

    return hash_doc


def _make_sig_udf(k: int, use_cache: bool = True):
    """Vectorized Arrow kernel: array<string> tokens -> array<long>[k]
    MinHash signature: the md5-u32 token hash, then for each of the k
    affine coeffs min over tokens of (a*h + b) mod P. numpy int64 is
    exact here because a <= 1e8 and h < 2^32 keep a*h+b below 2^63.
    NULL token arrays give a NULL signature (as the DuckDB oracles
    propagate NULL); EMPTY ones give the [P]*k sentinel. The tests pin
    it against an independent pure-column reference. A kernel, not a
    higher-order-function fold, because the fold is interpreted JVM
    code whose per-token array allocation makes signature compute
    GC-bound — measured NOT scaling with cores (2->8 cores gave only
    1.2x on the 250k-doc corpus, r5 scaling forensics in BENCH.md §3).
    Here the hot loop runs in numpy inside per-core Python workers: no
    shared-heap GC coupling, and (for unit tokens) a per-worker
    token-hash cache exploits the Zipfian token law."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    coeffs = minhash_coeffs(k)
    A = np.array([a for a, _ in coeffs], dtype=np.int64)
    B = np.array([b for _, b in coeffs], dtype=np.int64)
    empty_sig = [P] * k
    hash_doc = _doc_hasher(use_cache)

    # annotations attached as OBJECTS (not strings) below: pandas is
    # imported lazily here, so the usual `pd.Series` string annotations
    # from `from __future__ import annotations` would not resolve
    # against module globals during pandas_udf type inference
    def sig_udf(tok_series):
        out = []
        for toks in tok_series:
            if toks is None:
                out.append(None)
            elif len(toks) == 0:
                out.append(empty_sig)
            else:
                hs = hash_doc(toks)
                out.append(((hs[:, None] * A + B) % P).min(axis=0))
        return pd.Series(out)

    sig_udf.__annotations__ = {"tok_series": pd.Series, "return": pd.Series}
    return pandas_udf(sig_udf, "array<long>")


def minhash_signatures(docs: DataFrame, k: int = 32, shingle_size: int = 1,
                       id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(eid, sig array<long>[k]) MinHash signature over token (or
    token-shingle) sets — one scan, no shuffle; the hash + min fold
    runs in the vectorized numpy kernel :func:`_make_sig_udf`."""
    toks = T.tokens(F.col(text_col))
    if shingle_size > 1:
        toks = F.array_distinct(
            T.word_shingles(T.tokens(F.col(text_col), distinct=False), shingle_size)
        )
    sig_udf = _make_sig_udf(k, use_cache=(shingle_size == 1))
    return ensure_parallelism(docs).select(F.col(id_col).alias("eid"),
                                           sig_udf(toks).alias("sig"))


def lsh_bands(sigs: DataFrame, bands: int, rows: int) -> DataFrame:
    """(eid, band_idx, band_hash): band_hash = md5 of the '-'-joined
    signature slice — the LSH band-hash groupBy key."""
    assert bands * rows <= 256
    out = sigs.select(
        "eid",
        F.posexplode(
            F.array(*[
                F.md5(F.array_join(F.slice("sig", b * rows + 1, rows), "-"))
                for b in range(bands)
            ])
        ).alias("band_idx", "band_hash"),
    )
    return out


def _band_keys(sigs: DataFrame, bands: int, rows: int) -> DataFrame:
    """(key, eid) with key = "<band_idx>|<band_hash>": the LSH bucket
    key of the batch candidate join AND of the streaming band stores,
    which persist it — the format must stay byte-identical."""
    return lsh_bands(sigs, bands, rows).select(
        F.concat_ws("|", F.col("band_idx"), F.col("band_hash")).alias("key"),
        "eid")


def lsh_candidate_pairs(docs: DataFrame, k: int = 32, bands: int = 8,
                        rows: int | None = None, shingle_size: int = 1,
                        id_col: str = "doc_id", text_col: str = "text",
                        max_bucket: int | None = 1000) -> DataFrame:
    """MinHash-LSH candidate pairs (id1<id2, distinct): docs agreeing on
    at least one full band. ``max_bucket`` size-caps hot buckets
    (boilerplate shingle sets) before the within-bucket self-join —
    the size-capped mega-block guard of the north rule. ``None`` keeps
    every bucket: :func:`..block_building.block_pairs` splits each
    bucket above ``SALT_BLOCK_SIZE`` rows into hash chunks enumerated
    chunk pair by chunk pair (identical output, skew-proof plan)."""
    rows = rows or k // bands
    # Materialize the signature table ONCE. The band-key table feeds
    # both self-join sides, and each un-materialized reference would
    # re-run the whole signature pass (measured 249s -> 9s at sf0.1).
    # At cluster scale this materialization is the per-stage signature
    # checkpoint the pipeline writes to Iceberg anyway, and it is 8x
    # smaller than checkpointing the exploded band table.
    sigs = minhash_signatures(docs, k, shingle_size, id_col, text_col) \
        .localCheckpoint()
    b = _band_keys(sigs, bands, rows)
    return block_pairs(b, max_block_size=max_bucket)


def _make_inter_udf():
    """Vectorized Arrow kernel for the verify stages of the dedup and
    join operators: (id1, t1, id2, t2) -> |set(t1) ∩ set(t2)| as a
    nullable long, NULL when either array is NULL — the value
    ``size(array_intersect(t1, t2))`` gives, which the tests use as the
    reference (set intersection dedups, so non-distinct inputs agree).

    A kernel for the same reason as :func:`_make_sig_udf`: the
    ``array_intersect`` expression allocates a fresh JVM hash set per
    row on the shared executor heap, which the r5 scaling forensics
    measured at only 2.2-2.4x throughput on 4x cores (BENCH.md §3 —
    the named residual engine bottleneck). CPython set intersection in
    per-core worker processes has no shared-heap GC coupling. A
    per-BATCH memo keyed by doc id amortizes set construction across
    the many pairs each doc appears in, with memory bounded by one
    Arrow batch."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def inter_udf(id1s, t1s, id2s, t2s):
        sets: dict = {}

        def to_set(key, toks):
            s = sets.get(key)
            if s is None:
                s = set(toks)
                sets[key] = s
            return s

        out = []
        for i1, t1, i2, t2 in zip(id1s, t1s, id2s, t2s):
            if t1 is None or t2 is None:
                out.append(None)
            else:
                a, b = to_set(i1, t1), to_set(i2, t2)
                # iterate the smaller side: set.__and__ already does,
                # but be explicit so the cost is min(|a|,|b|)
                out.append(len(a & b) if len(a) <= len(b) else len(b & a))
        return pd.Series(out, dtype="Int64")

    inter_udf.__annotations__ = {"id1s": pd.Series, "t1s": pd.Series,
                                 "id2s": pd.Series, "t2s": pd.Series,
                                 "return": pd.Series}
    return pandas_udf(inter_udf, "long")


def jaccard_verify(pairs: DataFrame, docs: DataFrame, threshold: float,
                   shingle_size: int = 1, id_col: str = "doc_id",
                   text_col: str = "text", round_to: int = 6) -> DataFrame:
    """Exact token(-shingle) Jaccard on candidate pairs; keep >= threshold.
    (True Jaccard inter/union — the verification step of a MinHash
    pipeline, not the reference's quirky matcher form.)

    The shingle table is built ONCE over only the docs that appear in a
    candidate pair (semi-join) and materialized before the two
    endpoint joins: without that, each join side re-tokenizes the FULL
    corpus (2x the scan + shingle work — the dominant verify cost at
    2M docs), and at crawl scale the materialization is bounded by the
    candidate set, not the corpus.

    The intersection size comes from the vectorized kernel
    :func:`_make_inter_udf`; the union/round/threshold arithmetic stays
    JVM-side."""
    # Materialize the pair set ONCE: it feeds two plan branches (the
    # cand_ids semi-join driving tdf below, and the final endpoint
    # joins), and when the caller hands a lazy candidate plan (the
    # bench's LSH band self-join) each branch would re-run the whole
    # candidate enumeration. The pair table is (id1, id2) only — the
    # lightweight proxy a 100TB run materializes anyway between stages.
    pairs = pairs.localCheckpoint()
    toks = T.tokens(F.col("_txt"))
    if shingle_size > 1:
        toks = F.array_distinct(
            T.word_shingles(T.tokens(F.col("_txt"), distinct=False), shingle_size)
        )
    cand_ids = (pairs.select(F.col("id1").alias("_id"))
                .union(pairs.select(F.col("id2").alias("_id")))
                .distinct())
    tdf = (docs.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_txt"))
           .join(cand_ids, "_id", "left_semi")
           .select("_id", toks.alias("_t"))
           .localCheckpoint())
    j = (
        pairs.join(tdf.select(F.col("_id").alias("id1"), F.col("_t").alias("_t1")), "id1")
        .join(tdf.select(F.col("_id").alias("id2"), F.col("_t").alias("_t2")), "id2")
    )
    inter = _make_inter_udf()("id1", "_t1", "id2", "_t2").cast("double")
    union = (F.size("_t1") + F.size("_t2") - inter)
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        j.withColumn("jaccard", F.round(jac, round_to))
        .where(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )


def minhash_dedup_pairs(docs: DataFrame, threshold: float = 0.8, k: int = 32,
                        bands: int = 8, shingle_size: int = 1,
                        id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """LSH candidates -> exact-Jaccard verify: the standard near-dup
    pipeline (MinHash generate, verify, cluster upstream)."""
    cands = lsh_candidate_pairs(docs, k, bands, None, shingle_size, id_col, text_col)
    return jaccard_verify(cands, docs, threshold, shingle_size, id_col, text_col)


# ------------------------------------------------------------- SimHash

SIMHASH_BITS = 32


def _make_simhash_udf():
    """Vectorized Arrow kernel: array<string> tokens -> 32-bit SimHash
    as a nullable long; NULL for NULL or EMPTY token arrays (the caller
    drops those docs, as the oracle's unnest does).

    The md5-u32 token hash of :func:`_make_sig_udf` (unit tokens, so
    through the shared token-hash cache), then bit_j set iff
    2*ones_j - n > 0 — order-independent sums; the tests pin it against
    an independent 32-conditional-sum column reference. A kernel for
    the same reason as :func:`_make_sig_udf`: the signature comes from
    one scan with ZERO shuffle (an aggregate form explodes every token
    hash and exchanges per-eid partials), and the hot loop runs off the
    shared executor heap in per-core Python workers."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    bit_idx = np.arange(SIMHASH_BITS, dtype=np.int64)
    weights = np.int64(1) << bit_idx
    hash_doc = _doc_hasher(use_cache=True)

    def simhash_udf(tok_series):
        out = []
        for toks in tok_series:
            if toks is None or len(toks) == 0:
                out.append(None)
                continue
            hs = hash_doc(toks)
            ones = ((hs[:, None] >> bit_idx) & 1).sum(axis=0)
            out.append(int(weights[2 * ones - len(toks) > 0].sum()))
        return pd.Series(out, dtype="Int64")

    simhash_udf.__annotations__ = {"tok_series": pd.Series, "return": pd.Series}
    return pandas_udf(simhash_udf, "long")


def simhash_signatures(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """(eid, simhash long): 32-bit SimHash over distinct tokens, computed
    in one scan with no shuffle by :func:`_make_simhash_udf`.

    bit_j(sig) = 1  iff  sum_tokens(2*bit_j(h(token)) - 1) > 0.

    Docs with NULL/empty token arrays get no row."""
    sig_udf = _make_simhash_udf()
    # drop NULL/empty-token docs BEFORE the kernel with a plain column
    # predicate (size(tokens) > 0 — NULL text gives a NULL predicate,
    # dropped): filtering on the kernel OUTPUT instead lets Catalyst
    # push that filter below ensure_parallelism's exchange and evaluate
    # the UDF twice (observed in the plan)
    toks = T.tokens(F.col(text_col))
    return (ensure_parallelism(docs)
            .where(F.size(toks) > 0)
            .select(F.col(id_col).alias("eid"),
                    sig_udf(toks).alias("simhash")))


def simhash_candidate_pairs(docs: DataFrame, max_hamming: int = 3,
                            chunks: int = 4, id_col: str = "doc_id",
                            text_col: str = "text",
                            max_bucket: int | None = 1000) -> DataFrame:
    """Hamming-ball candidates by pigeonhole banding: split the 32-bit
    signature into ``chunks`` 8-bit chunks; any pair within Hamming
    distance <= chunks-1 shares at least one exact chunk. Verified with
    bit_count(xor) <= max_hamming. Returns (id1, id2, hamming)."""
    # Materialize signatures ONCE: sigs feeds both sides of the
    # within-chunk self-join below, and without a barrier each side
    # re-runs the whole signature scan. Same reasoning as the minhash
    # sigs checkpoint.
    sigs = simhash_signatures(docs, id_col, text_col).localCheckpoint()
    width = SIMHASH_BITS // chunks
    mask = (1 << width) - 1
    b = sigs.select(
        "eid", "simhash",
        F.posexplode(F.array(*[
            F.shiftright(F.col("simhash"), c * width).bitwiseAND(F.lit(mask))
            for c in range(chunks)
        ])).alias("chunk_idx", "chunk_val"),
    ).select(
        F.concat_ws("|", F.col("chunk_idx"), F.col("chunk_val")).alias("key"),
        "eid", "simhash",
    )
    if max_bucket is not None:
        b = keep_multi_entity_blocks(b, 2, max_bucket)
    a1 = b.select("key", F.col("eid").alias("id1"), F.col("simhash").alias("s1"))
    a2 = b.select("key", F.col("eid").alias("id2"), F.col("simhash").alias("s2"))
    pairs = (
        a1.join(a2, "key")
        .where(F.col("id1") < F.col("id2"))
        .select("id1", "id2",
                F.bit_count(F.col("s1").bitwiseXOR(F.col("s2"))).alias("hamming"))
        .distinct()
    )
    return pairs.where(F.col("hamming") <= max_hamming)


# ------------------------------------------- long-span / substring dedup

def substring_fingerprint_pairs(docs: DataFrame, w: int = 20,
                                id_col: str = "doc_id", text_col: str = "text",
                                max_bucket: int | None = 1000) -> DataFrame:
    """Long-span duplicate candidates: docs sharing any w-token window
    fingerprint (rolling shingle hash). This is the scalable stand-in
    for suffix-array substring dedup (north rule): a shared w-token
    window == a shared substring of length >= w tokens.

    Returns (id1, id2, shared_windows).
    """
    sh = ensure_parallelism(docs).select(
        F.col(id_col).alias("eid"),
        F.explode(
            F.array_distinct(
                T.word_shingles(T.tokens(F.col(text_col), distinct=False), w)
            )
        ).alias("win"),
    ).select(F.md5("win").alias("key"), "eid").distinct() \
        .localCheckpoint()  # feeds both self-join sides (and the bucket
    # cap's count branch): un-materialized, each reference re-runs the
    # tokenize + w-shingle + md5 + distinct pass over the full corpus
    if max_bucket is not None:
        sh = keep_multi_entity_blocks(sh, 2, max_bucket)
    a1 = sh.select("key", F.col("eid").alias("id1"))
    a2 = sh.select("key", F.col("eid").alias("id2"))
    return (
        a1.join(a2, "key")
        .where(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count("*").alias("shared_windows"))
    )


def duplicate_spans(docs: DataFrame, w: int = 10,
                    id_col: str = "doc_id", text_col: str = "text",
                    min_span_tokens: int | None = None) -> DataFrame:
    """Maximal duplicated spans between doc pairs — the long-span
    output suffix-array dedup exists for (north rule): every maximal
    run of consecutive shared w-token windows between two docs is
    merged into one span.

    Returns (id1, id2, start1, start2, span_tokens): 0-based token
    offsets in each doc and the merged span length in tokens
    (>= ``min_span_tokens``, default w).

    Plan: positional rolling fingerprints (posexplode, one scan) ->
    fingerprint equi-join (the only all-to-all step, keyed by window
    hash exactly like substring_fingerprint_pairs) -> gaps-and-islands
    merge per (id1, id2, diagonal) via a window function. The window
    partitions by doc PAIR + diagonal, so partition size is bounded by
    one pair's match count — no global or per-doc hot partition.
    """
    min_span = w if min_span_tokens is None else min_span_tokens
    toks = T.tokens(F.col(text_col), distinct=False)
    pw = ensure_parallelism(docs).select(
        F.col(id_col).alias("eid"),
        F.posexplode(T.word_shingles(toks, w)).alias("pos", "win"),
    ).select("eid", "pos", F.md5("win").alias("key")) \
        .localCheckpoint()  # feeds both fingerprint-join sides — see
    # substring_fingerprint_pairs
    a1 = pw.select("key", F.col("eid").alias("id1"), F.col("pos").alias("pos1"))
    a2 = pw.select("key", F.col("eid").alias("id2"), F.col("pos").alias("pos2"))
    m = (
        a1.join(a2, "key")
        .where(F.col("id1") < F.col("id2"))
        .select("id1", "id2", "pos1", "pos2")
        .distinct()
        .withColumn("d", F.col("pos1") - F.col("pos2"))
    )
    from pyspark.sql import Window

    isl = Window.partitionBy("id1", "id2", "d").orderBy("pos1")
    return (
        m.withColumn("grp", F.col("pos1") - F.row_number().over(isl))
        .groupBy("id1", "id2", "d", "grp")
        .agg(F.min("pos1").alias("start1"), F.max("pos1").alias("_end1"))
        .select(
            "id1", "id2",
            F.col("start1").cast("long"),
            (F.col("start1") - F.col("d")).cast("long").alias("start2"),
            (F.col("_end1") - F.col("start1") + w).cast("long")
            .alias("span_tokens"),
        )
        .where(F.col("span_tokens") >= min_span)
    )


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3, threshold: float = 0.8,
                        id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """n-gram-shingle Jaccard near-dup via the token-join pattern (no
    LSH; exact — the at-scale baseline for LSH recall validation):
    explode shingles -> equi-join -> count common -> sizes -> filter."""
    sh = docs.select(
        F.col(id_col).alias("eid"),
        F.array_distinct(
            T.word_shingles(T.tokens(F.col(text_col), distinct=False), n)
        ).alias("sh"),
    ).localCheckpoint()  # feeds sizes + both exploded self-join sides:
    # four re-tokenize passes without a barrier
    sizes = sh.select("eid", F.size("sh").alias("n_sh"))
    ex = sh.select("eid", F.explode("sh").alias("g"))
    a1 = ex.select(F.col("eid").alias("id1"), "g")
    a2 = ex.select(F.col("eid").alias("id2"), "g")
    common = (
        a1.join(a2, "g").where(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2").agg(F.count("*").alias("common"))
    )
    out = (
        common.join(sizes.select(F.col("eid").alias("id1"),
                                 F.col("n_sh").alias("n1")), "id1")
        .join(sizes.select(F.col("eid").alias("id2"),
                           F.col("n_sh").alias("n2")), "id2")
        .withColumn(
            "jaccard",
            F.round(F.col("common") / (F.col("n1") + F.col("n2") - F.col("common")), 6),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )
    return out


def cluster_survivors(members: DataFrame, ranks: DataFrame,
                      id_col: str = "eid", cluster_col: str = "cluster_id",
                      rank_col: str = "rank",
                      descending: bool = True) -> DataFrame:
    """Tiered survivor selection: re-pick each duplicate cluster's
    canonical member by an explicit per-doc ranking instead of the
    min-id default every dedup operator here uses.

    ``members``: (id_col, cluster_col) cluster assignments — exact
    fingerprint groups, MinHash-CC clusters, URL groups, anything.
    ``ranks``: (id_col, rank_col) numeric ranking — quality score,
    source-tier priority (curated > crawl), recency, length. The
    survivor is the best-ranked member (highest when ``descending``,
    lowest otherwise); ties and unranked members (rank NULL or NaN, or
    id missing from ``ranks`` — all sort last) break to the minimum id,
    so output is deterministic and degrades to the min-id policy when
    every rank ties. Returns (eid, cluster_id, survivor, is_survivor).

    This is the keep-the-best-copy policy large training-data pipelines
    apply across dumps/tiers (keep the curated or highest-quality copy
    of a duplicate group, not an arbitrary one); composes with
    ``exact_dedup``/``minhash_dedup_pipeline``/``corpus_clean_pipeline``
    output by feeding their cluster columns in as ``members``.

    Scale: the survivor rule shared with ``exact_dedup`` and
    ``url_dedup`` (:func:`~pyjedai_spark.functions.survivors._best_members`)
    — one map-side-combining groupBy(cluster), then one hash-join back
    on the cluster key. Ids may be any orderable type (string urls
    included); they are never cast.
    """
    m = members.select(F.col(id_col).alias("eid"),
                       F.col(cluster_col).alias("cluster_id"))
    best = _best_members(m, "cluster_id", ranks, id_col, rank_col,
                         descending)
    return m.join(best, "cluster_id").select(
        "eid", "cluster_id", "survivor",
        (F.col("eid") == F.col("survivor")).cast("int").alias("is_survivor"))
