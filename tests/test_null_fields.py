"""Null-field robustness: real crawl data has null urls/text; every doc
must still be labeled exactly once by the cleaning pipeline (no silent
vanishing through NULL join keys or NULL quality gates), and misuse of
skew-sensitive knobs must fail loudly instead of silently degrading.
"""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (LongType, StringType, StructField, StructType)

SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("url", StringType()),
    StructField("text", StringType()),
])

GOOD = ("the quick brown fox jumps over the lazy dog and then runs far "
        "away to the hills where it meets another fox and they talk about "
        "the weather for a while before going home to sleep near the den "
        "with all of their friends and family members ") * 3


def _corpus(spark):
    rows = [
        (1, "http://a.example/x", GOOD + "one"),
        (2, "http://a.example/x?utm_source=z", GOOD + "two"),  # url dup of 1
        (3, None, GOOD + "three"),           # null url — must survive stage 1
        (4, None, GOOD + "three"),           # null url + exact dup of 3
        (5, "http://b.example/y", None),     # null text — low_quality, labeled
        (6, None, None),                     # null url AND null text
        (7, "http://c.example/z", "short"),  # fails gopher gate
        (8, None, None),                     # second all-null doc (exact dup of 6)
    ]
    return spark.createDataFrame(rows, SCHEMA)


def test_url_dedup_null_urls_survive(spark):
    from pyjedai_spark.functions.urls import url_dedup

    out = url_dedup(_corpus(spark)).orderBy("eid").collect()
    by_id = {r["eid"]: r for r in out}
    assert len(out) == 8  # every doc gets exactly one row
    # null-url docs are their own singletons, never dups of each other
    for i in (3, 4, 6, 8):
        assert by_id[i]["url_canon"] is None
        assert by_id[i]["survivor"] == i
        assert by_id[i]["is_dup"] == 0
    # real url dup still detected
    assert by_id[2]["is_dup"] == 1 and by_id[2]["survivor"] == 1


def test_exact_dedup_null_text_groups_as_empty(spark):
    """Null text fingerprints like empty text, in exact_dedup and in
    source_stats' corpus-wide duplicate fraction alike."""
    from pyjedai_spark.functions.analysis import source_stats
    from pyjedai_spark.operators.dedup import exact_dedup

    out = exact_dedup(_corpus(spark)).collect()
    assert len(out) == 8
    by_id = {r["eid"]: r for r in out}
    # the two all-null-text docs form one exact group
    assert by_id[6]["fingerprint"] == by_id[8]["fingerprint"]
    assert by_id[6]["group_size"] == 3  # 5, 6, 8 all have null/empty... no:
    # doc 5 has null text too -> same empty fingerprint as 6 and 8
    assert by_id[5]["fingerprint"] == by_id[6]["fingerprint"]
    assert by_id[5]["keep"] == 1 and by_id[6]["keep"] == 0
    # every doc counted; dups are 3/4 (same text) and 5/6/8 (null text)
    stats = source_stats(_corpus(spark).withColumn("source", F.lit("s")))
    assert [(r["n_docs"], r["dup_frac"]) for r in stats.collect()] \
        == [(8, 0.625)]


def test_gopher_quality_null_text_fails_gate(spark):
    from pyjedai_spark.functions.analysis import gopher_quality

    out = gopher_quality(_corpus(spark)).collect()
    assert len(out) == 8
    passes = {r["eid"]: r["passes"] for r in out}
    assert all(v is not None for v in passes.values())
    assert passes[5] == 0 and passes[6] == 0 and passes[7] == 0
    assert passes[1] == 1


def test_corpus_clean_labels_every_doc_exactly_once(spark):
    from pyjedai_spark.pipeline import corpus_clean_pipeline

    out = corpus_clean_pipeline(_corpus(spark), url_col="url").collect()
    labels = {r["eid"]: r["status"] for r in out}
    assert sorted(labels) == [1, 2, 3, 4, 5, 6, 7, 8], (
        "every input doc must appear exactly once")
    assert labels[2] == "url_dup"
    assert labels[4] == "exact_dup"          # null-url twin caught downstream
    assert labels[7] == "low_quality"
    # null-text docs: first survivor of the empty-fingerprint group is
    # exact-kept then fails the quality gate; the rest are exact dups
    assert labels[5] == "low_quality"
    assert labels[6] == "exact_dup" and labels[8] == "exact_dup"
    assert labels[1] == "kept"
    # doc 3 shares nearly all shingles with doc 1 -> near-dup, not lost
    assert labels[3] == "near_dup"


def test_per_key_top_n_rejects_non_string_ord(spark):
    from pyjedai_spark.operators.sampling import per_key_top_n

    df = spark.range(100).select(
        (F.col("id") % 5).alias("k"), F.col("id").alias("v"))
    with pytest.raises(ValueError, match="string ord column"):
        per_key_top_n(df, "k", "v", 3)


def test_per_key_top_n_arbitrary_strings_match_naive_window(spark):
    """The prefix-histogram split must be bit-identical to the naive
    per-key window for ARBITRARY (variable-length, mixed-alphabet)
    string order columns — the regime the old hex-decode bucketing got
    silently wrong."""
    from pyspark.sql import Window

    from pyjedai_spark.operators.sampling import per_key_top_n

    vals = ["Zz", "ab", "aB0", "z", "0x9", "ZZtop", "a", "~", "!", "abc-d"]
    rows = [(i % 3, f"{vals[i % len(vals)]}#{i}") for i in range(500)]
    df = spark.createDataFrame(rows, ["k", "o"])
    got = per_key_top_n(df, "k", "o", 7)
    w = Window.partitionBy("k").orderBy("o")
    want = (df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= 7).drop("_rn"))
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))
