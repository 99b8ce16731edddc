"""Per-row invariant (BASELINE.json input_hint): byte-identical
extracted text per url — the Arrow pandas UDF must equal a pandas
.apply of the same pure-Python function. Plus clustering correctness
vs networkx and MinHash-LSH recall vs exact Jaccard."""

import random

import networkx as nx
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from pyjedai_spark.datamodel import extract_text_py, extract_text_udf
from pyjedai_spark.operators import clustering as CL
from pyjedai_spark.operators.dedup import minhash_dedup_pairs, ngram_jaccard_pairs
from pyjedai_spark.synth import generate_webtext, webtext_df


def test_extraction_byte_identical(spark):
    rows, _ = generate_webtext(n_docs=200, seed=3)
    sdf = spark.createDataFrame(
        [(r["eid"], bytearray(r["html"])) for r in rows], "eid long, html binary")
    got = {r["eid"]: r["t"] for r in
           sdf.select("eid", extract_text_udf(F.col("html")).alias("t")).collect()}
    ref = pd.Series({r["eid"]: r["html"] for r in rows}).map(extract_text_py)
    for eid, expect in ref.items():
        assert got[eid] == expect, f"doc {eid} extraction differs"
        # and the invariant vs the generator's own text column
        assert got[eid] == rows[eid]["text"]


@pytest.mark.parametrize("path", ["distributed", "driver", "composed"])
def test_connected_components_matches_networkx(spark, monkeypatch, path):
    """Every CC path against networkx: all rounds distributed
    (DRIVER_EDGE_LIMIT 0), the driver finish alone (the default limit),
    and a driver finish composed onto a distributed round's labels (a
    limit one below the input's distinct edge count)."""
    finishes = []
    driver_labels = CL._driver_labels
    monkeypatch.setattr(CL, "_driver_labels",
                        lambda e: finishes.append(e) or driver_labels(e))
    schema = StructType([StructField("eid", LongType()),
                         StructField("cluster_id", LongType())])
    rng = random.Random(5)
    for trial, (n, m) in enumerate([(60, 40), (100, 90), (50, 200)]):
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        # include a long path (worst case for naive min propagation)
        edges += [(i + 200, i + 201) for i in range(40)]
        # duplicates in both orientations and self-loops
        edges += edges[:5] + [(b, a) for a, b in edges[5:10]] + [(7, 7),
                                                                  (300, 300)]
        nodes = list(range(n)) + [250, 251, 300]
        distinct = {(min(a, b), max(a, b)) for a, b in edges if a != b}
        if path == "distributed":
            monkeypatch.setattr(CL, "DRIVER_EDGE_LIMIT", 0)
        elif path == "composed":
            monkeypatch.setattr(CL, "DRIVER_EDGE_LIMIT", len(distinct) - 1)
        g = nx.Graph(list(distinct))
        g.add_nodes_from(nodes)
        expect = sorted((v, min(comp)) for comp in nx.connected_components(g)
                        for v in comp)
        out = CL.connected_components(
            spark.createDataFrame(edges, "id1 long, id2 long"),
            nodes=spark.createDataFrame([(v,) for v in nodes], "eid long"))
        assert out.schema == schema, f"trial {trial}: {out.schema}"
        assert sorted(tuple(r) for r in out.collect()) == expect, \
            f"trial {trial}"
    assert len(finishes) == (0 if path == "distributed" else 3)


def test_minhash_lsh_recall_vs_exact(spark):
    docs, _ = webtext_df(spark, n_docs=300, seed=23, dup_fraction=0.4,
                         mutation_rate=0.06)
    exact = {(r["id1"], r["id2"])
             for r in ngram_jaccard_pairs(docs, n=3, threshold=0.7,
                                          id_col="eid").collect()}
    lsh = {(r["id1"], r["id2"])
           for r in minhash_dedup_pairs(docs, threshold=0.7, k=64, bands=32,
                                        shingle_size=3, id_col="eid").collect()}
    assert exact, "fixture produced no exact near-dup pairs"
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.99, f"LSH recall vs exact {recall:.4f}"
    # LSH must not hallucinate: verified pairs are a subset of exact
    assert lsh <= exact
