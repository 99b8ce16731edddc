"""Toy-graph semantics for the driver-side sequential clusterers
(reference clustering.py:793-1634 re-expressed; see each docstring)."""

import pytest

from pyjedai_spark.operators import clustering as CL


def _clusters(df):
    got = {}
    for r in df.collect():
        got.setdefault(r["cluster_id"], set()).add(r["eid"])
    return sorted(sorted(v) for v in got.values())


def test_cut_clustering_separates_weakly_linked_groups(spark):
    edges = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.9), (1, 3, 0.9),
         (4, 5, 0.9), (5, 6, 0.9), (4, 6, 0.9), (3, 4, 0.55)],
        "id1 long, id2 long, sim double")
    out = CL.cut_clustering(edges, similarity_threshold=0.5, alpha=0.6)
    assert _clusters(out) == [[1, 2, 3], [4, 5, 6]]


def test_correlation_clustering_respects_initial_components(spark):
    edges = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.9), (4, 5, 0.9), (3, 4, 0.1)],
        "id1 long, id2 long, sim double")
    out = CL.correlation_clustering(edges, initial_threshold=0.5,
                                    lsi_iterations=50)
    cl = _clusters(out)
    # the 0.1 edge is below initial_threshold AND non-similar: the two
    # dense groups stay apart (objective rewards their separation)
    g1 = next(c for c in cl if 1 in c)
    g4 = next(c for c in cl if 4 in c)
    assert {2, 3} <= set(g1) and 4 not in g1
    assert 5 in g4


def test_kiraly_msm_prefers_higher_similarity(spark):
    # men {1,3}, women {2,4}: 1 prefers 2 (0.9); 3 also proposes to 2
    # (0.8) but is rejected, settles for 4 (0.7)
    edges = spark.createDataFrame(
        [(1, 2, 0.9), (3, 2, 0.8), (3, 4, 0.7)],
        "id1 long, id2 long, sim double")
    out = CL.kiraly_msm_clustering(edges, side1=[1, 3],
                                   similarity_threshold=0.1)
    got = {(r["id1"], r["id2"]) for r in out.collect()}
    assert got == {(1, 2), (3, 4)}


def test_row_column_one_to_one_assignment(spark):
    edges = spark.createDataFrame(
        [(1, 2, 0.9), (1, 4, 0.8), (3, 2, 0.85), (3, 4, 0.6)],
        "id1 long, id2 long, sim double")
    out = CL.row_column_clustering(edges, side1=[1, 3],
                                   similarity_threshold=0.5)
    got = {(r["id1"], r["id2"]) for r in out.collect()}
    # 1-1 matching; every side-1 id matched at most once
    assert len(got) == len({a for a, _ in got}) == len({b for _, b in got})
    assert got  # non-empty


def test_ricochet_centers_cover_all_matched_entities(spark):
    edges = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.7), (4, 5, 0.95)],
        "id1 long, id2 long, sim double")
    out = CL.ricochet_sr_clustering(edges, similarity_threshold=0.5)
    members = {r["eid"] for r in out.collect()}
    assert {1, 2, 3, 4, 5} <= members
    # 4-5 is the strongest pair: they share a cluster
    cl = _clusters(out)
    g45 = next(c for c in cl if 4 in c)
    assert 5 in g45


def _greedy(rows, threshold):
    """The reference UMC scan: edges with w > threshold in PQ order
    (1-w, id1, id2), each matched unless an endpoint already is."""
    matched, out = set(), []
    for id1, id2, w in sorted((r for r in rows if r[2] > threshold),
                              key=lambda r: (1 - r[2], r[0], r[1])):
        if id1 not in matched and id2 not in matched:
            matched |= {id1, id2}
            out.append((id1, id2, w))
    return sorted(out)


def _umc_routes(monkeypatch, path, n_edges):
    """Set DRIVER_EDGE_LIMIT for ``path`` and count the distributed
    rounds and driver finishes unique mapping then runs."""
    calls = {"rounds": 0, "finishes": 0}
    umc_round, driver = CL._umc_round, CL._driver_unique_mapping

    def count(key, fn):
        def counted(e):
            calls[key] += 1
            return fn(e)
        return counted

    monkeypatch.setattr(CL, "_umc_round", count("rounds", umc_round))
    monkeypatch.setattr(CL, "_driver_unique_mapping",
                        count("finishes", driver))
    if path == "distributed":
        monkeypatch.setattr(CL, "DRIVER_EDGE_LIMIT", 0)
    elif path == "composed":
        monkeypatch.setattr(CL, "DRIVER_EDGE_LIMIT", n_edges // 2)
    return calls


def _assert_route(calls, path):
    if path == "distributed":
        assert calls["rounds"] >= 1 and calls["finishes"] == 0, calls
    elif path == "composed":
        assert calls["rounds"] >= 1 and calls["finishes"] == 1, calls
    else:
        assert calls == {"rounds": 0, "finishes": 1}, calls


@pytest.mark.parametrize("path", ["distributed", "composed", "driver"])
def test_unique_mapping_distributed_equals_sequential(spark, monkeypatch,
                                                      path):
    """Locally-dominant rounds (DRIVER_EDGE_LIMIT 0), rounds finished
    by the driver scan (a limit of half the edge count) and the driver
    scan alone (the default limit) all give the sequential greedy
    output (Preis local-dominance), on a corpus with real weight ties."""
    from pyjedai_spark.operators import dedup as DD
    from pyjedai_spark.synth import webtext_df

    docs, _ = webtext_df(spark, n_docs=200, seed=41)
    edges = DD.ngram_jaccard_pairs(docs, n=3, threshold=0.3,
                                   id_col="eid", text_col="text") \
        .withColumnRenamed("jaccard", "sim").localCheckpoint()
    rows = [tuple(r) for r in edges.select("id1", "id2", "sim").collect()]
    want = _greedy(rows, 0.3)
    calls = _umc_routes(monkeypatch, path,
                        sum(1 for r in rows if r[2] > 0.3))
    got = sorted(tuple(r) for r in CL.unique_mapping_clustering(
        edges, similarity_threshold=0.3).collect())
    assert want and got == want
    _assert_route(calls, path)


@pytest.mark.parametrize("path", ["distributed", "composed", "driver"])
@pytest.mark.parametrize("rows,want", [
    # a repeated row is one edge to the greedy scan; the rounds once
    # joined the dominant pairs back to the edge set and emitted (1, 2)
    # twice
    ([(1, 2, 0.9), (1, 2, 0.9), (2, 3, 0.85), (3, 4, 0.8)],
     [(1, 2, 0.9), (3, 4, 0.8)]),
    # both ends of a self-loop are one vertex with one best row; the
    # rounds once required two and never matched it, so they ran out
    ([(1, 1, 0.95), (1, 2, 0.9), (2, 3, 0.85), (3, 4, 0.8)],
     [(1, 1, 0.95), (2, 3, 0.85)]),
], ids=["duplicate_row", "self_loop"])
def test_unique_mapping_odd_edge_rows_match_greedy(spark, monkeypatch, path,
                                                   rows, want):
    """Every route returns the greedy scan's matching on a duplicated
    edge row and on a self-loop."""
    edges = spark.createDataFrame(rows, "id1 long, id2 long, sim double")
    calls = _umc_routes(monkeypatch, path, len(rows))
    got = sorted(tuple(r) for r in CL.unique_mapping_clustering(
        edges, similarity_threshold=0.1).collect())
    assert got == _greedy(rows, 0.1) == want
    _assert_route(calls, path)
