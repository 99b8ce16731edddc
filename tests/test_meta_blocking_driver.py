"""Meta-blocking's driver finish (``comparison_cleaning._driver_graph``)
against its Spark plan: the same edges, weights and pruned pairs on
both routes, the CNP tie-break, empty postings, and the job budget of
the driver route."""

import pytest

from pyjedai_spark.operators import block_building as BB
from pyjedai_spark.operators import block_cleaning as BC
from pyjedai_spark.operators import clustering as CL
from pyjedai_spark.operators import comparison_cleaning as CC

DER_SCHEMES = ["CBS", "JS", "COSINE", "DICE", "ECBS", "EJS", "X2",
               "CN-CBS", "CNC", "CND", "CNJ", "SN-CBS", "SNC", "SND", "SNJ"]
ACRONYMS = ["CP", "WEP", "WNP", "RWNP", "BLAST", "CEP", "CNP", "RCNP"]


@pytest.fixture(scope="module")
def postings(spark, docs):
    """Cleaned postings carrying ``bs`` (the flagship's CNP input) and
    raw postings without it, as local tables (a checkpoint would not
    outlive the per-test block cleanup)."""
    raw = BB.standard_blocking(docs.where("doc_id < 200")).localCheckpoint()
    clean = BC.clean_blocks(raw, 1.0, 0.8, keep_size=True)
    return {kind: spark.createDataFrame(df.collect(), df.schema)
            for kind, df in [("clean", clean), ("raw", raw)]}


@pytest.fixture
def kernel_calls(monkeypatch):
    calls = []
    kernel = CC._driver_graph
    monkeypatch.setattr(CC, "_driver_graph",
                        lambda p, s: calls.append(s) or kernel(p, s))
    return calls


def _rows(df):
    return {(r["id1"], r["id2"]): tuple(r)[2:] for r in df.collect()}


def _both_routes(monkeypatch, calls, build):
    """build() on the driver route, then on the Spark plan; returns both
    row maps and the kernel calls each made."""
    on_driver = _rows(build())
    n_driver = len(calls)
    monkeypatch.setattr(CL, "DRIVER_EDGE_LIMIT", 0)
    on_spark = _rows(build())
    return on_driver, on_spark, n_driver, len(calls) - n_driver


def _assert_same(on_driver, on_spark):
    assert on_driver.keys() == on_spark.keys()
    for pair, vals in on_driver.items():
        assert vals == pytest.approx(on_spark[pair], abs=1e-9, rel=0), pair


# without ``bs`` both routes count block sizes themselves; that feeds
# the CN/SN counters, while every scheme shares the enumeration
@pytest.mark.parametrize("kind,scheme", [("clean", s) for s in DER_SCHEMES]
                         + [("raw", s) for s in ["JS", "CN-CBS", "SN-CBS"]])
def test_edge_weights_driver_matches_spark(spark, postings, monkeypatch,
                                           kernel_calls, kind, scheme):
    on_driver, on_spark, n_driver, n_spark = _both_routes(
        monkeypatch, kernel_calls,
        lambda: CC.edge_weights(postings[kind], scheme))
    assert (n_driver, n_spark) == (1, 0)
    assert len(on_driver) > 100
    _assert_same(on_driver, on_spark)


@pytest.mark.parametrize("acronym,kw", [(a, {}) for a in ACRONYMS]
                         + [("CNP", {"k": 2}), ("RCNP", {"k": 2})])
def test_meta_blocking_driver_matches_spark(spark, postings, monkeypatch,
                                            kernel_calls, acronym, kw):
    on_driver, on_spark, n_driver, n_spark = _both_routes(
        monkeypatch, kernel_calls,
        lambda: CC.get_meta_blocking_approach(acronym, postings["clean"], **kw))
    assert (n_driver, n_spark) == ((0, 0) if acronym == "CP" else (1, 0))
    assert on_driver
    _assert_same(on_driver, on_spark)


def test_cnp_equal_weight_tie_keeps_larger_neighbor(spark, monkeypatch):
    """Entity 1 shares one block with 2 and one with 3: both edges weigh
    1.0 under CBS. Top-1 ranks by (weight desc, v desc), so 1 keeps 3;
    2 and 3 each keep 1. CNP emits both pairs, RCNP only (1, 3), the
    one kept from both ends."""
    p = spark.createDataFrame([("a", 1), ("a", 2), ("b", 1), ("b", 3)],
                              "key string, eid long")
    for limit in [CL.DRIVER_EDGE_LIMIT, 0]:
        monkeypatch.setattr(CL, "DRIVER_EDGE_LIMIT", limit)
        cnp = CC.cardinality_node_pruning(p, "CBS", k=1)
        rcnp = CC.cardinality_node_pruning(p, "CBS", k=1, reciprocal=True)
        assert sorted(map(tuple, cnp.collect())) == [(1, 2, 1.0), (1, 3, 1.0)]
        assert [tuple(r) for r in rcnp.collect()] == [(1, 3, 1.0)]


def test_empty_postings_on_both_routes(spark, monkeypatch, kernel_calls):
    p = spark.createDataFrame([], "key string, eid long")
    for limit, n_calls in [(CL.DRIVER_EDGE_LIMIT, 2), (-1, 2)]:
        monkeypatch.setattr(CL, "DRIVER_EDGE_LIMIT", limit)
        e = CC.edge_weights(p, "EJS")
        assert e.columns == ["id1", "id2", "weight", "cbs"]
        assert e.schema["id1"].dataType == p.schema["eid"].dataType
        assert e.collect() == []
        assert CC.cardinality_node_pruning(p, "JS").collect() == []
        assert len(kernel_calls) == n_calls


def test_cnp_driver_route_job_budget(spark, postings):
    """Sizing (one aggregate) plus one Arrow collect: at most 3 Spark
    jobs for CNP, where the Spark plan submits about 15."""
    sc = spark.sparkContext
    group = "cnp-driver-job-budget"
    sc.setJobGroup(group, group)
    try:
        out = CC.cardinality_node_pruning(postings["clean"], "JS",
                                          num_entities=200)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(jobs) <= 3, jobs
    assert out.count() > 0
