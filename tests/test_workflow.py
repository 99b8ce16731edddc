"""Workflow API: config-dict surface mirroring the reference's
BlockingBasedWorkFlow; best_der() must produce exactly the same
clusters as the hand-built der_dedup_pipeline."""

from pyjedai_spark.pipeline import der_dedup_pipeline
from pyjedai_spark.synth import webtext_df
from pyjedai_spark.workflow import BlockingBasedWorkFlow, ProgressiveWorkFlow


def test_best_der_workflow_matches_pipeline(spark):
    docs, gt = webtext_df(spark, n_docs=250, seed=13)
    wf = BlockingBasedWorkFlow.best_der()
    a = {(r["eid"], r["cluster_id"])
         for r in wf.run(docs, id_col="eid", gt=gt).collect()}
    b = {(r["eid"], r["cluster_id"])
         for r in der_dedup_pipeline(docs, id_col="eid").collect()}
    assert a == b
    # per-stage metrics recorded for every configured step
    stages = [s["stage"] for s in wf.steps]
    assert stages == ["standard_blocking", "block_purging", "block_filtering",
                      "CNP", "entity_matching", "connected_components"]
    assert all("recall" in s for s in wf.steps)


def test_best_ccer_workflow_runs(spark):
    docs, _ = webtext_df(spark, n_docs=120, seed=17)
    wf = BlockingBasedWorkFlow.best_ccer()
    out = wf.run(docs, id_col="eid")
    # UMC returns matched pairs
    assert {"id1", "id2", "weight"} <= set(out.columns)


def test_best_ccer_two_dataset(spark):
    """best_ccer with d2 runs true CCER: every match crosses the
    dataset boundary, the 1-1 UMC invariant holds, and every stage of
    the reference's best-CCER chain is recorded."""
    docs, _ = webtext_df(spark, n_docs=200, seed=23)
    d1 = docs.where("eid % 2 = 0")
    d2 = docs.where("eid % 2 = 1")
    wf = BlockingBasedWorkFlow.best_ccer()
    out = wf.run(d1, id_col="eid", d2=d2)
    rows = out.collect()
    assert rows, "CCER workflow matched nothing on a near-dup corpus"
    ids1 = [r["id1"] for r in rows]
    ids2 = [r["id2"] for r in rows]
    assert all(i % 2 == 0 for i in ids1)  # side 1 = even ids
    assert all(i % 2 == 1 for i in ids2)  # side 2 = odd ids
    assert len(set(ids1)) == len(ids1) and len(set(ids2)) == len(ids2)
    stages = [s["stage"] for s in wf.steps]
    assert stages == ["standard_blocking", "block_filtering", "WEP",
                      "tfidf_cosine", "unique_mapping"]


def test_ccer_workflow_connected_components_size2(spark):
    """CCER + connected_components routes to the size-2-only CCC."""
    docs, _ = webtext_df(spark, n_docs=150, seed=29)
    d1 = docs.where("eid % 2 = 0")
    d2 = docs.where("eid % 2 = 1")
    wf = BlockingBasedWorkFlow(
        block_building={"method": "standard_blocking"},
        block_cleaning=[{"method": "block_filtering", "params": {"ratio": 0.9}}],
        comparison_cleaning={"method": "CNP", "params": {"scheme": "JS"}},
        entity_matching={"method": "entity_matching",
                         "params": {"metric": "cosine",
                                    "similarity_threshold": 0.55}},
        clustering={"method": "connected_components"},
        name="ccer-ccc",
    )
    out = wf.run(d1, id_col="eid", d2=d2)
    sizes = out.groupBy("cluster_id").count().select("count").distinct().collect()
    assert all(r["count"] == 2 for r in sizes)  # CCER CC keeps only pairs


def test_ccer_workflow_connected_components_threshold_inclusive(spark):
    """CCER connected components drops edges BELOW the threshold, as
    the Dirty-ER branch does: a pair whose rounded sim equals the
    threshold stays matched."""
    d1 = spark.createDataFrame(
        [(0, "alpha beta gamma"), (2, "delta epsilon zeta eta")],
        "eid long, text string")
    d2 = spark.createDataFrame(
        [(1, "alpha beta theta"), (3, "delta epsilon iota kappa")],
        "eid long, text string")
    wf = BlockingBasedWorkFlow(
        entity_matching={"method": "entity_matching",
                         "params": {"metric": "cosine"}},
        # cosine(0, 1) = 2/3, rounded to 6 places; cosine(2, 3) = 0.5
        clustering={"method": "connected_components",
                    "params": {"similarity_threshold": 0.666667}},
        name="ccer-ccc-threshold",
    )
    out = wf.run(d1, id_col="eid", d2=d2)
    assert out.columns == ["eid", "cluster_id"]
    got = {}
    for r in out.collect():
        got.setdefault(r["cluster_id"], set()).add(r["eid"])
    assert sorted(sorted(v) for v in got.values()) == [[0, 1]]


def test_progressive_workflow_reports_auc(spark):
    docs, gt = webtext_df(spark, n_docs=150, seed=19)
    pw = ProgressiveWorkFlow(budget=100, method="HB", scheme="CBS")
    pw.run(docs, id_col="eid", gt=gt)
    assert {"total_emissions", "tps_found", "auc"} <= set(pw.metrics)
    assert pw.metrics["total_emissions"] == 100
    assert 0.0 <= pw.metrics["auc"] <= 1.0


def test_progressive_workflow_budget(spark):
    docs, _ = webtext_df(spark, n_docs=150, seed=19)
    pw = ProgressiveWorkFlow(budget=50, method="TOP", scheme="CBS")
    out = pw.run(docs, id_col="eid")
    assert out.count() == 50
    ranks = [r["emit_rank"] for r in out.collect()]
    assert sorted(ranks) == list(range(1, 51))


def test_read_data_from_json(spark, tmp_path):
    """JSON dataset config (reference utils.py:1270-1316) drives a
    distributed two-dataset load + the CCER workflow end-to-end."""
    import json

    from pyjedai_spark.datamodel import read_data_from_json

    docs, _ = webtext_df(spark, n_docs=80, seed=37)
    d = str(tmp_path)
    docs.where("eid % 2 = 0").select("eid", "text").write.parquet(d + "/left.parquet")
    docs.where("eid % 2 = 1").select("eid", "text").write.parquet(d + "/right.parquet")
    cfg = {"dir": "", "d1": "left", "d2": "right", "format": "parquet",
           "d1_id": "eid", "d2_id": "eid"}
    cfg_path = d + "/data.json"
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    data = read_data_from_json(spark, cfg_path, base_dir=d)
    assert data["d1"].count() == 40 and data["d2"].count() == 40
    assert dict(data["d1"].dtypes)["text"] == "string"
    wf = BlockingBasedWorkFlow.best_ccer()
    out = wf.run(data["d1"], id_col="eid", text_col="text", d2=data["d2"])
    assert {"id1", "id2", "weight"} <= set(out.columns)


def test_workflow_report_confusion_and_cumulative_time(spark):
    """workflow_report: one row per stage with the confusion counts the
    reference's visualization module plots (tn from the comparison-space
    size) and cumulative wall time."""
    import pytest

    docs, gt = webtext_df(spark, n_docs=150, seed=19)
    wf = BlockingBasedWorkFlow.best_der()
    with pytest.raises(ValueError):
        wf.workflow_report()  # before run()
    wf.run(docs, id_col="eid", gt=gt)
    rep = wf.workflow_report()
    assert list(rep["stage"]) == [
        "standard_blocking", "block_purging", "block_filtering",
        "CNP", "entity_matching", "connected_components"]
    assert (rep["workflow"] == "best-der-workflow").all()
    n = docs.count()
    total = n * (n - 1) // 2
    assert wf.total_comparisons == total
    # confusion identity holds on every stage row
    assert ((rep["tp"] + rep["fp"] + rep["fn"] + rep["tn"]) == total).all()
    # cumulative wall is monotone and ends at the sum
    assert (rep["cum_wall_s"].diff().fillna(0) >= 0).all()
    assert abs(rep["cum_wall_s"].iloc[-1] - rep["wall_s"].sum()) < 0.01
