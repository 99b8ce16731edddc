"""Tests of the benchmark's own parts (no Spark session needed):

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import corpus, eventlog, run, tracing  # noqa: E402


def test_generators_are_deterministic_per_seed():
    a_docs, a_gt = corpus.flagship_corpus(5, n_docs=300)
    b_docs, b_gt = corpus.flagship_corpus(5, n_docs=300)
    c_docs, _ = corpus.flagship_corpus(6, n_docs=300)
    assert a_docs.equals(b_docs) and a_gt == b_gt
    assert not a_docs.equals(c_docs)
    a_docs, a_gt = corpus.clean_corpus(5, n_docs=300)
    b_docs, b_gt = corpus.clean_corpus(5, n_docs=300)
    c_docs, _ = corpus.clean_corpus(6, n_docs=300)
    assert a_docs.equals(b_docs) and a_gt == b_gt
    assert not a_docs.equals(c_docs)


def test_clean_corpus_plants_every_drop_stage():
    docs, _ = corpus.clean_corpus(3, n_docs=600)
    statuses = {s for _, s, _ in corpus.clean_reference(docs)}
    assert statuses == {"kept", "url_dup", "exact_dup", "low_quality",
                        "near_dup"}


def test_clean_reference_equals_the_duckdb_oracle(tmp_path):
    duckdb = pytest.importorskip("duckdb")
    from pyjedai_spark.queries import ORACLES

    docs, _ = corpus.clean_corpus(9, n_docs=150)
    path = tmp_path / "documents.parquet"
    docs.to_parquet(path, index=False)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{path}')")
    oracle = sorted(((int(d), s, None if v is None else int(v))
                     for d, s, v in con.execute(ORACLES["corpus_clean"])
                     .fetchall()), key=repr)
    con.close()
    assert corpus.clean_reference(docs) == oracle


def test_predicted_pairs_follow_survivor_chains():
    rows = [(0, "kept", 0), (1, "url_dup", 0), (2, "exact_dup", 1),
            (3, "low_quality", None), (4, "kept", 4), (5, "near_dup", 4)]
    assert run.predicted_pairs("clean_incremental", rows) == {
        (0, 1), (0, 2), (1, 2), (4, 5)}
    assert run.predicted_pairs("der_flagship", [(0, 0), (1, 0), (2, 2)]) \
        == {(0, 1)}


def _line(obj) -> str:
    return json.dumps(obj) + "\n"


def _task(stage, cpu_ns, run_ms, gc_ms, peak, shuffle_w=0, spilled=0,
          written=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Metrics": {
                "Executor CPU Time": cpu_ns, "Executor Run Time": run_ms,
                "JVM GC Time": gc_ms, "Peak Execution Memory": peak,
                "Memory Bytes Spilled": spilled, "Disk Bytes Spilled": 0,
                "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                         "Local Bytes Read": 10},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
                "Output Metrics": {"Records Written": written}}}


def test_eventlog_parser_on_a_canned_snippet():
    lines = [
        _line({"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"}),
        _line({"Event": "SparkListenerJobStart", "Job ID": 0,
               "Stage IDs": [0, 1],
               "Properties": {"spark.job.description": "pb:3"}}),
        _line(_task(0, 2_000_000_000, 1500, 100, 1 << 20, shuffle_w=90)),
        _line(_task(1, 1_000_000_000, 500, 0, 4 << 20, spilled=7)),
        # job 1 reuses stage 1 (skipped) and runs stage 2
        _line({"Event": "SparkListenerJobStart", "Job ID": 1,
               "Stage IDs": [1, 2],
               "Properties": {"spark.job.description": "pb:4:trace"}}),
        _line(_task(2, 500_000_000, 250, 0, 0, written=12)),
        _line({"Event": "SparkListenerJobStart", "Job ID": 2,
               "Stage IDs": [3], "Properties": {}}),
    ]
    jobs = eventlog.read_jobs(lines)
    j0, j1, j2 = jobs[0], jobs[1], jobs[2]
    assert j0.description == "pb:3" and j0.tasks == 2
    assert j0.cpu_s == pytest.approx(3.0)
    assert j0.run_s == pytest.approx(2.0)
    assert j0.gc_s == pytest.approx(0.1)
    assert j0.shuffle_bytes == 10 + 90 + 10
    assert j0.spill_bytes == 7
    assert j0.peak_mem_bytes == 4 << 20
    assert j1.tasks == 1 and j1.records_written == 12
    assert j2.tasks == 0 and j2.description is None
    assert tracing.parse_description(j1.description) == (4, True)
    assert tracing.parse_description(j0.description) == (3, False)
    assert tracing.parse_description(None) == (None, False)


def _span(sid, layer, parent, start, end, **kw):
    return tracing.Span(sid, layer, layer, parent, start, end, **kw)


def test_self_time_arithmetic():
    spans = [
        _span(0, "pass", None, 0.0, 10.0),
        _span(1, "pipeline", 0, 1.0, 9.0),
        _span(2, "operators.block_building", 1, 2.0, 4.0),
        _span(3, "operators.block_building", 2, 2.5, 3.0),
        _span(4, "operators.clustering", 1, 5.0, 8.0),
    ]
    st = tracing.self_times(spans)
    assert st == pytest.approx({0: 2.0, 1: 3.0, 2: 1.5, 3: 0.5, 4: 3.0})
    jobs = {0: eventlog.JobStats(0, "pb:2", tasks=1, run_s=3.0),
            1: eventlog.JobStats(1, "pb:2:trace", tasks=1, run_s=9.0)}
    m = run.layer_metrics(spans, jobs, [0], session_s=1.0, state_bytes=0,
                          overhead_s=0.5)
    bb = "operators.block_building"
    # wall counts only the outermost span of a layer; self sums all
    assert m[f"{bb}.wall_s"]["value"] == pytest.approx(2.0)
    assert m[f"{bb}.self_s"]["value"] == pytest.approx(2.0)
    assert m[f"{bb}.jobs"]["value"] == 1       # the tracer's job is excluded
    assert m[f"{bb}.idle_frac"]["value"] == pytest.approx(
        1 - 3.0 / (2.0 * run.CORES))
    assert m["pipeline.self_s"]["value"] == pytest.approx(3.0)
    assert m["operators.clustering.wall_s"]["value"] == pytest.approx(3.0)


def test_printed_metric_names_match_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = run.end_to_end_metrics(
        setup_s=1.0, walls=[2.0], cpus=[3.0], peak_mem_bytes=10,
        written=[100], n_docs=10, gt={(0, 1)}, pred={(0, 1)},
        ref=[(0, 0)], rows=[(0, 0)])
    assert {k: v["unit"] for k, v in e2e.items()} == {
        m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert {k: b for k, (_, b) in run.END_TO_END.items()} == {
        m["name"]: m["better"] for m in spec["end_to_end"]}
    layers = run.layer_metrics([], {}, [], session_s=1.0, state_bytes=0,
                               overhead_s=0.0)
    assert {k: v["unit"] for k, v in layers.items()} == {
        m["name"]: m["unit"] for m in spec["per_layer"]}
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def test_run_fails_without_the_program(tmp_path):
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "der_flagship",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
