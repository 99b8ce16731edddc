#!/usr/bin/env python3
"""Steady-state, layer-attributed benchmark of the pyjedai_spark engine.

    python3 perfbench/run.py --workload der_flagship --seed 1 \
        --seconds 1 --trace 0

One run = one fresh JVM on ``local[3]`` with the library's session
defaults (only the event-log settings are added). It builds the seeded
input and reference (cached per seed), sets the session up, runs one
untimed cold pass, then a fixed number of timed passes (more while
``--seconds`` have not passed). A pass is the whole workload: read the
input parquet, run the pipeline, write the output parquet. Each pass's
output must equal the reference. The last stdout line is the JSON
result; ``--trace 1`` runs the timed passes untraced, traced, untraced
and reports per-layer metrics. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import shutil
import statistics
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
CORES = min(3, os.cpu_count() or 1)
WARMUP_PASSES = 1
# Timed passes per run, whatever --seconds is. A pass takes 6-23 s
# here, so a pure time window gave one timed pass on some runs and two
# on others, and passes are still on the JIT warm-up slope (the first
# after the cold pass is 10-25% slower than the next): the median
# jumped between the two cases. The run budget (about 71 s a run) has
# room for one.
TIMED_PASSES = 1
PASS_TIMEOUT_S = 100
RUN_BUDGET_S = 165   # stop starting passes past this (process age)

WORKLOADS = ("der_flagship", "clean_incremental")

# name -> (unit, better); the order BENCHMARK.json lists them in
END_TO_END = {
    "setup_s": ("s", "lower"),
    "docs_per_s": ("1/s", "higher"),
    "pass_cpu_s": ("s", "lower"),
    "peak_exec_mem_mb": ("MB", "lower"),
    "written_mb": ("MB", "lower"),
    "recall": ("fraction", "higher"),
    "precision": ("fraction", "higher"),
    "ref_agreement": ("fraction", "higher"),
}

LAYER_FIELDS = {
    "wall_s": "s", "self_s": "s", "task_cpu_s": "s", "gc_s": "s",
    "shuffle_mb": "MB", "spill_mb": "MB", "peak_mem_mb": "MB",
    "jobs": "count", "idle_frac": "fraction", "rows_out": "count",
}


def per_layer_spec() -> dict[str, str]:
    """Per-layer metric name -> unit, in BENCHMARK.json order."""
    from perfbench.tracing import LAYER_MODULES, SINK

    spec = {"session.wall_s": "s",
            "pipeline.wall_s": "s", "pipeline.self_s": "s",
            "pipeline.jobs": "count"}
    for layer in [*LAYER_MODULES, SINK]:
        if layer != "pipeline":
            spec.update({f"{layer}.{f}": u for f, u in LAYER_FIELDS.items()})
    spec.update({
        "operators.block_cleaning.kept_frac": "fraction",
        "operators.matching.match_yield": "fraction",
        "operators.dedup.verify_yield": "fraction",
        "streaming.incremental_clean.state_mb": "MB",
        "trace.overhead_s": "s",
    })
    return spec


# --- /proc and filesystem -------------------------------------------

def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, utime+stime+cutime+cstime ticks) of live processes."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    return out


def descendants(pid: int, table=None) -> list[int]:
    table = table or _proc_table()
    kids: dict[int, list[int]] = {}
    for p, (pp, _) in table.items():
        kids.setdefault(pp, []).append(p)
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_cpu_s(pid: int) -> float:
    """CPU seconds of ``pid`` and every descendant (the JVM and its
    Python workers); reaped children count through cutime/cstime."""
    table = _proc_table()
    ticks = sum(table[p][1] for p in descendants(pid, table) if p in table)
    return ticks / os.sysconf("SC_CLK_TCK")


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def host_calib_mb_s() -> float:
    """Single-thread sha256 throughput: a fixed-work host probe printed
    beside each pass, for information only."""
    buf = b"\xa5" * (1 << 20)
    h = hashlib.sha256()
    t0 = time.perf_counter()
    for _ in range(16):
        h.update(buf)
    return round(16 / (time.perf_counter() - t0), 1)


# --- workloads ------------------------------------------------------

def derived_url_col():
    """The URL the ``corpus_clean`` oracle derives from (source, id);
    the same expression the ``streaming_reconciled`` query uses."""
    from pyspark.sql import functions as F

    return F.concat(
        F.lit("HTTPS://"), F.upper("source"),
        F.lit(".example.com:443/Crawl/"),
        (F.col("doc_id") % 50).cast("string"), F.lit("/"),
        F.when(F.col("doc_id") % 3 == 0,
               F.lit("?utm_source=feed&b=2&a=1#frag"))
        .when(F.col("doc_id") % 3 == 1, F.lit("?a=1&b=2"))
        .otherwise(F.lit(""))).alias("url")


def run_der_flagship(spark, input_dir: str, pass_dir: Path, n_docs: int):
    from pyjedai_spark import datamodel as DM
    from pyjedai_spark import pipeline as P

    docs = DM.load_documents(spark, input_dir)
    return P.der_dedup_pipeline(docs).select("eid", "cluster_id")


def run_clean_incremental(spark, input_dir: str, pass_dir: Path,
                          n_docs: int):
    from pyspark.sql import functions as F

    from perfbench.corpus import CLEAN_BATCHES
    from pyjedai_spark import datamodel as DM
    from pyjedai_spark.streaming import incremental_clean as IC

    docs = DM.load_documents(spark, input_dir)
    d = docs.select("doc_id", "text", derived_url_col())
    state, out = str(pass_dir / "state"), str(pass_dir / "out")
    step = -(-n_docs // CLEAN_BATCHES)
    for b in range(CLEAN_BATCHES):
        batch = d.where((F.col("doc_id") >= b * step)
                        & (F.col("doc_id") < (b + 1) * step))
        IC.process_clean_increment(batch, state, out, batch_id=b,
                                   url_col="url")
    return IC.reconcile_clean_state(spark, state, out) \
        .select("eid", "status", "survivor")


def batch_clean_rows(spark, input_dir: str) -> list[tuple]:
    """``corpus_clean_pipeline`` on the same docs: the batch result the
    reconciled incremental state must equal."""
    from pyjedai_spark import datamodel as DM
    from pyjedai_spark import pipeline as P

    docs = DM.load_documents(spark, input_dir)
    d = docs.select("doc_id", "text", derived_url_col())
    out = P.corpus_clean_pipeline(d, url_col="url", max_bucket=None)
    return sorted(((r[0], r[1], r[2]) for r in
                   out.select("eid", "status", "survivor").collect()),
                  key=repr)


RUNNERS = {"der_flagship": run_der_flagship,
           "clean_incremental": run_clean_incremental}


def read_rows(path: Path) -> list[tuple]:
    import pyarrow.parquet as pq

    t = pq.read_table(path)
    cols = [t.column(c).to_pylist() for c in t.column_names]
    return sorted(zip(*cols), key=repr)


def predicted_pairs(workload: str, rows: list[tuple]) -> set:
    from perfbench.corpus import pairs_from_groups

    if workload == "der_flagship":
        return pairs_from_groups({e: c for e, c in rows})
    # each dropped duplicate points at its survivor; kept docs at
    # themselves; low-quality docs have no survivor and stay alone
    parent = {e: (s if s is not None else e) for e, _, s in rows}

    def root(e):
        while parent[e] != e:
            e = parent[e]
        return e

    return pairs_from_groups({e: root(e) for e in parent})


# --- metrics --------------------------------------------------------

def end_to_end_metrics(setup_s, walls, cpus, peak_mem_bytes, written,
                       n_docs, gt, pred, ref, rows) -> dict:
    tp = len(gt & pred)
    ref_set = set(ref)
    values = {
        "setup_s": setup_s,
        "docs_per_s": n_docs / statistics.median(walls),
        "pass_cpu_s": statistics.median(cpus),
        "peak_exec_mem_mb": peak_mem_bytes / 1e6,
        "written_mb": statistics.median(written) / 1e6,
        "recall": tp / len(gt) if gt else 1.0,
        "precision": tp / len(pred) if pred else 1.0,
        "ref_agreement": len(ref_set & set(rows)) / len(ref_set),
    }
    return {k: {"value": values[k], "unit": u}
            for k, (u, _) in END_TO_END.items()}


def layer_metrics(spans, jobs, pass_roots, session_s, state_bytes,
                  overhead_s) -> dict:
    """Per-layer metrics of the traced passes ``pass_roots`` (span ids):
    the median over those passes of each layer's per-pass figures.

    ``wall_s`` is inclusive (outermost spans of the layer); ``self_s``
    excludes time inside child spans; jobs and task metrics are charged
    to the innermost open span, so summing a field over layers counts
    each task once. ``idle_frac`` = 1 - task run time / (self_s x
    cores): the share of the layer's own time its cores sat idle."""
    from perfbench.tracing import PASS, parse_description, self_times

    spec = per_layer_spec()
    by_id = {s.sid: s for s in spans}
    selft = self_times(spans)

    def root_of(sid):
        while by_id[sid].parent is not None:
            sid = by_id[sid].parent
        return sid

    per_pass = []
    for root in pass_roots:
        acc: dict[str, dict] = {}

        def a(layer):
            return acc.setdefault(layer, {
                "wall_s": 0.0, "self_s": 0.0, "task_cpu_s": 0.0,
                "gc_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0,
                "peak_mem_mb": 0.0, "jobs": 0, "run_s": 0.0, "rows_out": 0,
                "rows_in_yield": 0, "rows_out_yield": 0})

        for s in spans:
            if s.layer == PASS or root_of(s.sid) != root:
                continue
            m = a(s.layer)
            m["self_s"] += selft[s.sid]
            p = s.parent
            while p is not None and by_id[p].layer != s.layer:
                p = by_id[p].parent
            if p is None:                      # outermost of its layer
                m["wall_s"] += s.end - s.start
                m["rows_out"] += s.rows_out or 0
            if s.rows_in is not None:
                m["rows_in_yield"] += s.rows_in
                m["rows_out_yield"] += s.rows_out or 0
        for j in jobs.values():
            sid, trace_job = parse_description(j.description)
            if sid is None or trace_job or sid not in by_id \
                    or root_of(sid) != root or by_id[sid].layer == PASS:
                continue
            m = a(by_id[sid].layer)
            m["jobs"] += 1
            m["task_cpu_s"] += j.cpu_s
            m["run_s"] += j.run_s
            m["gc_s"] += j.gc_s
            m["shuffle_mb"] += j.shuffle_bytes / 1e6
            m["spill_mb"] += j.spill_bytes / 1e6
            m["peak_mem_mb"] = max(m["peak_mem_mb"], j.peak_mem_bytes / 1e6)
            m["rows_out"] += j.records_written
        for m in acc.values():
            m["idle_frac"] = (1 - m["run_s"] / (m["self_s"] * CORES)
                              if m["self_s"] > 0 else 0.0)
        per_pass.append(acc)

    def med(layer, field):
        vals = [p.get(layer, {}).get(field, 0.0) for p in per_pass]
        return statistics.median(vals) if vals else 0.0

    def ratio(layer):
        ins = med(layer, "rows_in_yield")
        return med(layer, "rows_out_yield") / ins if ins else 0.0

    values = {}
    for name in spec:
        layer, field = name.rsplit(".", 1)
        values[name] = med(layer, field)
    values["session.wall_s"] = session_s
    values["operators.block_cleaning.kept_frac"] = \
        ratio("operators.block_cleaning")
    values["operators.matching.match_yield"] = ratio("operators.matching")
    values["operators.dedup.verify_yield"] = ratio("operators.dedup")
    values["streaming.incremental_clean.state_mb"] = state_bytes / 1e6
    values["trace.overhead_s"] = overhead_s
    return {k: {"value": values[k], "unit": u} for k, u in spec.items()}


# --- the run --------------------------------------------------------

class Run:
    def __init__(self, args, meta):
        self.args = args
        self.workload = args.workload
        self.input_dir = meta["input_dir"]
        self.n_docs = meta["n_docs"]
        self.ref = meta["reference"]
        self.passes: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.run_dir = WORK / f"run-{os.getpid()}"
        self.rows = None  # output of the first pass that succeeded
        self.spark = None
        self.tracer = None

    # session ---------------------------------------------------------
    def setup(self, pre_session_s: float) -> tuple[float, float]:
        """Build the session and scan the input once. Returns (setup_s,
        session build seconds); setup_s counts from process start, less
        the time spent generating inputs and references."""
        from pyjedai_spark import datamodel as DM
        from pyjedai_spark.session import get_spark

        evdir = self.run_dir / "eventlog"
        evdir.mkdir(parents=True)
        confs = {"spark.eventLog.enabled": "true",
                 "spark.eventLog.dir": evdir.as_uri(),
                 "spark.eventLog.compress": "false",
                 "spark.eventLog.rolling.enabled": "false"}
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", master=f"local[{CORES}]",
                               extra_confs=confs)
        t1 = time.perf_counter()
        DM.load_documents(self.spark, self.input_dir).count()
        t2 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.event_log = evdir / self.spark.sparkContext.applicationId
        return pre_session_s + (t2 - t0), t1 - t0

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def sweep(self) -> None:
        """Drop what a pass left persisted, so passes do not pile up
        block-manager memory (the inputs are re-read every pass)."""
        gc.collect()
        self.spark.catalog.clearCache()
        it = self.spark.sparkContext._jsc.sc().getPersistentRDDs() \
            .iterator()
        while it.hasNext():
            it.next()._2().unpersist(True)

    # passes ----------------------------------------------------------
    def one_pass(self, i: int, traced: bool, timed: bool) -> dict:
        from perfbench.corpus import rows_digest
        from perfbench.tracing import PASS, SINK

        sc = self.spark.sparkContext
        pass_dir = self.run_dir / f"pass{i}"
        shutil.rmtree(pass_dir, ignore_errors=True)
        pass_dir.mkdir(parents=True)
        rec = {"pass": i, "traced": traced, "timed": timed,
               "calib_mb_s": host_calib_mb_s()}
        self.tracer.layers_on = traced
        watchdog = threading.Timer(PASS_TIMEOUT_S, sc.cancelAllJobs)
        watchdog.start()
        self.attempted += 1
        cpu0, t0 = tree_cpu_s(self.jvm_pid()), time.perf_counter()
        try:
            with self.tracer.span(PASS, str(i)) as root:
                out = RUNNERS[self.workload](self.spark, self.input_dir,
                                             pass_dir, self.n_docs)
                if traced:
                    with self.tracer.span(SINK, "write"):
                        out.write.parquet(str(pass_dir / "result"))
                else:
                    out.write.parquet(str(pass_dir / "result"))
            rec["wall_s"] = time.perf_counter() - t0
            rec["cpu_s"] = tree_cpu_s(self.jvm_pid()) - cpu0
            rec["root"] = root.sid
        except Exception as e:  # a failing pass is counted, not fatal
            rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
        finally:
            watchdog.cancel()
            self.tracer.layers_on = False
        if "error" not in rec:
            rec["written_bytes"] = dir_bytes(pass_dir)
            state = pass_dir / "state"
            rec["state_bytes"] = dir_bytes(state) if state.exists() else 0
            rows = read_rows(pass_dir / "result")
            rec["digest"] = rows_digest(rows)
            if self.rows is None:
                self.rows = rows
            if rows != self.ref:
                rec["error"] = "output differs from the reference"
            elif rows != self.rows:
                rec["error"] = "output differs from the first pass"
        if "error" in rec:
            self.failed += 1
            self.errors.append(f"pass {i}: {rec['error']}")
        shutil.rmtree(pass_dir, ignore_errors=True)
        self.sweep()
        self.passes.append(rec)
        print(json.dumps({k: (round(v, 4) if isinstance(v, float) else v)
                          for k, v in rec.items()}), flush=True)
        return rec

    def measure(self) -> None:
        """Warm-up passes, then TIMED_PASSES, and more while
        ``--seconds`` have not passed. With tracing the timed
        passes run untraced, traced, untraced, so the two untraced
        passes bracket the traced one."""
        for i in range(WARMUP_PASSES):
            self.one_pass(i, traced=False, timed=False)
        order = [False, True, False] if self.args.trace \
            else [False] * TIMED_PASSES
        t_end = time.perf_counter() + self.args.seconds
        n = 0
        while n < len(order) or time.perf_counter() < t_end:
            last = self.passes[-1].get("wall_s", PASS_TIMEOUT_S)
            if process_age_s() + 1.5 * last > RUN_BUDGET_S:
                break
            traced = order[n] if n < len(order) else False
            self.one_pass(WARMUP_PASSES + n, traced=traced, timed=True)
            n += 1

    def check_batch_invariant(self) -> None:
        """The reconciled incremental output equals the batch pipeline's
        on the same docs (the incremental module's documented invariant).
        Traced runs only: it costs 7-9 s, and untraced runs have no room
        for it. Every pass is still checked against the reference."""
        self.attempted += 1
        t0 = time.perf_counter()
        self.spark.sparkContext.setJobDescription("pb:check")
        try:
            batch = batch_clean_rows(self.spark, self.input_dir)
        except Exception as e:
            batch, why = None, f"{type(e).__name__}: {str(e)[:300]}"
        else:
            why = "corpus_clean_pipeline differs from the reconciled state"
        ok = batch == self.rows
        if not ok:
            self.failed += 1
            self.errors.append(why)
        print(json.dumps({"check": "batch_equals_reconciled", "ok": ok,
                          "wall_s": round(time.perf_counter() - t0, 3)}),
              flush=True)

    def stop(self) -> None:
        """Stop Spark, then the JVM and its Python workers; wait for
        each to exit."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        kids = [p for p in descendants(proc.pid) if p != proc.pid]
        if self.spark is not None:
            self.spark.stop()
        gw.shutdown()
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
        deadline = time.time() + 10
        for p in kids:
            while os.path.exists(f"/proc/{p}") and time.time() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{p}"):
                try:
                    os.kill(p, 9)
                except OSError:
                    pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "pyjedai_spark" / "__init__.py").is_file():
        print(f"pyjedai_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    WORK.mkdir(exist_ok=True)
    # keep Spark's, the JVM's and Python's scratch files inside the
    # checkout (-UsePerfData: no hsperfdata file in the system temp dir)
    tmp = WORK / "tmp"
    tmp.mkdir(exist_ok=True)
    os.environ.update({
        "SPARK_LOCAL_DIRS": str(tmp), "TMPDIR": str(tmp),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"})

    from perfbench import corpus, eventlog
    from perfbench.tracing import Tracer

    t0 = time.perf_counter()
    meta = corpus.prepare(args.workload, args.seed, WORK)
    gen_s = time.perf_counter() - t0
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "n_docs": meta["n_docs"],
                      "input_digest": meta["input_digest"],
                      "reference_digest": meta["reference_digest"],
                      "inputs_and_reference_s": round(gen_s, 3)}),
          flush=True)

    run = Run(args, meta)
    phases = {}
    try:
        setup_s, session_s = run.setup(process_age_s() - gen_s)
        phases["setup_done"] = process_age_s()
        run.tracer = Tracer(run.spark.sparkContext)
        if args.trace:
            run.tracer.install()
        run.measure()
        phases["passes_done"] = process_age_s()
        if args.trace and args.workload == "clean_incremental":
            run.check_batch_invariant()
    finally:
        if run.tracer is not None:
            run.tracer.uninstall()
        run.stop()
    phases["stopped"] = process_age_s()
    jobs = eventlog.read_jobs_file(str(run.event_log))
    shutil.rmtree(run.run_dir, ignore_errors=True)
    phases["log_read"] = process_age_s()

    timed = [p for p in run.passes if p["timed"] and "error" not in p]
    plain = [p for p in timed if not p["traced"]]
    traced = [p for p in timed if p["traced"]]
    cold = run.passes[0].get("wall_s") if run.passes else None
    print(json.dumps({"cold_pass_s": cold, "setup_s": setup_s,
                      "process_age_s": {k: round(v, 2)
                                        for k, v in phases.items()},
                      "jobs": len(jobs),
                      "jobs_unlabelled": sum(j.description is None
                                             for j in jobs.values()),
                      "errors": run.errors}), flush=True)
    correct = run.failed == 0 and bool(plain) and (
        args.trace == 0 or bool(traced))
    if not plain or (args.trace and not traced):
        metrics = {}
    elif args.trace == 0:
        from perfbench.tracing import parse_description

        roots = {p["root"] for p in plain}
        peak = max((j.peak_mem_bytes for j in jobs.values()
                    if parse_description(j.description)[0] in roots),
                   default=0)
        metrics = end_to_end_metrics(
            setup_s, [p["wall_s"] for p in plain],
            [p["cpu_s"] for p in plain], peak,
            [p["written_bytes"] for p in plain], run.n_docs,
            meta["gt_pairs"], predicted_pairs(args.workload, run.rows),
            run.ref, run.rows)
    else:
        overhead = (statistics.median(p["wall_s"] for p in traced)
                    - statistics.median(p["wall_s"] for p in plain))
        metrics = layer_metrics(
            run.tracer.spans, jobs, [p["root"] for p in traced], session_s,
            statistics.median(p["state_bytes"] for p in traced), overhead)
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
