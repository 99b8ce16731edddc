"""User-facing workflow API mirroring the reference's
BlockingBasedWorkFlow / ProgressiveWorkFlow config-dict surface
(src/pyjedai/workflow.py:426-735): each stage is a dict with a
``method`` name and ``params``; stages run in the fixed order
block building -> block cleaning* -> comparison cleaning ->
entity matching -> clustering, with per-stage evaluation against an
optional ground-truth pair DataFrame.

Differences from the reference (deliberate, documented):
- methods are STRING names resolved against this engine's operators
  (the reference passes class objects; strings keep configs
  serializable for spark-submit jobs);
- every stage is a DataFrame -> DataFrame transform with a
  materialization barrier (localCheckpoint / Iceberg checkpoint via
  CheckpointManager), not an in-memory dict;
- evaluation is a semi-join count, never a python pair loop.

The ER mode is read from the data, as in the reference
(``is_dirty_er = dataset_2 is None``): ``run(d1, d2=d2)`` builds
``ccer.ccer_blocking`` postings, whose ``side`` column makes every
later stage (cleaning, pairs, meta-blocking) run on the D1 x D2 space
with no mode flag; only connected components is told the mode, since
match edges carry no ``side``.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpoint import CheckpointManager
from .evaluation import pair_metrics
from .operators import block_building as BB
from .operators import block_cleaning as BC
from .operators import clustering as CL
from .operators import comparison_cleaning as CC
from .operators import matching as M
from .operators import progressive as PR

BLOCK_BUILDERS = {
    "standard_blocking": BB.standard_blocking,
    "qgrams_blocking": BB.qgrams_blocking,
    "suffix_arrays_blocking": BB.suffix_arrays_blocking,
    "extended_suffix_arrays_blocking": BB.extended_suffix_arrays_blocking,
    "extended_qgrams_blocking": BB.extended_qgrams_blocking,
}

BLOCK_CLEANERS = {
    "block_purging": BC.block_purging,
    "block_filtering": BC.block_filtering,
}

CLUSTERERS = {
    "connected_components": None,  # handled inline (needs nodes)
    "unique_mapping": CL.unique_mapping_clustering,
    "center": CL.center_clustering,
    "best_match": CL.best_match_clustering,
    "markov": CL.markov_clustering,
    "cut": CL.cut_clustering,
    "correlation": CL.correlation_clustering,
    "ricochet": CL.ricochet_sr_clustering,
}


@dataclass
class BlockingBasedWorkFlow:
    """workflow.py:426-690 re-expressed. Example::

        wf = BlockingBasedWorkFlow.best_der()
        clusters = wf.run(docs, id_col="doc_id", text_col="text", gt=gt_df)
        wf.to_df()   # per-stage metrics
    """

    block_building: dict = field(default_factory=lambda: {
        "method": "standard_blocking"})
    block_cleaning: list | None = None
    comparison_cleaning: dict | None = None
    entity_matching: dict | None = None
    clustering: dict | None = None
    name: str = "workflow"
    checkpoint_dir: str | None = None

    steps: list = field(default_factory=list, init=False)
    total_comparisons: int | None = field(default=None, init=False)

    @classmethod
    def best_der(cls) -> "BlockingBasedWorkFlow":
        """Reference best Dirty-ER config (workflow.py:718-735)."""
        return cls(
            block_building={"method": "standard_blocking"},
            block_cleaning=[
                {"method": "block_purging", "params": {"smoothing_factor": 1.0}},
                {"method": "block_filtering", "params": {"ratio": 0.8}},
            ],
            comparison_cleaning={"method": "CNP",
                                 "params": {"scheme": "JS"}},
            entity_matching={"method": "entity_matching",
                             "params": {"metric": "cosine",
                                        "similarity_threshold": 0.55}},
            clustering={"method": "connected_components"},
            name="best-der-workflow",
        )

    @classmethod
    def best_ccer(cls) -> "BlockingBasedWorkFlow":
        """Reference best CCER config (workflow.py:696-716). Run it with
        TWO datasets — ``wf.run(d1, d2=d2)`` — and every stage executes
        on the true D1 x D2 space (operators/ccer.py: both-sides block
        validity, CCER cardinalities, CCER WEP(EJS), UniqueMapping).
        Called with one dataset it degrades to the Dirty-ER
        approximation and the reference's UMC precondition (CCER-only,
        clustering.py:484-486) is not honored — pass d2."""
        return cls(
            block_building={"method": "standard_blocking"},
            block_cleaning=[
                {"method": "block_filtering", "params": {"ratio": 0.9}},
            ],
            comparison_cleaning={"method": "WEP", "params": {"scheme": "EJS"}},
            entity_matching={"method": "tfidf_cosine",
                             "params": {"tokenizer": "char", "qgram": 3,
                                        "similarity_threshold": 0.0}},
            clustering={"method": "unique_mapping",
                        "params": {"similarity_threshold": 0.17}},
            name="best-ccer-workflow",
        )

    def _record(self, stage: str, df: DataFrame, pairs: DataFrame | None,
                gt: DataFrame | None, t0: float) -> None:
        rec = {"stage": stage, "wall_s": round(time.time() - t0, 3),
               "rows": df.count()}
        if gt is not None and pairs is not None:
            rec.update(pair_metrics(pairs, gt))
        self.steps.append(rec)

    def run(self, docs: DataFrame, id_col: str = "doc_id",
            text_col: str = "text", gt: DataFrame | None = None,
            d2: DataFrame | None = None) -> DataFrame:
        """Execute the workflow. Dirty-ER on one dataset; pass ``d2``
        for Clean-Clean ER — blocking, cleaning, meta-blocking and
        clustering then run on the true D1 x D2 space (entity ids must
        be disjoint across the two inputs). The CCER postings' ``side``
        column carries the mode through cleaning and meta-blocking."""
        from .operators import ccer as X

        spark = docs.sparkSession
        ck = (CheckpointManager(self.checkpoint_dir)
              if self.checkpoint_dir else CheckpointManager("", enabled=False))
        self.steps = []
        is_ccer = d2 is not None
        all_docs = docs.unionByName(d2) if is_ccer else docs
        if gt is not None:
            # comparison-space size for workflow_report's tn column
            # (ref evaluation.py:173-176: n1*n2 CCER, n(n-1)/2 dirty)
            n1 = docs.count()
            self.total_comparisons = (
                n1 * d2.count() if is_ccer else n1 * (n1 - 1) // 2)

        # block building
        t0 = time.time()
        bb = dict(self.block_building)
        if is_ccer:
            if bb["method"] != "standard_blocking":
                raise ValueError(
                    "CCER workflow supports standard_blocking (the "
                    "reference's best-CCER block builder)")
            postings = ck.stage(spark, "blocking", lambda: X.ccer_blocking(
                docs, d2, id_col=id_col, text_col=text_col,
                **bb.get("params", {})))
        else:
            fn = BLOCK_BUILDERS[bb["method"]]
            postings = ck.stage(spark, "blocking", lambda: fn(
                docs, id_col=id_col, text_col=text_col, **bb.get("params", {})))
        self._record(bb["method"], postings, BB.block_pairs(postings), gt,
                     t0)

        # block cleaning (0..n)
        for step in self.block_cleaning or []:
            t0 = time.time()
            fn = BLOCK_CLEANERS[step["method"]]
            postings = ck.stage(
                spark, step["method"],
                lambda fn=fn, p=postings, s=step: fn(
                    p, **s.get("params", {})))
            self._record(step["method"], postings, BB.block_pairs(postings),
                         gt, t0)

        # comparison cleaning
        pairs = None
        if self.comparison_cleaning:
            t0 = time.time()
            cc = dict(self.comparison_cleaning)
            pairs = ck.stage(
                spark, "comparison_cleaning",
                lambda: CC.get_meta_blocking_approach(
                    cc["method"], postings, cc.get("params", {}).get("scheme"),
                    **{k: v for k, v in cc.get("params", {}).items()
                       if k != "scheme"}))
            self._record(cc["method"], pairs, pairs, gt, t0)
        else:
            pairs = BB.block_pairs(postings)

        # matching — docs projection spans BOTH datasets in CCER mode
        matches = None
        if self.entity_matching:
            t0 = time.time()
            em = dict(self.entity_matching)
            params = dict(em.get("params", {}))
            if em["method"] == "entity_matching":
                matches = ck.stage(spark, "matching", lambda: M.entity_matching(
                    pairs.select("id1", "id2"), all_docs, id_col=id_col,
                    text_col=text_col, round_to=6, **params))
            elif em["method"] == "tfidf_cosine":
                matches = ck.stage(spark, "matching",
                                   lambda: M.tfidf_cosine_matching(
                                       pairs.select("id1", "id2"), all_docs,
                                       id_col=id_col, text_col=text_col,
                                       **params))
            else:
                raise ValueError(f"unknown matcher {em['method']}")
            self._record(em["method"], matches, matches, gt, t0)

        # clustering
        result = matches if matches is not None else pairs
        if self.clustering:
            t0 = time.time()
            cl = dict(self.clustering)
            params = dict(cl.get("params", {}))
            if cl["method"] == "connected_components":
                edges = (matches if matches is not None
                         else pairs.withColumn("sim", F.lit(1.0)))
                nodes = all_docs.select(F.col(id_col).alias("eid"))
                # CCER keeps only 2-element clusters (clustering.py:466-467)
                result = CL.connected_components_clustering(
                    edges, nodes=nodes, dirty=not is_ccer, **params)
                out_pairs = CL.clusters_to_pairs(result)
            else:
                fn = CLUSTERERS[cl["method"]]
                result = fn(matches if matches is not None else pairs, **params)
                out_pairs = (result.select("id1", "id2")
                             if "id1" in result.columns
                             else CL.clusters_to_pairs(result))
            self._record(cl["method"], result, out_pairs, gt, t0)
        return result

    def to_df(self):
        """Per-stage report as a pandas DataFrame (reference
        workflow.get_final_scores / to_df analogue)."""
        import pandas as pd

        return pd.DataFrame(self.steps)

    def workflow_report(self):
        """The union of everything the reference's visualization module
        plots, as one pandas DataFrame — the numbers, not the plots
        (ref visualization.py:9-31 confusion-matrix heatmap over
        evaluation.py:180-200's tp/fp/fn/tn; workflow.to_df's per-stage
        wall/F1 bars): one row per executed stage with wall seconds,
        surviving rows, and — when ``run(gt=...)`` was given ground
        truth — precision/recall/f1 plus the full confusion counts
        (``tn`` = comparison-space size minus tp+fp+fn). Feed this to
        any plotting library; the engine deliberately ships no plots
        (documented cut, VERDICT r01-r03)."""
        import pandas as pd

        if not self.steps:
            raise ValueError("run() the workflow before reporting")
        df = pd.DataFrame(self.steps)
        if self.total_comparisons is not None and "tp" in df.columns:
            df["tn"] = (self.total_comparisons
                        - df["tp"] - df["fp"] - df["fn"]).astype("Int64")
        df.insert(0, "workflow", self.name)
        df["cum_wall_s"] = df["wall_s"].cumsum().round(3)
        return df


@dataclass
class ProgressiveWorkFlow:
    """workflow.py:231-356: optional blocking/cleaning, then budgeted
    emission of scored pairs (HB/DFS/BFS/TOP). With ``gt`` the run
    reports the progressive headline metrics — cumulative-recall AUC
    (reference evaluation.py:298-368) — in ``self.metrics``."""

    budget: int = 1000
    method: str = "HB"
    scheme: str = "CBS"
    block_cleaning: list | None = None
    metrics: dict = field(default_factory=dict, init=False)

    def run(self, docs: DataFrame, id_col: str = "doc_id",
            text_col: str = "text", gt: DataFrame | None = None) -> DataFrame:
        postings = BB.standard_blocking(docs, id_col=id_col, text_col=text_col)
        for step in self.block_cleaning or []:
            fn = BLOCK_CLEANERS[step["method"]]
            postings = fn(postings, **step.get("params", {}))
        postings = postings.localCheckpoint()
        emitted = PR.pes(postings, self.budget, self.scheme, self.method)
        if gt is not None:
            from .evaluation import progressive_auc

            emitted = emitted.localCheckpoint()
            self.metrics = progressive_auc(emitted, gt).first().asDict()
        return emitted
