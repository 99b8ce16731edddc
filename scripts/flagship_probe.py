"""Per-stage wall breakdown of the flagship DER chain (and the CNP
chain) at sf0.1 — guide §1 stage isolation with eager materialization
at each boundary. Run in a fresh JVM; first iteration is JIT-warm-up,
second is the steady state to read.

Usage: python scripts/flagship_probe.py [sf_dir] [iters]
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyjedai_spark.session import get_spark  # noqa: E402

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
iters = int(sys.argv[2]) if len(sys.argv) > 2 else 2

spark = get_spark("flagship-probe")
spark.sparkContext.setLogLevel("ERROR")

from pyspark.sql import functions as F  # noqa: E402

from pyjedai_spark.operators import block_building as BB  # noqa: E402
from pyjedai_spark.operators import block_cleaning as BC  # noqa: E402
from pyjedai_spark.operators import clustering as CL  # noqa: E402
from pyjedai_spark.operators import comparison_cleaning as CC  # noqa: E402
from pyjedai_spark.operators import matching as M  # noqa: E402

docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
docs.count()

for i in range(iters):
    print(f"--- iter {i} ---", flush=True)
    t_all = time.perf_counter()
    n = docs.count()

    def stage(name, build):
        t0 = time.perf_counter()
        df = build().localCheckpoint()
        cnt = df.count()
        print(f"{name:16s} {time.perf_counter()-t0:7.2f}s rows={cnt}",
              flush=True)
        return df

    spark.sparkContext.setJobDescription("blocking")
    postings = stage("blocking", lambda: BB.standard_blocking(docs))
    spark.sparkContext.setJobDescription("block_cleaning")
    filtered = stage("block_cleaning",
                     lambda: BC.clean_blocks(postings, 1.0, 0.8,
                                             keep_size=True))
    spark.sparkContext.setJobDescription("cnp")
    candidates = stage("cnp", lambda: CC.cardinality_node_pruning(
        filtered, "JS", num_entities=n))
    spark.sparkContext.setJobDescription("matching")
    matched = stage("matching", lambda: M.entity_matching(
        candidates.select("id1", "id2"), docs, metric="cosine",
        tokenizer="white_space_tokenizer", similarity_threshold=0.55,
        round_to=6))
    spark.sparkContext.setJobDescription("clustering")
    clusters = stage("clustering", lambda: CL.connected_components(
        matched.select("id1", "id2"),
        nodes=docs.select(F.col("doc_id").alias("eid"))))
    print(f"{'TOTAL':16s} {time.perf_counter()-t_all:7.2f}s", flush=True)

    import gc
    gc.collect()
    spark.catalog.clearCache()
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        it.next()._2().unpersist(True)

spark.stop()
