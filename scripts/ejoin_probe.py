"""Stage-level probe of ejoin_cosine_zipf (bench Zipf corpus, sf0.1 size).

Replicates joins.ejoin's prefix-filter body (without the positional
bound) with timers around each localCheckpoint barrier + the final
verify, which runs the library's Arrow intersect kernel.
"""
import os, sys, time

sys.path.insert(0, ".")
from pyjedai_spark.session import get_spark  # noqa: E402

t_all = time.perf_counter()
spark = get_spark()
from pyspark.sql import functions as F  # noqa: E402
from pyjedai_spark.operators import joins as J  # noqa: E402
from pyjedai_spark.operators.dedup import _make_inter_udf  # noqa: E402
from pyjedai_spark.synth import webtext_df  # noqa: E402

sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
docs, _ = webtext_df(spark, n_docs=n_docs, seed=101, vocab_size=20000)
docs = docs.localCheckpoint()
print(f"setup {time.perf_counter()-t_all:.2f}s  n_docs={n_docs}")

metric, threshold = "cosine", 0.82
REPS = int(os.environ.get("PROBE_REPS", "3"))

for rep in range(REPS):
    t0 = time.perf_counter()
    toks, _, ranked = J._token_index(docs, "standard", 2, "eid", "text")
    prefix = (ranked.where(F.col("_rn") <= J._prefix_len(metric, threshold, F.col("f")))
              .select("eid", "tok").localCheckpoint())
    t1 = time.perf_counter()
    cand = (prefix.alias("a").join(prefix.alias("b"), "tok")
            .where(F.col("a.eid") < F.col("b.eid"))
            .select(F.col("a.eid").alias("id1"), F.col("b.eid").alias("id2"))
            .distinct().localCheckpoint())
    t2 = time.perf_counter()
    cand_ids = (cand.select(F.col("id1").alias("eid"))
                .union(cand.select(F.col("id2").alias("eid"))).distinct())
    tv = toks.join(cand_ids, "eid", "left_semi").localCheckpoint()
    t3 = time.perf_counter()
    j = (cand.join(tv.select(F.col("eid").alias("id1"), F.col("toks").alias("_t1")), "id1")
         .join(tv.select(F.col("eid").alias("id2"), F.col("toks").alias("_t2")), "id2"))
    j = (j.withColumn("c", _make_inter_udf()("id1", "_t1", "id2", "_t2"))
         .withColumn("f1", F.size("_t1")).withColumn("f2", F.size("_t2")))
    sim = F.round(J._sim_expr(metric, F.col("c"), F.col("f1"), F.col("f2")).cast("double"), 6)
    out = (j.withColumn("sim", sim).where(F.col("sim") >= threshold)
           .select("id1", "id2", "sim"))
    out.write.format("noop").mode("overwrite").save()
    t4 = time.perf_counter()
    ncand = cand.count()
    nout = out.count()
    print(f"rep{rep} prefix={t1-t0:.2f} cand={t2-t1:.2f} tv={t3-t2:.2f} "
          f"verify={t4-t3:.2f} total={t4-t0:.2f} ncand={ncand} nout={nout}")
spark.stop()
