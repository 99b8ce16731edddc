"""Schema clustering (ref src/pyjedai/schema/clustering.py:45-277):
attribute-level ER workflow + per-cluster entity resolution, plus the
fused block-cleaning stage it exercises."""

from functools import reduce

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def two_tables(spark):
    """Tiny two-dataset fixture with an obvious attribute alignment:
    name~fullname and city~town share value vocabularies; zzz/note match
    nothing (their docs are padded wide enough that the shared 'nan' /
    'berlin' tokens stay under cosine 0.35). nulls exercise the 'nan'
    astype(str) quirk and the notna row-membership rule. The vocabulary
    is sized to yield THREE block-cardinality levels (1, 2, 4) — the
    reference purging scan returns threshold 0 on a 2-level input and
    would drop every block."""
    d1 = spark.createDataFrame(
        [(0, "alice smith", "berlin", "x1 x4 x5 x6 x7 x8"),
         (1, "bob jones", "paris", None),
         (2, None, "berlin", "x3 berlin x9 x10 x11 x12 x13 x14")],
        "id long, name string, city string, zzz string")
    d2 = spark.createDataFrame(
        [(10, "alice smith", "berlin", "q1"),
         (11, "carol white", "madrid", None),
         (12, "bob jones", None, "q3")],
        "rid long, fullname string, town string, note string")
    return d1, d2


def _schema_clustered_er_looped(d1, d2, clusters, docs1, docs2, workflow,
                                id_col="doc_id", id_col2=None,
                                text_col="text"):
    """Reference-faithful per-cluster loop (clustering.py:255-273): run
    a full BlockingBasedWorkFlow per qualifying cluster and union the
    resulting pairs — the reference the batched single plan
    (``schema_clustered_er``) is checked against. ``id_col2`` keys
    ``d2``/``docs2`` (default ``id_col``); the workflow sees both sides
    keyed by ``id_col``."""
    from pyjedai_spark.schema_clustering import cluster_member_rows

    id2 = id_col2 or id_col
    mem = cluster_member_rows(d1, d2, clusters, id_col, id2).localCheckpoint()
    cids = [r["cluster_id"]
            for r in mem.select("cluster_id").distinct().collect()]
    outs = []
    for cid in sorted(cids):
        sub = mem.where(F.col("cluster_id") == cid)
        s1 = docs1.join(sub.where(F.col("side") == 1).select(
            F.col("eid").alias(id_col)), id_col)
        s2 = docs2.join(sub.where(F.col("side") == 2).select(
            F.col("eid").alias(id2)), id2).withColumnRenamed(id2, id_col)
        res = workflow.run(s1, id_col=id_col, text_col=text_col, d2=s2)
        if "id1" not in res.columns:
            # (eid, cluster_id) components -> cross-side pairs (size-2
            # CCER components are one per side); pair-shaped clusterer
            # output (unique mapping, best match) is already D1 x D2
            res = (res.join(sub.withColumnRenamed("cluster_id", "_sc"),
                            "eid")
                   .groupBy("cluster_id")
                   .agg(F.min(F.when(F.col("side") == 1, F.col("eid")))
                        .alias("id1"),
                        F.min(F.when(F.col("side") == 2, F.col("eid")))
                        .alias("id2"))
                   .where(F.col("id1").isNotNull()
                          & F.col("id2").isNotNull()))
        outs.append(res.select(F.lit(cid).alias("cluster_id"), "id1", "id2"))
    return reduce(DataFrame.unionByName, outs).distinct()


def test_attribute_entities_names_values_hybrid(spark, two_tables):
    from pyjedai_spark.schema_clustering import attribute_entities

    d1, _ = two_tables
    names = {r["attr"]: r["text"]
             for r in attribute_entities(d1, "names", "id").collect()}
    assert names == {"id": "id", "name": "name", "city": "city",
                     "zzz": "zzz"}

    vals = {r["attr"]: r["text"]
            for r in attribute_entities(d1, "values", "id").collect()}
    # id-ordered, missing -> literal 'nan' (pandas astype(str) quirk,
    # ref clustering.py:146-169)
    assert vals["name"] == "alice smith bob jones nan"
    assert vals["zzz"] == ("x1 x4 x5 x6 x7 x8 nan "
                           "x3 berlin x9 x10 x11 x12 x13 x14")
    assert vals["id"] == "0 1 2"

    hyb = {r["attr"]: r["text"]
           for r in attribute_entities(d1, "hybrid", "id").collect()}
    assert hyb["city"] == "city berlin paris berlin"

    # aid follows column order from the offset (D2 continues after D1)
    aids = {r["attr"]: r["aid"]
            for r in attribute_entities(d1, "names", "id",
                                        aid_offset=4).collect()}
    assert aids == {"id": 4, "name": 5, "city": 6, "zzz": 7}

    with pytest.raises(ValueError):
        attribute_entities(d1, "bogus", "id")


def test_attribute_entities_max_values_bounds_sample(spark, two_tables):
    from pyjedai_spark.schema_clustering import attribute_entities

    d1, _ = two_tables
    vals = {r["attr"]: r["text"]
            for r in attribute_entities(d1, "values", "id",
                                        max_values=2).collect()}
    assert vals["name"] == "alice smith bob jones"  # first 2 by id


def test_schema_attribute_clusters(spark, two_tables):
    from pyjedai_spark.schema_clustering import schema_attribute_clusters

    d1, d2 = two_tables
    # cosine/0.35 (the intended reference config): with the module's
    # dice/0.0 default any shared token — including the 'nan' null
    # literal — creates an edge, everything merges into one >2-element
    # component and the size-2 rule drops it all
    out = schema_attribute_clusters(d1, d2, on="values", id_col="id",
                                    id_col2="rid", metric="cosine",
                                    similarity_threshold=0.35).collect()
    by_attr = {(r["attr"], r["side"]): r["cluster_id"] for r in out}
    assert len(out) == 8  # every attribute appears exactly once
    # name(aid 1) <-> fullname(aid 5) and city(aid 2) <-> town(aid 6)
    # pair up; kept clusters are 2-element cross-side components labeled
    # by their min aid (ref keeps only len==2, clustering.py:465-467)
    assert by_attr[("name", 1)] == by_attr[("fullname", 2)] == 1
    assert by_attr[("city", 1)] == by_attr[("town", 2)] == 2
    # zzz/note/id/rid match nothing -> the appended redundant cluster
    assert by_attr[("zzz", 1)] == -1
    assert by_attr[("note", 2)] == -1
    assert by_attr[("id", 1)] == -1
    assert by_attr[("rid", 2)] == -1


def test_cluster_member_rows_notna_and_both_sides(spark, two_tables):
    from pyjedai_spark.schema_clustering import (cluster_member_rows,
                                                 schema_attribute_clusters)

    d1, d2 = two_tables
    clusters = schema_attribute_clusters(d1, d2, on="values", id_col="id",
                                         id_col2="rid", metric="cosine",
                                         similarity_threshold=0.35)
    mem = cluster_member_rows(d1, d2, clusters, "id", "rid").collect()
    got = {(r["cluster_id"], r["eid"], r["side"]) for r in mem}
    # name-cluster: d1 row 2 has null name -> excluded (notna rule,
    # ref clustering.py:219-236); d2 rows all have fullname
    assert {(e, s) for c, e, s in got if c == 1} == {
        (0, 1), (1, 1), (10, 2), (11, 2), (12, 2)}
    # city-cluster: d2 row 12 has null town -> excluded
    assert {(e, s) for c, e, s in got if c == 2} == {
        (0, 1), (1, 1), (2, 1), (10, 2), (11, 2)}
    # the appended redundant cluster holds {id, zzz | rid, note} — it
    # IS cross-side, and the reference runs ER on it too (the redundant
    # set is appended BEFORE the both-sides check, clustering.py:200-215)
    # — id/rid are never null so every row belongs
    assert {(e, s) for c, e, s in got if c == -1} == {
        (0, 1), (1, 1), (2, 1), (10, 2), (11, 2), (12, 2)}


def test_schema_clustered_er_matches_within_clusters(spark, two_tables):
    from pyjedai_spark.schema_clustering import (schema_attribute_clusters,
                                                 schema_clustered_er)

    d1, d2 = two_tables
    clusters = schema_attribute_clusters(d1, d2, on="values", id_col="id",
                                         id_col2="rid", metric="cosine",
                                         similarity_threshold=0.35
                                         ).localCheckpoint()
    docs1 = d1.select("id", F.coalesce("name", F.lit("")).alias("text"))
    docs2 = d2.select("rid", F.coalesce("fullname", F.lit("")).alias("text"))
    out = schema_clustered_er(d1, d2, clusters, docs1, docs2,
                              id_col="id", id_col2="rid",
                              similarity_threshold=0.5).collect()
    pairs = {(r["id1"], r["id2"]) for r in out}
    # alice smith <-> alice smith and bob jones <-> bob jones are exact
    # 1-1 matches in both qualifying clusters -> 2-element components
    assert (0, 10) in pairs
    assert (1, 12) in pairs
    assert (0, 12) not in pairs and (1, 10) not in pairs


def test_batched_er_equals_looped(spark, two_tables):
    """The batched single-plan ER must produce the same pair set as the
    reference-faithful per-cluster loop on the same inputs."""
    from pyjedai_spark.schema_clustering import (schema_attribute_clusters,
                                                 schema_clustered_er)
    from pyjedai_spark.workflow import BlockingBasedWorkFlow

    d1, d2 = two_tables
    clusters = schema_attribute_clusters(d1, d2, on="values", id_col="id",
                                         id_col2="rid", metric="cosine",
                                         similarity_threshold=0.35
                                         ).localCheckpoint()
    docs1 = d1.select("id", F.coalesce("name", F.lit("")).alias("text"))
    docs2 = d2.select("rid", F.coalesce("fullname", F.lit("")).alias("text"))
    batched = {(r["cluster_id"], r["id1"], r["id2"])
               for r in schema_clustered_er(
                   d1, d2, clusters, docs1, docs2, id_col="id",
                   id_col2="rid", similarity_threshold=0.5).collect()}

    # loop the clusters driver-side with the same stages: CCER standard
    # blocking, D1 x D2 pairs, cosine matching, 2-element components
    wf = BlockingBasedWorkFlow(
        entity_matching={"method": "entity_matching",
                         "params": {"metric": "cosine",
                                    "similarity_threshold": 0.5}},
        clustering={"method": "connected_components"})
    looped = {(r["cluster_id"], r["id1"], r["id2"])
              for r in _schema_clustered_er_looped(
                  d1, d2, clusters, docs1, docs2, wf, id_col="id",
                  id_col2="rid").collect()}
    assert batched == looped


def test_looped_er_default_workflow(spark, two_tables):
    """The per-cluster loop with the best-CCER workflow (which ends in
    unique mapping and so returns pairs, not components) yields the 1-1
    matches of every qualifying cluster."""
    from pyjedai_spark.schema_clustering import schema_attribute_clusters
    from pyjedai_spark.workflow import BlockingBasedWorkFlow

    d1, d2 = two_tables
    clusters = schema_attribute_clusters(d1, d2, on="values", id_col="id",
                                         id_col2="rid", metric="cosine",
                                         similarity_threshold=0.35
                                         ).localCheckpoint()
    docs1 = d1.select("id", F.coalesce("name", F.lit("")).alias("text"))
    docs2 = d2.select("rid", F.coalesce("fullname", F.lit("")).alias("text"))
    out = _schema_clustered_er_looped(d1, d2, clusters, docs1, docs2,
                                      BlockingBasedWorkFlow.best_ccer(),
                                      id_col="id", id_col2="rid")
    assert out.columns == ["cluster_id", "id1", "id2"]
    got = {(r["id1"], r["id2"]) for r in out.collect()}
    assert got == {(0, 10), (1, 12)}


def test_clean_blocks_equals_purge_then_filter(spark, docs):
    """clean_blocks is a pure fusion: output-identical postings to the
    two-stage chain, at every (smoothing, ratio) combo tried, in both
    ER modes."""
    from pyjedai_spark.operators import block_building as BB
    from pyjedai_spark.operators import block_cleaning as BC
    from pyjedai_spark.operators import ccer as X

    sample = docs.limit(300)
    dirty = BB.standard_blocking(sample).localCheckpoint()
    # CCER postings: the side column alone selects the CCER cardinality
    # (n1*n2) and the both-sides validity rule
    ccer = X.ccer_blocking(sample.where("doc_id % 2 = 0"),
                           sample.where("doc_id % 2 = 1")).localCheckpoint()
    for p in (dirty, ccer):
        for s, r in [(1.0, 0.8), (1.025, 0.5)]:
            chain = BC.block_filtering(BC.block_purging(p, s), r)
            fused = BC.clean_blocks(p, s, r)
            assert fused.columns == chain.columns
            a = {tuple(x) for x in chain.collect()}
            b = {tuple(x) for x in fused.collect()}
            assert a and a == b


def test_clean_blocks_keep_size_matches_recount(spark, docs):
    """keep_size=True's bs column equals the rebuilt block's actual
    size — the contract edge_weights relies on to skip its groupBy."""
    from pyjedai_spark.operators import block_building as BB
    from pyjedai_spark.operators import block_cleaning as BC

    p = BB.standard_blocking(docs.limit(300)).localCheckpoint()
    fused = BC.clean_blocks(p, 1.0, 0.8, keep_size=True).localCheckpoint()
    assert "bs" in fused.columns
    recount = fused.groupBy("key").agg(F.count("*").alias("n"))
    bad = fused.join(recount, "key").where(F.col("bs") != F.col("n"))
    assert bad.count() == 0


def test_edge_weights_precomputed_bs_equals_recomputed(spark, docs):
    """edge_weights with the upstream bs column must give bit-identical
    weights to the self-computed path."""
    from pyjedai_spark.operators import block_building as BB
    from pyjedai_spark.operators import block_cleaning as BC
    from pyjedai_spark.operators import comparison_cleaning as CC

    p = BB.standard_blocking(docs.limit(300)).localCheckpoint()
    fused = BC.clean_blocks(p, 1.0, 0.8, keep_size=True).localCheckpoint()
    with_bs = {(r["id1"], r["id2"]): (r["weight"], r["cbs"])
               for r in CC.edge_weights(fused, "JS").collect()}
    without = {(r["id1"], r["id2"]): (r["weight"], r["cbs"])
               for r in CC.edge_weights(fused.drop("bs"), "JS").collect()}
    assert with_bs == without


def test_edge_weights_salted_equals_plain(spark, docs, monkeypatch):
    """Chunk-split hot-block enumeration is output-identical to the
    plain self-join for every scheme family (counter aggregation order
    must not matter), at a SALT_BLOCK_SIZE low enough that real blocks
    split."""
    from pyjedai_spark.operators import block_building as BB
    from pyjedai_spark.operators import comparison_cleaning as CC

    p = BB.standard_blocking(docs.limit(200)).localCheckpoint()
    assert p.groupBy("key").count().where("count > 4").count() > 0
    for scheme in ["JS", "CN-CBS", "SN-CBS", "ECBS"]:
        plain = {(r["id1"], r["id2"]): (round(r["weight"], 9), r["cbs"])
                 for r in CC.edge_weights(p, scheme).collect()}
        with monkeypatch.context() as m:
            m.setattr(BB, "SALT_BLOCK_SIZE", 4)
            salted = {(r["id1"], r["id2"]): (round(r["weight"], 9),
                                             r["cbs"])
                      for r in CC.edge_weights(p, scheme).collect()}
        assert plain == salted, scheme


# ---------------------------------------------------------------- RDF

@pytest.fixture(scope="module")
def triples(spark):
    """Tiny RDF fixture: t1 predicates p_name/p_city plus the shared
    p_lang; t2 q_full plus p_lang. Names carry three tokens so
    BlockFiltering(0.2) keeps floor(0.2*3+0.5)=1 block per subject."""
    t1 = spark.createDataFrame(
        [("s0", "p_name", "alice q smith", 0),
         ("s1", "p_name", "bob w jones", 1),
         ("s2", "p_name", "carol e white", 2),
         ("s0", "p_city", "berlin", 3),
         ("s1", "p_city", "paris", 4),
         ("s0", "p_lang", "en", 5)],
        "subject string, predicate string, object string, tid long")
    t2 = spark.createDataFrame(
        [("r0", "q_full", "alice q smith", 0),
         ("r1", "q_full", "bob w jones", 1),
         ("r2", "q_full", "dave r black", 2),
         ("r0", "p_lang", "fr", 3),
         ("r1", "q_full", None, 4)],
        "subject string, predicate string, object string, tid long")
    return t1, t2


def test_rdf_predicate_entities_merge_order_and_flags(spark, triples):
    """Merged-predicate semantics (ref schema/clustering.py:388-404):
    one document per distinct predicate, d1 objects before d2 objects in
    row order, aid = insertion order scanning d1 then d2, per-side
    membership flags, null object -> the reference's str(NaN) 'nan'."""
    from pyjedai_spark.schema_clustering import rdf_predicate_entities

    t1, t2 = triples
    rows = {r["predicate"]: r
            for r in rdf_predicate_entities(t1, t2).collect()}
    assert rows["p_name"]["text"] == "alice q smith bob w jones carol e white"
    assert rows["p_name"]["aid"] == 0
    assert (rows["p_name"]["in_d1"], rows["p_name"]["in_d2"]) == (1, 0)
    # shared predicate: ONE document, d1's objects first, both flags set
    assert rows["p_lang"]["text"] == "en fr"
    assert (rows["p_lang"]["in_d1"], rows["p_lang"]["in_d2"]) == (1, 1)
    # aid follows first appearance scanning d1 (by tid) then d2
    assert rows["p_city"]["aid"] == 1
    assert rows["p_lang"]["aid"] == 2
    assert rows["q_full"]["aid"] == 3
    # null object -> 'nan' (the reference would TypeError; documented)
    assert rows["q_full"]["text"].endswith("dave r black nan")


def test_rdf_predicate_clusters_partition_property(spark, triples):
    """Every predicate appears exactly once; cluster ids are either a
    member's min aid or the appended redundant cluster -1 (ref
    clustering.py:438-448). Exact chain values are pinned by the
    rdf_predicate_clusters DuckDB oracle."""
    from pyjedai_spark.schema_clustering import (rdf_predicate_clusters,
                                                 rdf_predicate_entities)

    t1, t2 = triples
    preds = rdf_predicate_entities(t1, t2).localCheckpoint()
    out = rdf_predicate_clusters(preds).collect()
    assert sorted(r["aid"] for r in out) == [0, 1, 2, 3]
    aids = {r["aid"] for r in out}
    for r in out:
        assert r["cluster_id"] == -1 or r["cluster_id"] in aids
    by_cl = {}
    for r in out:
        by_cl.setdefault(r["cluster_id"], []).append(r["aid"])
    for cid, members in by_cl.items():
        if cid != -1:
            assert cid == min(members)


def test_rdf_subject_er_qualifying_clusters_and_pairs(spark, triples):
    """Cross-side subject resolution inside qualifying predicate
    clusters only (ref clustering.py:452-532): exact-name subjects
    match 1-1; d1-only clusters and <2-triples-per-side clusters are
    skipped."""
    from pyjedai_spark.schema_clustering import rdf_subject_er

    t1, t2 = triples
    clusters = spark.createDataFrame(
        [(0, "p_name", 1, 0), (0, "q_full", 0, 1),   # qualifying
         (1, "p_city", 1, 0),                          # d1-only: skipped
         (2, "p_lang", 1, 1)],                         # 1 triple/side: skipped
        "cluster_id long, predicate string, in_d1 long, in_d2 long")
    out = rdf_subject_er(t1, t2, clusters).collect()
    pairs = {(r["cluster_id"], r["sid1"], r["sid2"]) for r in out}
    assert (0, "s0", "r0") in pairs
    assert (0, "s1", "r1") in pairs
    # carol/dave share no tokens; city/lang clusters produce nothing
    assert all(c == 0 for c, _, _ in pairs)
    assert all(s1 in {"s0", "s1"} for _, s1, _ in pairs)
    # s0/r0 documents are identical -> cosine exactly 1; r1 carries the
    # null-object 'nan' token (documented coalesce), so s1/r1 sits
    # strictly between the UMC threshold and 1.
    by_pair = {(r["sid1"], r["sid2"]): r["weight"] for r in out}
    assert by_pair[("s0", "r0")] == 1.0
    assert 0.1 < by_pair[("s1", "r1")] < 1.0
