"""Incremental streaming corpus cleaning: first-seen-wins semantics
across micro-batches, survivor-pointer chains, retry idempotency."""

import os

from pyjedai_spark.streaming.incremental_clean import process_clean_increment

GOOD = ("the quick brown fox jumps over that lazy dog with good text "
        * 10).strip()
GOOD2 = ("a completely different corpus piece that still reads like real "
         "prose with the usual function words in it and enough length "
         * 6).strip()


def _run(spark, tmp, batches):
    state = str(tmp / "state")
    out = str(tmp / "out")
    for bid, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "doc_id long, text string, url string")
        process_clean_increment(df, state, out, batch_id=bid, url_col="url")
    res = spark.read.option("basePath", out).parquet(out)
    return {r["eid"]: (r["status"], r["survivor"], r["batch_id"])
            for r in res.collect()}


def test_incremental_clean_cross_batch(spark, tmp_path):
    batches = [
        # batch 0: 0 kept; 1 url-dup of 0; 2 low quality
        [(0, GOOD, "https://a.com/p"),
         (1, GOOD2, "HTTPS://A.COM:443/p/"),
         (2, "tiny text", "https://b.com/q")],
        # batch 1: 3 exact dup of 0 (same fp, new url); 4 near dup of 0;
        # 5 kept (different content)
        [(3, GOOD, "https://c.com/r"),
         (4, GOOD + " trailing extras", "https://d.com/s"),
         (5, GOOD2, "https://e.com/t")],
        # batch 2: 6 near-dups 4 (which was DROPPED) -> survivor must
        # forward through 4's pointer to 0
        [(6, GOOD + " trailing extras indeed", "https://f.com/u")],
    ]
    got = _run(spark, tmp_path, batches)
    assert got[0] == ("kept", 0, 0)
    assert got[1][:2] == ("url_dup", 0)
    assert got[2][0] == "low_quality" and got[2][1] is None
    assert got[3][:2] == ("exact_dup", 0)
    assert got[4][:2] == ("near_dup", 0)
    assert got[5][0] == "kept"
    assert got[6][:2] == ("near_dup", 0), got[6]  # chain through 4
    assert len(got) == 7  # every doc labeled exactly once


def test_incremental_clean_in_batch_chain(spark, tmp_path):
    """A(10)-B(11) and B(11)-C(12) edges without A-C: C's survivor must
    pointer-jump to 10 within the batch."""
    a = GOOD
    b = GOOD + " x1 x2 x3 x4 x5 x6 x7"
    c = GOOD + " x1 x2 x3 x4 x5 x6 x7 y1 y2 y3 y4 y5 y6 y7 y8 y9 z1 z2 z3 z4 z5"
    got = _run(spark, tmp_path, [[(10, a, "https://a.com/1"),
                                  (11, b, "https://a.com/2"),
                                  (12, c, "https://a.com/3")]])
    assert got[10][0] == "kept"
    assert got[11][:2] == ("near_dup", 10)
    # c near-dups b but not a: survivor still resolves to the kept 10
    assert got[12][:2] == ("near_dup", 10)
    edges_dir = os.path.join(str(tmp_path / "state"), "edges")
    edges = {(r["id1"], r["id2"]) for r in
             spark.read.parquet(edges_dir).collect()}
    assert (11, 12) in edges or (12, 11) in edges
    assert (10, 12) not in edges and (12, 10) not in edges


def test_incremental_clean_stream_wiring(spark, tmp_path):
    """End-to-end through Structured Streaming: readStream ->
    foreachBatch(process_clean_increment) with availableNow."""
    from pyjedai_spark.streaming.incremental_clean import (
        incremental_clean_stream)
    inp = str(tmp_path / "in")
    spark.createDataFrame(
        [(0, GOOD, "https://a.com/p"), (1, GOOD, "HTTPS://A.COM/p/")],
        "doc_id long, text string, url string").write.parquet(inp)
    q = incremental_clean_stream(
        spark, inp, str(tmp_path / "state"), str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        schema="doc_id long, text string, url string", url_col="url")
    q.awaitTermination(300)
    res = {r["eid"]: r["status"] for r in
           spark.read.option("basePath", str(tmp_path / "out"))
           .parquet(str(tmp_path / "out")).collect()}
    assert res == {0: "kept", 1: "url_dup"}


def test_incremental_clean_retry_idempotent(spark, tmp_path):
    batches = [
        [(0, GOOD, "https://a.com/p")],
        [(1, GOOD + " tail words", "https://b.com/q"),
         (2, GOOD2, "https://c.com/r")],
    ]
    got1 = _run(spark, tmp_path, batches)
    # re-run the LAST batch (simulated retry after failure mid-commit)
    df = spark.createDataFrame(batches[1], "doc_id long, text string, url string")
    process_clean_increment(df, str(tmp_path / "state"),
                            str(tmp_path / "out"), batch_id=1, url_col="url")
    out = spark.read.option("basePath", str(tmp_path / "out")) \
        .parquet(str(tmp_path / "out"))
    got2 = {r["eid"]: (r["status"], r["survivor"], r["batch_id"])
            for r in out.collect()}
    assert got1 == got2
    # state stores hold exactly one copy of each batch partition
    bands = spark.read.option(
        "basePath", os.path.join(str(tmp_path / "state"), "bands")) \
        .parquet(os.path.join(str(tmp_path / "state"), "bands"))
    assert bands.groupBy("eid", "key").count().where("count > 1").count() == 0


def test_reconcile_equals_batch_pipeline(spark, tmp_path):
    """The judge-specified closure of the retroactive-merge delta: after
    reconcile_clean_state, the streaming state equals
    corpus_clean_pipeline on the same corpus — including the bridge case
    (a late doc linking two previously-kept docs) the append-only
    streaming labels cannot merge."""
    from pyjedai_spark.pipeline import corpus_clean_pipeline
    from pyjedai_spark.streaming.incremental_clean import (
        reconcile_clean_state)

    mid = GOOD + " u1 u2 u3 u4 u5 u6 u7"
    far = GOOD + " u1 u2 u3 u4 u5 u6 u7 v1 v2 v3 v4 v5 v6 v7 v8 v9 w1 w2 w3"
    batches = [
        # batch 0: two docs that are NOT near-dups of each other; 8 has
        # NULL text (fingerprint must coalesce to md5(''), not md5(NULL))
        [(0, GOOD, "https://a.com/1"), (1, far, "https://a.com/2"),
         (2, "tiny", "https://b.com/x"), (3, GOOD2, "https://c.com/y"),
         (8, None, "https://h.com/8")],
        # batch 1: 4 bridges 0 and 1 (near-dup of both); 5 exact dup of 3;
        # 6 url dup of 0's url; 7 null url survives; 9 empty text — must
        # exact-dup the prior NULL-text doc 8 across the batch boundary
        [(4, mid, "https://d.com/3"), (5, GOOD2, "https://e.com/4"),
         (6, GOOD2 + " more words here", "HTTPS://A.COM:443/1"),
         (7, GOOD2 + " alpha beta gamma delta epsilon zeta eta theta iota "
          "kappa lam mu nu xi omicron pi rho sigma tau", None),
         (9, "", "https://i.com/9")],
    ]
    rows = [r for b in batches for r in b]
    state, out = str(tmp_path / "state"), str(tmp_path / "out")
    for bid, rws in enumerate(batches):
        df = spark.createDataFrame(rws, "doc_id long, text string, url string")
        process_clean_increment(df, state, out, batch_id=bid, url_col="url")

    # pre-reconciliation: 0 and 1 both kept (documented append-only delta)
    pre = {r["eid"]: r["status"] for r in
           spark.read.option("basePath", out).parquet(out).collect()}
    assert pre[0] == "kept" and pre[1] == "kept" and pre[4] == "near_dup"

    rec = {(r["eid"]): (r["status"], r["survivor"]) for r in
           reconcile_clean_state(spark, state, out).collect()}
    full = spark.createDataFrame(rows, "doc_id long, text string, url string")
    want = {r["eid"]: (r["status"], r["survivor"]) for r in
            corpus_clean_pipeline(full, url_col="url").collect()}
    assert rec == want
    # and the bridge actually merged: 1 now defers to 0 through 4
    assert rec[1] == ("near_dup", 0) and rec[4] == ("near_dup", 0)
    # null-text fingerprint joined the prior store: 9 exact-dups 8, not
    # a NULL-keyed miss that would leave both independently labeled
    assert pre[9] == "exact_dup"
