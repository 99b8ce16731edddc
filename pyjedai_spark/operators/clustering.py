"""Clustering: similarity graph -> equivalence classes.

ConnectedComponentsClustering (reference src/pyjedai/clustering.py:431-475
— NetworkX on the driver) becomes an iterative min-label edge
contraction (hash-min in the style of Kiveris et al., "Connected
Components in MapReduce and Beyond", SOCC'14): each round every node of
the contracted graph adopts the minimum label of its closed
neighborhood and the edge list is relabeled/deduped — the graph
collapses toward one representative per component in O(log n) rounds,
each round a bounded number of shuffles on a monotonically shrinking
edge set. Lineage is truncated per round with localCheckpoint (SURVEY
§4 item 3: no Catalyst support for fixpoints). Each round first counts
the contracted edge set; once it holds at most DRIVER_EDGE_LIMIT edges
it is collected through Arrow and finished on the driver by a numpy
union-find, whose labels become the last round's. Small graphs (every
post-matching graph of the benchmarks) thus run no distributed round:
each round is about a dozen Spark jobs, and at these sizes per-job
latency, not task work, is the cost.

Sequential greedy clusterers (UniqueMapping / Center / MergeCenter /
BestMatch, clustering.py:477-791) are inherently order-dependent scans of
a desc-sorted edge list; post-matching graphs are small (they are the
OUTPUT of aggressive pruning), so they run driver-side on a collected
edge list with an explicit size guard — same strategy the reference
uses implicitly by being single-process. UniqueMapping alone has no
guard: above DRIVER_EDGE_LIMIT it matches locally-dominant edges in
Spark rounds until the rest fits, then finishes with the same scan.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

# Graphs of at most this many edges finish on the driver; two layers
# use it. Here it bounds the contracted edge set that connected
# components collects and the edge set that unique mapping scans. In
# comparison_cleaning it bounds both the postings rows and the block
# pairs they imply (sum of bs*(bs-1)/2) that meta-blocking collects and
# weights. Below it, per-job latency costs more than the collect.
DRIVER_EDGE_LIMIT = 5_000_000


def _bidir(edges: DataFrame) -> DataFrame:
    return edges.select(F.col("id1").alias("u"), F.col("id2").alias("v")).union(
        edges.select(F.col("id2").alias("u"), F.col("id1").alias("v"))
    )


def _driver_labels(e: DataFrame) -> DataFrame:
    """(u, m=component minimum) for every endpoint of the small edge set
    ``e`` (u, v), computed on the driver by a vectorized union-find."""
    import numpy as np
    import pandas as pd

    pdf = e.toPandas()
    ids, idx = np.unique(
        np.concatenate([pdf["u"].to_numpy(), pdf["v"].to_numpy()]),
        return_inverse=True)
    a, b = idx[:len(pdf)], idx[len(pdf):]
    # ids is sorted, so a smaller index is a smaller id: hook the larger
    # root of every edge spanning two trees onto the smaller one, then
    # pointer-jump every node to its root, until no edge spans two
    # trees. Roots only ever point down, so each tree ends rooted at
    # its component minimum.
    root = np.arange(len(ids))
    while True:
        ra, rb = root[a], root[b]
        span = ra != rb
        if not span.any():
            break
        np.minimum.at(root, np.maximum(ra, rb)[span],
                      np.minimum(ra, rb)[span])
        while (root[root] != root).any():
            root = root[root]
    f = e.schema["u"]
    # one partition: the table is at most 2 x DRIVER_EDGE_LIMIT rows, and
    # Arrow's defaultParallelism slices would each become an output file
    return e.sparkSession.createDataFrame(
        pd.DataFrame({"u": ids, "m": ids[root]}),
        StructType([f, StructField("m", f.dataType, f.nullable)])
    ).coalesce(1)


def connected_components(edges: DataFrame, nodes: DataFrame | None = None,
                         max_iter: int = 50) -> DataFrame:
    """(eid, cluster_id=min reachable id) via min-label contraction.

    Each distributed round labels every node of the contracted graph
    with the minimum of its closed neighborhood, pointer-jumps the
    labels, and relabels/dedups the edge list. Once the contracted edge
    set holds at most ``DRIVER_EDGE_LIMIT`` edges, it is collected and
    finished on the driver in one step (:func:`_driver_labels`): below
    that size each distributed round costs far more in per-job latency
    than the collect does. A graph under the limit from the start never
    runs a distributed round.

    ``nodes`` (one column ``eid``) adds singleton clusters for isolated
    entities.
    """
    e = (
        edges.select(
            F.least("id1", "id2").alias("u"), F.greatest("id1", "id2").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    graph_nodes = (
        e.select(F.col("u").alias("eid")).union(e.select(F.col("v").alias("eid")))
        .distinct()
    )

    # per-round relabeling maps, composed LAZILY after the loop: each
    # lab's lineage is rooted at that round's checkpointed edge set, so
    # the composition is a chain of bounded joins evaluated in ONE final
    # job — materializing the composed assignment every round (the
    # previous shape) paid a full checkpoint job per round for data the
    # loop itself never reads.
    labs = []
    complete = False
    for _ in range(max_iter):
        n = e.count()
        if n == 0:
            break
        if n <= DRIVER_EDGE_LIMIT:
            # before any distributed round these labels already cover
            # every graph node: no composition needed
            complete = not labs
            labs.append(_driver_labels(e))
            break
        # min label over the CLOSED neighborhood of the contracted graph
        closed = _bidir(e.select(F.col("u").alias("id1"), F.col("v").alias("id2"))).union(
            e.select(F.col("u"), F.col("u").alias("v")).union(
                e.select(F.col("v").alias("u"), F.col("v"))
            ).distinct()
        )
        lab = closed.groupBy("u").agg(F.min("v").alias("m"))
        # pointer-jump lab := lab∘lab THREE times: on an ascending path
        # the min-neighborhood labels form a shift map (i -> i-1), so a
        # single jump only contracts the path by 2 edges per round —
        # LINEAR rounds, silently capped by max_iter on long chains.
        # Composing the map with itself j times contracts chains by
        # ~2^j per round, i.e. rounds = O(log_{2^j} diameter); j=3 keeps
        # it 3 node-sized self-joins folded into the one checkpoint job.
        for _ in range(3):
            lab = (
                lab.alias("a")
                .join(lab.select(F.col("u").alias("_m"),
                                 F.col("m").alias("_mm")),
                      F.col("a.m") == F.col("_m"), "left")
                .select(F.col("a.u").alias("u"),
                        F.least(F.coalesce("_mm", "a.m"),
                                F.col("a.m")).alias("m"))
            )
        # lab has THREE consumers (both e_new endpoint joins + the
        # final composition); it is contracted-node-sized and
        # shrinking, so materializing it is far cheaper than
        # re-running its groupBy+jumps per consumer
        lab = lab.localCheckpoint()
        # contract: relabel edge endpoints by their new minimum
        e_new = (
            e.join(lab.withColumnRenamed("u", "_x").withColumnRenamed("m", "mu"),
                   F.col("u") == F.col("_x")).drop("_x")
            .join(lab.withColumnRenamed("u", "_y").withColumnRenamed("m", "mv"),
                  F.col("v") == F.col("_y")).drop("_y")
            .select(F.least("mu", "mv").alias("u"), F.greatest("mu", "mv").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        labs.append(lab)
        e = e_new
    else:
        if not e.isEmpty():
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} "
                "rounds — raise max_iter (labels would be silently "
                "wrong if returned)")

    if complete:
        out = labs[0].select(F.col("u").alias("eid"),
                             F.col("m").alias("cluster_id"))
    else:
        assign = graph_nodes.withColumn("label", F.col("eid"))
        for lab in labs:
            assign = (
                assign.join(lab.withColumnRenamed("u", "label"), "label",
                            "left")
                .select("eid", F.coalesce("m", "label").alias("label"))
            )
        out = assign.select("eid", F.col("label").alias("cluster_id"))
    if nodes is not None:
        singles = nodes.select(F.col(nodes.columns[0]).alias("eid")).join(
            out.select("eid"), "eid", "left_anti"
        ).withColumn("cluster_id", F.col("eid"))
        out = out.union(singles)
    return out


def connected_components_clustering(edges: DataFrame,
                                    nodes: DataFrame | None = None,
                                    similarity_threshold: float | None = None,
                                    dirty: bool = True) -> DataFrame:
    """CCC (clustering.py:431-475): drop edges with weight <
    threshold, components -> (eid, cluster_id); CCER (``dirty=False``)
    keeps only 2-element clusters (lines 466-467), DER keeps all. The
    mode is a flag here because match edges carry no ``side``."""
    e = edges
    if similarity_threshold is not None:
        wcol = "weight" if "weight" in e.columns else "sim"
        e = e.where(F.col(wcol) >= similarity_threshold)
    cc = connected_components(e.select("id1", "id2"), nodes)
    if not dirty:
        sizes = cc.groupBy("cluster_id").agg(F.count("*").alias("n"))
        cc = cc.join(sizes.where(F.col("n") == 2).select("cluster_id"),
                     "cluster_id").select("eid", "cluster_id")
    return cc


def _collect_edges(edges: DataFrame, weight_col: str):
    n = edges.count()
    if n > DRIVER_EDGE_LIMIT:
        raise ValueError(
            f"greedy clusterer input too large ({n} edges); tighten pruning "
            "or raise DRIVER_EDGE_LIMIT"
        )
    return edges.select("id1", "id2", weight_col).collect()


# Locally-dominant rounds a unique mapping runs before it gives up.
# Every round matches at least the globally first edge, so only a
# pathological weight chain longer than this keeps the edge set above
# DRIVER_EDGE_LIMIT.
_UMC_MAX_ROUNDS = 64


def _umc_round(e: DataFrame) -> tuple[DataFrame, DataFrame]:
    """One locally-dominant round over the edge set ``e`` (id1, id2, w):
    the edges that come first for BOTH endpoints under the greedy
    scan's order (1-w, id1, id2), and the edges left between the
    vertices they leave unmatched."""
    bidir = e.select(F.col("id1").alias("u"), "id1", "id2", "w").union(
        e.select(F.col("id2").alias("u"), "id1", "id2", "w"))
    # w desc breaks a float tie of 1-w, so both ends rank the same row
    wnd = Window.partitionBy("u").orderBy(
        (1.0 - F.col("w")).asc(), F.col("id1").asc(), F.col("id2").asc(),
        F.col("w").desc())
    best = bidir.withColumn("_rn", F.row_number().over(wnd)).where("_rn = 1")
    # one best row per vertex, so a duplicated edge row matches once
    dominant = (
        best.where(F.col("u") == F.col("id1")).select("id1", "id2", "w")
        .join(best.where(F.col("u") == F.col("id2")).select("id1", "id2", "w"),
              ["id1", "id2", "w"])
        .localCheckpoint()
    )
    matched = dominant.select(F.col("id1").alias("v")).union(
        dominant.select(F.col("id2").alias("v")))
    rest = (
        e.join(matched.withColumnRenamed("v", "id1"), "id1", "left_anti")
        .join(matched.withColumnRenamed("v", "id2"), "id2", "left_anti")
        .select("id1", "id2", "w")
        .localCheckpoint()
    )
    return dominant, rest


def _driver_unique_mapping(e: DataFrame) -> DataFrame:
    """The greedy scan of the small edge set ``e`` (id1, id2, w) on the
    driver, in the reference PQ order (1-w, id1, id2)."""
    rows = e.collect()
    rows.sort(key=lambda r: (1 - r[2], r[0], r[1]))
    matched: set = set()
    out = []
    for id1, id2, w in rows:
        if id1 in matched or id2 in matched:
            continue
        matched.add(id1)
        matched.add(id2)
        out.append((id1, id2, float(w)))
    return e.sparkSession.createDataFrame(
        out, StructType([e.schema["id1"], e.schema["id2"],
                         StructField("weight", DoubleType())]))


def unique_mapping_clustering(edges: DataFrame, similarity_threshold: float = 0.1,
                              weight_col: str = "sim") -> DataFrame:
    """UMC (clustering.py:477-539): desc-weight greedy 1-1 matching of
    edges with w > threshold; ties broken like the reference PQ tuple
    (1-w, id1, id2). Returns matched pairs (id1, id2, weight).
    CCER-only in the reference — exposed generically here.

    The greedy scan matches an edge iff it precedes every other edge
    sharing an endpoint, i.e. iff it is locally dominant. So while the
    edge set is above ``DRIVER_EDGE_LIMIT``, each round matches every
    locally-dominant edge in Spark and drops its vertices (Preis 1999;
    Manne & Bisseling 2007); once it is at most the limit, the rest is
    collected and finished by the greedy scan on the driver, as
    :func:`connected_components` finishes. Every route returns exactly
    the greedy output.
    """
    w = F.col(weight_col)
    e = (edges.where(w > similarity_threshold)
         .select("id1", "id2", w.cast("double").alias("w"))
         .localCheckpoint())
    parts = []
    for _ in range(_UMC_MAX_ROUNDS):
        n = e.count()
        if n == 0:
            break
        if n <= DRIVER_EDGE_LIMIT:
            parts.append(_driver_unique_mapping(e))
            break
        dominant, e = _umc_round(e)
        parts.append(dominant.withColumnRenamed("w", "weight"))
    else:
        raise RuntimeError(
            f"unique_mapping_clustering did not converge in {_UMC_MAX_ROUNDS} "
            "rounds — pathological weight chain")
    if not parts:
        return _driver_unique_mapping(e)
    return reduce(DataFrame.unionByName, parts)


def center_clustering(edges: DataFrame, similarity_threshold: float = 0.5,
                      weight_col: str = "sim", merge: bool = False) -> DataFrame:
    """CenterClustering (clustering.py:568-639) / MergeCenterClustering
    (730-791): desc-weight scan assigns center/member roles; normalized
    by weight-sum in the non-merge variant. Returns (eid, cluster_id).
    """
    spark = edges.sparkSession
    e = edges.where(F.col(weight_col) > similarity_threshold)
    if not merge:
        bw = e.select(F.col("id1").alias("u"), F.col(weight_col).alias("w")).union(
            e.select(F.col("id2").alias("u"), F.col(weight_col).alias("w"))
        )
        sums = bw.groupBy("u").agg(F.sum("w").alias("wsum"))
        weighted = (
            e.join(sums.withColumnRenamed("u", "id1").withColumnRenamed("wsum", "s1"),
                   "id1")
            .join(sums.withColumnRenamed("u", "id2").withColumnRenamed("wsum", "s2"),
                  "id2")
            .select("id1", "id2",
                    (F.col(weight_col) / F.col("s1")
                     + F.col(weight_col) / F.col("s2")).alias("w"))
        )
    else:
        weighted = e.select("id1", "id2", F.col(weight_col).alias("w"))
    # count-before-collect: the OOM guard must fire BEFORE materialization
    rows = _collect_edges(weighted, "w")
    rows.sort(key=lambda r: (-r[2], r[0], r[1]))
    center: dict = {}
    is_center: set = set()
    is_member: set = set()
    for id1, id2, w in rows:
        c1, m1 = id1 in is_center, id1 in is_member
        c2, m2 = id2 in is_center, id2 in is_member
        if (c1 and c2) or (m1 and m2) or (c1 and m2) or (c2 and m1):
            continue
        if not c1 and not m1 and not c2 and not m2:
            is_center.add(id1)
            center[id1] = id1
            is_member.add(id2)
            center[id2] = id1
        elif c1 and not c2 and not m2:
            is_member.add(id2)
            center[id2] = center[id1]
        elif c2 and not c1 and not m1:
            is_member.add(id1)
            center[id1] = center[id2]
    out = [(k, v) for k, v in center.items()]
    return edges.sparkSession.createDataFrame(out, "eid long, cluster_id long")


def best_match_clustering(edges: DataFrame, similarity_threshold: float = 0.5,
                          weight_col: str = "sim") -> DataFrame:
    """BestMatchClustering (clustering.py:641-727): per source entity
    keep its best not-yet-matched target, desc-weight order. Driver-side
    greedy; returns matched pairs."""
    spark = edges.sparkSession
    rows = _collect_edges(edges.where(F.col(weight_col) > similarity_threshold),
                          weight_col)
    rows.sort(key=lambda r: (-r[2], r[0], r[1]))
    taken_src: set = set()
    taken_dst: set = set()
    out = []
    for id1, id2, w in rows:
        if id1 in taken_src or id2 in taken_dst:
            continue
        taken_src.add(id1)
        taken_dst.add(id2)
        out.append((id1, id2, float(w)))
    return spark.createDataFrame(out, "id1 long, id2 long, weight double")


def cut_clustering(edges: DataFrame, similarity_threshold: float = 0.5,
                   alpha: float = 0.2, weight_col: str = "sim",
                   sink_id: int | None = None) -> DataFrame:
    """CutClustering (clustering.py:1007-1053): Gomory-Hu tree of the
    threshold-trimmed graph plus an artificial sink connected to every
    node with capacity alpha; components after removing the sink.

    Min-cut trees have no data-parallel formulation — driver-side
    networkx on the post-pruning match graph (size-guarded), the same
    single-process strategy the reference uses."""
    import networkx as nx

    rows = _collect_edges(edges, weight_col)
    g = nx.Graph()
    all_nodes = set()
    for id1, id2, w in rows:
        a, b = (id1, id2) if id1 < id2 else (id2, id1)
        all_nodes.update((a, b))
        if w > similarity_threshold:
            g.add_edge(a, b, weight=float(w))
    sink = sink_id if sink_id is not None else (max(all_nodes) + 1 if all_nodes
                                                else 0)
    g.add_node(sink)
    for n in all_nodes:
        g.add_edge(sink, n, weight=alpha)
    tree = nx.gomory_hu_tree(g, capacity="weight")
    tree.remove_node(sink)
    out = []
    for cid, comp in enumerate(nx.connected_components(tree)):
        rep = min(comp)
        out.extend((int(n), int(rep)) for n in comp)
    return edges.sparkSession.createDataFrame(
        out or [(None, None)], "eid long, cluster_id long"
    ).where(F.col("eid").isNotNull())


def correlation_clustering(edges: DataFrame, initial_threshold: float = 0.5,
                           similarity_threshold: float = 0.8,
                           non_similarity_threshold: float = 0.2,
                           move_limit: int = 3, lsi_iterations: int = 100,
                           weight_col: str = "sim",
                           random_seed: int = 42,
                           max_nodes: int = 4000) -> DataFrame:
    """CorrelationClustering (clustering.py:793-1005): initial clusters
    = components of edges >= initial_threshold; then ``lsi_iterations``
    seeded random moves (reassign entity / merge clusters / split
    cluster), each kept only if the objective — #(similar pairs
    co-clustered) + #(dissimilar pairs separated) — strictly improves.

    Randomized sequential local search (reference seeds RANDOM_SEED=42,
    clustering.py:19): driver-side with a vectorized numpy objective;
    ``max_nodes`` guards the dense pair space. Same move semantics;
    the RNG draw sequence is implementation-defined, so cluster ids are
    deterministic per THIS engine, not bit-equal to the reference."""
    import random as _random

    import networkx as nx
    import numpy as np

    rows = _collect_edges(edges, weight_col)
    nodes = sorted({x for r in rows for x in (r[0], r[1])})
    if len(nodes) > max_nodes:
        raise ValueError(
            f"correlation clustering input too large ({len(nodes)} nodes); "
            "tighten pruning or raise max_nodes")
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    sim = np.zeros((n, n))
    g = nx.Graph()
    g.add_nodes_from(range(n))
    for id1, id2, w in rows:
        a, b = idx[id1], idx[id2]
        sim[a, b] = sim[b, a] = w
        if w >= initial_threshold:
            g.add_edge(a, b)
    similar = np.triu(sim > similarity_threshold)
    not_similar = np.triu(sim < non_similarity_threshold)

    comps = [sorted(c) for c in nx.connected_components(g)]
    cluster_of = np.zeros(n, dtype=int)
    members: list[set] = []
    for ci, comp in enumerate(comps):
        members.append(set(comp))
        for e in comp:
            cluster_of[e] = ci

    def objective(assign: np.ndarray) -> int:
        same = assign[:, None] == assign[None, :]
        return int((similar & same).sum() + (not_similar & ~same).sum())

    rng = _random.Random(random_seed)
    best = objective(cluster_of)
    n_initial = len(members)
    for _ in range(lsi_iterations):
        move = rng.randint(0, move_limit - 1)
        while move == 1 and len(members) == 1:
            move = rng.randint(0, move_limit - 1)
        trial = cluster_of.copy()
        if move == 0:  # reassign a random entity to a random live cluster
            ent = rng.randrange(n)
            live = [i for i, m in enumerate(members) if m]
            dst = rng.choice(live)
            trial[ent] = dst
        elif move == 1:  # merge two random live clusters
            live = [i for i, m in enumerate(members) if m]
            if len(live) < 2:
                continue
            src, dst = rng.sample(live, 2)
            trial[list(members[src])] = dst
        else:  # split: every 2nd member of a random cluster moves out
            live = [i for i, m in enumerate(members) if len(m) > 1]
            if not live:
                continue
            src = rng.choice(live)
            moved = sorted(members[src])[::2]
            trial[moved] = len(members)
        cand = objective(trial)
        if cand > best:
            best = cand
            # rebuild membership from the accepted assignment
            if trial.max() >= len(members):
                members.append(set())
            new_members: list[set] = [set() for _ in range(len(members))]
            for e in range(n):
                new_members[trial[e]].add(e)
            members = new_members
            cluster_of = trial
    out = [(int(nodes[e]), int(nodes[min(members[cluster_of[e]])]))
           for e in range(n)]
    del n_initial
    return edges.sparkSession.createDataFrame(
        out or [(None, None)], "eid long, cluster_id long"
    ).where(F.col("eid").isNotNull())



def _side1_set(side1) -> set:
    """Accept the side-1 id universe as a list/set OR a one-column
    DataFrame (preferred: callers pass the predicate as a frame and no
    separate driver collect job runs before the clusterer's own
    size-guarded collect)."""
    if isinstance(side1, DataFrame):
        c = side1.columns[0]
        return {r[c] for r in side1.select(c).collect()}
    return set(side1)

def kiraly_msm_clustering(edges: DataFrame, side1,
                          similarity_threshold: float = 0.1,
                          weight_col: str = "sim",
                          reference_one_shot: bool = False) -> DataFrame:
    """KiralyMSMApproximateClustering (clustering.py:1173-1341): Kiraly's
    3/2-approx stable marriage over the CCER bipartite match graph —
    men (side 1) propose down their preference lists; a woman trades up
    only for a strictly better score. CCER-only, like the reference.

    DOCUMENTED DEVIATION (default ``reference_one_shot=False``): the
    reference's loop (clustering.py:1234-1261) never re-appends a
    rejected proposer or a displaced fiance to the free list, and
    re-appends a bachelor only when he has NO candidates — each man
    effectively proposes ONCE, so most of every preference list is dead
    code. The default here runs the published algorithm (re-queue on
    rejection/displacement, one bachelor re-entry with re-activated
    candidates). Pass ``reference_one_shot=True`` for bit-parity with
    the reference's one-shot behavior.

    ``side1`` = set/list of side-1 ids (the reference infers it from
    dataset_limit; our CCER ids are disjoint, not offset). Returns
    matched pairs (id1, id2, weight=similarity)."""
    spark = edges.sparkSession
    side1 = _side1_set(side1)
    rows = _collect_edges(edges.where(F.col(weight_col) > similarity_threshold),
                          weight_col)
    men_cand: dict = {}
    women_pref: dict = {}
    men = set()
    for id1, id2, w in rows:
        man, woman = (id1, id2) if id1 in side1 else (id2, id1)
        men.add(man)
        men_cand.setdefault(man, []).append([woman, float(w), True])
        women_pref.setdefault(woman, {})[man] = float(w)
    for man in men_cand:
        men_cand[man].sort(key=lambda c: (-c[1], c[0]))

    fiance: dict = {}
    bachelor: set = set()
    free = sorted(men)
    while free:
        man = free.pop(0)
        cands = men_cand.get(man, [])
        woman = next((c[0] for c in cands if c[2]), None)
        if woman is None:
            if man not in bachelor:
                bachelor.add(man)
                if reference_one_shot:
                    # clustering.py:1238-1243: re-append only when the man
                    # has NO candidates; activation happens either way
                    if not cands:
                        free.append(man)
                    for c in cands:
                        c[2] = True
                else:
                    for c in cands:
                        c[2] = True
                    if not cands:
                        continue
                    free.append(man)
            continue
        cur = fiance.get(woman)
        if cur is None:
            fiance[woman] = man
        elif women_pref[woman].get(man, 0.0) > women_pref[woman].get(cur, 0.0):
            fiance[woman] = man
            for c in men_cand.get(cur, []):
                if c[0] == woman:
                    c[2] = False
            if not reference_one_shot:  # ref never re-appends the displaced
                free.append(cur)
        else:
            for c in cands:
                if c[0] == woman:
                    c[2] = False
            if not reference_one_shot:  # ref never re-appends the rejected
                free.append(man)
    out = [(int(m), int(w_), float(women_pref[w_][m]))
           for w_, m in fiance.items()]
    return spark.createDataFrame(out or [(None, None, None)],
                                 "id1 long, id2 long, weight double"
                                 ).where(F.col("id1").isNotNull())


def row_column_clustering(edges: DataFrame, side1,
                          similarity_threshold: float = 0.5,
                          weight_col: str = "sim") -> DataFrame:
    """RowColumnClustering (clustering.py:1493-1634): greedy min-cost
    scan assignment on the NEGATED similarity matrix — per row pick the
    cheapest uncovered column and vice versa; keep whichever full
    assignment (rows-scan or columns-scan) costs less, then emit
    1-1 matches. Final filter matches the reference exactly
    (clustering.py:1540-1543): the selected pair is kept only when its
    POSITIVE similarity >= threshold (``sim < t -> skip``)."""
    spark = edges.sparkSession
    side1 = _side1_set(side1)
    rows = _collect_edges(edges, weight_col)
    import math as _math

    d1 = sorted({r[0] if r[0] in side1 else r[1] for r in rows})
    d2 = sorted({r[1] if r[0] in side1 else r[0] for r in rows})
    i1 = {n: i for i, n in enumerate(d1)}
    i2 = {n: i for i, n in enumerate(d2)}
    import numpy as np

    simm = np.zeros((len(d1), len(d2)))
    for a, b, w in rows:
        man, woman = (a, b) if a in side1 else (b, a)
        if w > similarity_threshold:
            simm[i1[man], i2[woman]] = w
    neg = 1.0 - simm

    sel_col = [-1] * len(d1)
    col_cov = [False] * len(d2)
    row_cost = 0.0
    for r in range(len(d1)):
        best, pos = _math.inf, -1
        for c in range(len(d2)):
            if not col_cov[c] and neg[r, c] < best:
                best, pos = neg[r, c], c
        sel_col[r] = pos
        if pos == -1:
            break
        col_cov[pos] = True
        row_cost += neg[r, pos]

    cols_from_row = [0] * len(d1)
    row_cov = [False] * len(d1)
    col_cost = 0.0
    for c in range(len(d2)):
        best, pos = _math.inf, -1
        for r in range(len(d1)):
            if not row_cov[r] and neg[r, c] < best:
                best, pos = neg[r, c], r
        if pos == -1:
            break
        cols_from_row[pos] = c
        row_cov[pos] = True
        col_cost += neg[pos, c]

    proxy = sel_col if row_cost < col_cost else cols_from_row
    matched: set = set()
    out = []
    for r, c in enumerate(proxy):
        if c is None or c < 0:
            continue
        if simm[r, c] < similarity_threshold:  # reference clustering.py:1541
            continue
        a, b = d1[r], d2[c]
        if a in matched or b in matched:
            continue
        matched.update((a, b))
        out.append((int(a), int(b), float(simm[r, c])))
    return spark.createDataFrame(out or [(None, None, None)],
                                 "id1 long, id2 long, weight double"
                                 ).where(F.col("id1").isNotNull())


def ricochet_sr_clustering(edges: DataFrame,
                           similarity_threshold: float = 0.5,
                           weight_col: str = "sim") -> DataFrame:
    """RicochetSRClustering (clustering.py:1343-1490): vertices visited
    by descending average edge weight (Vertex PQ, clustering.py:163-253);
    a visited vertex becomes a center if some non-center neighbor is
    closer to it than to its current center; displaced singleton
    centers are re-homed to their most similar singleton-center.

    Determinism delta (documented): the reference scans neighbors in
    dict-insertion order with an early break; here neighbors are scanned
    in (weight desc, id asc) order, so runs reproduce. Driver-side on
    the pruned match graph, like every greedy clusterer here. Returns
    (eid, cluster_id) with cluster_id = min member id.
    """
    spark = edges.sparkSession
    rows = _collect_edges(edges.where(F.col(weight_col) > similarity_threshold),
                          weight_col)
    nbrs: dict = {}
    for id1, id2, w in rows:
        a, b = (id1, id2) if id1 < id2 else (id2, id1)
        nbrs.setdefault(a, {})[b] = float(w)
        nbrs.setdefault(b, {})[a] = float(w)
    if not nbrs:
        return spark.createDataFrame([], "eid long, cluster_id long")
    order = sorted(
        nbrs,
        key=lambda v: (-(sum(nbrs[v].values()) / len(nbrs[v])), v))

    centers: set = set()
    members: set = set()
    center_of: dict = {}
    sim_with_center: dict = {}
    clusters: dict = {}

    def nb_sorted(v):
        return sorted(nbrs[v].items(), key=lambda kv: (-kv[1], kv[0]))

    top = order[0]
    centers.add(top)
    center_of[top] = top
    clusters[top] = {top}
    sim_with_center[top] = 1.0
    first_nb = nb_sorted(top)[0][0]
    members.add(first_nb)
    center_of[first_nb] = top
    clusters[top].add(first_nb)
    sim_with_center[first_nb] = nbrs[top][first_nb]

    for v in order[1:]:
        to_reassign: set = set()
        centers_to_reassign: set = set()
        for nb, w in nb_sorted(v):
            if nb in centers:
                continue
            if sim_with_center.get(nb, 0.0) >= w:
                continue
            to_reassign.add(nb)
            break
        if to_reassign:
            if v in members:
                members.remove(v)
                prev = center_of[v]
                clusters[prev].discard(v)
                if len(clusters[prev]) < 2:
                    centers_to_reassign.add(prev)
            to_reassign.add(v)
            clusters.setdefault(v, set()).update(to_reassign)
            centers.add(v)
        for r in to_reassign:
            if r != v:
                if r in members:
                    prev = center_of[r]
                    clusters[prev].discard(r)
                    if len(clusters[prev]) < 2:
                        centers_to_reassign.add(prev)
                members.add(r)
                center_of[r] = v
                sim_with_center[r] = nbrs[v].get(r, 0.0)
        for c in centers_to_reassign:
            if len(clusters.get(c, ())) > 1:
                continue
            centers.discard(c)
            clusters.pop(c, None)
            best_w, new_c = 0.0, v
            for cand in sorted(centers):
                w = nbrs[cand].get(c, 0.0)
                if w > 0.0 and len(clusters.get(cand, ())) <= 1 and w > best_w:
                    best_w, new_c = w, cand
            if len(clusters.get(new_c, ())) > 1:
                continue
            clusters.setdefault(new_c, set()).add(c)
            members.add(c)
            center_of[c] = new_c
            sim_with_center[c] = best_w
    # final sweep (clustering.py:1469-1474): anything displaced out of
    # every cluster becomes its own singleton center
    for e in nbrs:
        if e not in members and e not in centers:
            centers.add(e)
            clusters.setdefault(e, set()).add(e)
    out = []
    for c, ms in clusters.items():
        group = ms | {c}
        rep = min(group)
        out.extend((int(e), int(rep)) for e in group)
    return spark.createDataFrame(sorted(set(out)), "eid long, cluster_id long")


def markov_clustering(edges: DataFrame, similarity_threshold: float = 0.5,
                      cluster_threshold: float = 0.001,
                      matrix_similarity_threshold: float = 1e-5,
                      similarity_checks_limit: int = 10,
                      weight_col: str = "sim",
                      prune_below: float | None = None) -> DataFrame:
    """MarkovClustering (reference clustering.py:1055-1171) as iterated
    sparse matrix algebra on an (i, j, v) DataFrame — matrix product =
    join on the inner index + groupBy(i, j) sum; inflation = elementwise
    power; normalization = column-sum join. (The reference's method
    names are swapped: its inflate() is the matrix product and its
    expand() the elementwise square — semantics reproduced, not names.)

    Per round: product, normalize, square, normalize, equilibrium check
    on shared indices (|Δ| <= matrix_similarity_threshold), with
    localCheckpoint truncating lineage. ``prune_below`` optionally drops
    near-zero entries each round — the standard MCL sparsity guard for
    scale (reference keeps exact zeros only; default None is faithful).
    Returns (eid, cluster_id) from components of entries >
    cluster_threshold.
    """
    sym = edges.where(F.col(weight_col) > similarity_threshold).select(
        F.col("id1").alias("i"), F.col("id2").alias("j"),
        F.col(weight_col).cast("double").alias("v"))
    m = sym.union(sym.select(F.col("j").alias("i"), F.col("i").alias("j"), "v"))
    nodes = m.select(F.col("i").alias("n")).distinct()
    loops = nodes.select(F.col("n").alias("i"), F.col("n").alias("j"),
                         F.lit(1.0).alias("v"))
    # self loop assignment overwrites any (i,i) entry
    m = m.where(F.col("i") != F.col("j")).union(loops)

    def normalize(mm: DataFrame) -> DataFrame:
        csum = mm.groupBy("j").agg(F.sum("v").alias("_s"))
        return mm.join(csum, "j").select(
            "i", "j",
            F.when(F.col("_s") != 0, F.col("v") / F.col("_s"))
            .otherwise(F.col("v")).alias("v"))

    def product(mm: DataFrame) -> DataFrame:
        a = mm.select(F.col("i"), F.col("j").alias("k"), F.col("v").alias("va"))
        b = mm.select(F.col("i").alias("k"), F.col("j"), F.col("v").alias("vb"))
        return a.join(b, "k").groupBy("i", "j").agg(
            F.sum(F.col("va") * F.col("vb")).alias("v"))

    m = normalize(m).localCheckpoint()
    for _ in range(similarity_checks_limit):
        prev = m
        m = normalize(product(m))
        m = normalize(m.select("i", "j", (F.col("v") * F.col("v")).alias("v")))
        if prune_below is not None:
            m = m.where(F.col("v") >= prune_below)
        m = m.localCheckpoint()
        drift = (
            m.join(prev.select(F.col("i"), F.col("j"),
                               F.col("v").alias("_pv")), ["i", "j"])
            .agg(F.max(F.abs(F.col("v") - F.col("_pv"))).alias("d"))
            .collect()[0]["d"]
        )
        if drift is not None and drift <= matrix_similarity_threshold:
            break

    final = (
        m.where(F.col("i") != F.col("j"))
        .select(F.least("i", "j").alias("id1"), F.greatest("i", "j").alias("id2"),
                F.col("v"))
        .groupBy("id1", "id2").agg(F.max("v").alias("v"))
        .where(F.col("v") > cluster_threshold)
    )
    return connected_components(final.select("id1", "id2"), nodes=nodes)


def clusters_to_pairs(assign: DataFrame) -> DataFrame:
    """(eid, cluster_id) -> intra-cluster pairs (id1<id2) — the
    export_to_pairs sink (clustering.py:381-417) as a self-join."""
    a = assign.select(F.col("cluster_id"), F.col("eid").alias("id1"))
    b = assign.select(F.col("cluster_id"), F.col("eid").alias("id2"))
    return (
        a.join(b, "cluster_id")
        .where(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
    )
