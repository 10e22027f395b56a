"""Graph-analytics operator tests on small graphs with hand-computable
answers: PageRank mass conservation + ordering, connected components on a
disconnected forest, triangle counting, weighted/unweighted shortest paths."""

from unittest import mock

import pytest
from pyspark.sql import types as T

from vivace_graph_v3_spark import util
from vivace_graph_v3_spark.graph import GraphStore
from vivace_graph_v3_spark.operators.graph_algorithms import (
    connected_components, hits, label_propagation, pagerank, shortest_paths,
    triangle_count,
)
from vivace_graph_v3_spark.schema import SchemaRegistry

from tests.conftest import distributed_regime, last_job_id, plan_rdds


def _graph(spark, vertices, edges):
    reg = SchemaRegistry()
    reg.def_vertex("node", {})
    reg.def_edge("link")
    g = GraphStore(spark, reg, name="alg", has_tombstones=False)
    g.add_vertices("node", spark.createDataFrame(
        [(v, "node", False, 0, 0) for v in vertices],
        "id string, type string, deleted boolean, revision long, commit_epoch long"))
    g.add_edges("link", spark.createDataFrame(
        [(f"e{i}", "link", False, 0, 0, s, d, float(w))
         for i, (s, d, w) in enumerate(edges)],
        "id string, type string, deleted boolean, revision long, "
        "commit_epoch long, src string, dst string, weight double"))
    return g


@pytest.fixture()
def star(spark):
    # hub 'h' pointed at by a,b,c; h -> a
    return _graph(spark, ["h", "a", "b", "c"],
                  [("a", "h", 1), ("b", "h", 1), ("c", "h", 1), ("h", "a", 1)])


def test_pagerank_mass_and_order(star):
    pr = {r["id"]: r["rank"] for r in pagerank(star, max_iter=30).collect()}
    assert abs(sum(pr.values()) - 4.0) < 1e-3          # mass conserved
    assert pr["h"] > pr["a"] > pr["b"]                  # hub highest, a gets h's
    assert abs(pr["b"] - pr["c"]) < 1e-9                # symmetry


def test_connected_components_forest(spark):
    g = _graph(spark, ["a", "b", "c", "d", "e", "f", "z"],
               [("a", "b", 1), ("b", "c", 1), ("d", "e", 1), ("e", "f", 1)])
    comp = {r["id"]: r["comp"] for r in connected_components(g).collect()}
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["d"] == comp["e"] == comp["f"] == "d"
    assert comp["z"] == "z"


def test_connected_components_long_chain_logarithmic(spark):
    # 40-node chain must converge well inside 50 rounds (doubling trick)
    ids = [f"n{i:02d}" for i in range(40)]
    g = _graph(spark, ids, [(ids[i], ids[i + 1], 1) for i in range(39)])
    comp = {r["id"]: r["comp"] for r in
            connected_components(g, max_iter=10).collect()}
    assert set(comp.values()) == {"n00"}


def test_min_label_budget_raises_not_partial(spark):
    """A 40-node path cannot settle in 2 min-label rounds: past the
    budget both connected_components and dedup_clusters must raise,
    not return the unconverged labels as a partial answer."""
    from vivace_graph_v3_spark.pipeline.dedup import dedup_clusters

    ids = [f"n{i:02d}" for i in range(40)]
    path = list(zip(ids, ids[1:]))
    g = _graph(spark, ids, [(a, b, 1) for a, b in path])
    pairs = spark.createDataFrame(path, "id_a string, id_b string")
    with distributed_regime():
        with pytest.raises(RuntimeError, match="converge"):
            connected_components(g, max_iter=2)
        with pytest.raises(RuntimeError, match="converge"):
            dedup_clusters(pairs, max_iter=2)


def test_triangle_count(spark):
    # one triangle a-b-c plus a dangling edge c-d
    g = _graph(spark, ["a", "b", "c", "d"],
               [("a", "b", 1), ("b", "c", 1), ("c", "a", 1), ("c", "d", 1)])
    assert triangle_count(g).first()["n_triangles"] == 1


def test_kcore_degree_consistent_when_max_iter_exhausted(spark):
    """A 5-chain + triangle: 2-core peeling needs several rounds. With
    max_iter=1 the loop can't converge, but the returned degrees must still
    be counted within the returned vertex set (not the pre-peel set)."""
    from vivace_graph_v3_spark.operators.graph_algorithms import k_core

    ids = ["t1", "t2", "t3", "c1", "c2", "c3", "c4", "c5"]
    edges = [("t1", "t2", 1), ("t2", "t3", 1), ("t3", "t1", 1),
             ("t1", "c1", 1), ("c1", "c2", 1), ("c2", "c3", 1),
             ("c3", "c4", 1), ("c4", "c5", 1)]
    g = _graph(spark, ids, edges)
    # full run: the 2-core is exactly the triangle, each vertex degree 2
    full = {r["id"]: r["degree"] for r in k_core(g, 2).collect()}
    assert full == {"t1": 2, "t2": 2, "t3": 2}
    # truncated run: whatever set is returned, degrees must match a
    # recount over edges restricted to that set
    res = {r["id"]: r["degree"] for r in k_core(g, 2, max_iter=1).collect()}
    alive = set(res)
    und = {frozenset((s, d)) for s, d, _ in edges}
    for v, deg in res.items():
        recount = sum(1 for e in und if v in e and e <= alive)
        assert deg == recount, (v, deg, recount)


def test_shortest_paths_weighted_vs_hops(spark):
    # a->b->c cost 1+1; direct a->c cost 5 — weighted picks 2, hops picks 1
    g = _graph(spark, ["a", "b", "c"],
               [("a", "b", 1), ("b", "c", 1), ("a", "c", 5)])
    hops = {r["id"]: r["dist"] for r in shortest_paths(g, ["a"]).collect()}
    assert hops == {"a": 0.0, "b": 1.0, "c": 1.0}
    wdist = {r["id"]: r["dist"]
             for r in shortest_paths(g, ["a"], weighted=True).collect()}
    assert wdist == {"a": 0.0, "b": 1.0, "c": 2.0}


def test_kcore_sssp_stress_local_matches_distributed(spark):
    """The driver-local finishes of k_core, shortest_paths
    and landmark_stress must reproduce the distributed loops row for row
    (including budget-truncated runs) on a random graph."""
    import random

    from vivace_graph_v3_spark.operators.graph_algorithms import (
        k_core, landmark_stress, shortest_paths)

    rng = random.Random(31)
    vids = [str(i) for i in range(40)]
    edges = sorted({tuple(rng.sample(vids, 2)) for _ in range(160)})
    g = _graph(spark, vids, [(a, b, 1 + (i % 4))
                             for i, (a, b) in enumerate(edges)])
    for kw in ({"max_iter": 50}, {"max_iter": 2}):
        loc = {r["id"]: r["degree"]
               for r in k_core(g, 3, **kw).collect()}
        with distributed_regime():
            dist = {r["id"]: r["degree"]
                    for r in k_core(g, 3, **kw).collect()}
        assert loc == dist
    for kw in ({"weighted": False}, {"weighted": True},
               {"weighted": True, "max_iter": 2}):
        loc = {r["id"]: r["dist"]
               for r in shortest_paths(g, ["0", "7"], **kw).collect()}
        with distributed_regime():
            dist = {r["id"]: r["dist"]
                    for r in shortest_paths(g, ["0", "7"], **kw).collect()}
        assert loc == dist
    lms = ["0", "3", "5"]
    loc = {(r.lm, r.dist): (r.n_vertices, r.sum_sigma, r.sum_stress,
                            r.max_stress)
           for r in landmark_stress(g, lms, max_depth=4).collect()}
    with distributed_regime():
        dist = {(r.lm, r.dist): (r.n_vertices, r.sum_sigma, r.sum_stress,
                                 r.max_stress)
                for r in landmark_stress(g, lms, max_depth=4).collect()}
    assert loc == dist


def test_cc_and_temporal_ea_local_matches_distributed(spark):
    """connected_components' union-find finish and
    temporal_earliest_arrival's DP replay must reproduce the
    distributed loops row for row (both hop-bounded and convergence
    modes)."""
    import random

    from vivace_graph_v3_spark.operators.graph_algorithms import (
        connected_components, temporal_earliest_arrival)

    rng = random.Random(59)
    vids = [str(i) for i in range(60)]
    edges = sorted({tuple(rng.sample(vids, 2)) for _ in range(70)})
    g = _graph(spark, vids, [(a, b, 1) for a, b in edges])
    loc = {r.id: r.comp for r in connected_components(g).collect()}
    with distributed_regime():
        dist = {r.id: r.comp for r in connected_components(g).collect()}
    assert loc == dist
    te = spark.createDataFrame(
        [(a, b, rng.randrange(100)) for a, b in edges]
        + [(b, a, rng.randrange(100)) for a, b in edges],
        "src string, dst string, ts long")
    # a null seed reaches nothing in either regime
    seeds = spark.createDataFrame([("0",), ("7",), ("11",), (None,)],
                                  "id string")
    for kw in ({"max_hops": 3}, {"max_hops": None, "max_iter": 50}):
        loc = {(r.seed, r.node): r.arrival
               for r in temporal_earliest_arrival(te, seeds,
                                                  **kw).collect()}
        with distributed_regime():
            dist = {(r.seed, r.node): r.arrival
                    for r in temporal_earliest_arrival(te, seeds,
                                                       **kw).collect()}
        assert loc == dist


def test_landmark_bfs_local_matches_distributed(spark):
    """landmark_closeness / landmark_eccentricity local finishes must
    reproduce the distributed per-depth frontier loops row for row."""
    import random

    from vivace_graph_v3_spark.operators.graph_algorithms import (
        landmark_closeness, landmark_eccentricity)

    rng = random.Random(47)
    vids = [str(i) for i in range(50)]
    edges = sorted({tuple(rng.sample(vids, 2)) for _ in range(120)})
    # "iso" has no edge: closeness 0/0 must be NULL in both regimes
    g = _graph(spark, vids + ["iso"], [(a, b, 1) for a, b in edges])
    lms = ["0", "9", "49", "iso"]
    for und in (True, False):
        loc = {r.lm: (r.n_reached, r.sum_dist, r.closeness)
               for r in landmark_closeness(g, lms, max_depth=4,
                                           undirected=und).collect()}
        with distributed_regime():
            dist = {r.lm: (r.n_reached, r.sum_dist, r.closeness)
                    for r in landmark_closeness(g, lms, max_depth=4,
                                                undirected=und).collect()}
        assert loc == dist and loc["iso"] == (1, 0, None)
        loc = {r.lm: (r.n_reached, r.ecc, r.diameter_lb)
               for r in landmark_eccentricity(g, lms, max_depth=5,
                                              undirected=und).collect()}
        with distributed_regime():
            dist = {r.lm: (r.n_reached, r.ecc, r.diameter_lb)
                    for r in landmark_eccentricity(
                        g, lms, max_depth=5, undirected=und).collect()}
        assert loc == dist


def test_aggregate_messages(spark):
    """GraphX-style aggregateMessages: weighted in-degree and neighbor-value
    max through the triplet view."""
    import pyspark.sql.functions as F

    from vivace_graph_v3_spark.operators.graph_algorithms import (
        aggregate_messages)

    g = _graph(spark, ["a", "b", "c"],
               [("a", "b", 2), ("a", "c", 3), ("b", "c", 5)])
    # vertices carry no 'v' slot here; weighted in-degree needs none
    indeg = {r["id"]: r["value"] for r in aggregate_messages(
        g, msg_to_dst=F.col("weight"),
        agg=F.sum("msg").alias("value")).collect()}
    assert indeg == {"b": 2.0, "c": 8.0}
    # src-attribute message: max src vertex id seen by each dst
    g2 = _graph(spark, ["a", "b", "c"],
                [("a", "b", 2), ("a", "c", 3), ("b", "c", 5)])
    g2.add_vertices("node", g2.scan_vertices("node").withColumn(
        "v", F.ascii(F.col("id"))))
    g2.registry.def_vertex("node", {"v": __import__(
        "pyspark.sql.types", fromlist=["IntegerType"]).IntegerType()})
    nbr = {r["id"]: r["value"] for r in aggregate_messages(
        g2, msg_to_dst=F.col("src_v"), src_cols=["v"],
        agg=F.max("msg").alias("value")).collect()}
    assert nbr["c"] == ord("b") and nbr["b"] == ord("a")


def test_random_walks_deterministic_and_valid(spark):
    """Walks are a pure function of the graph: every emitted transition is
    a real edge, repeated generation is identical, and walks stop at
    vertices with no outgoing edges."""
    from pyspark.sql import functions as F

    from vivace_graph_v3_spark.operators.walks import random_walks

    edges = [("a", "b", 1), ("a", "c", 1), ("b", "c", 1), ("c", "a", 1),
             ("c", "d", 1), ("d", "z", 1)]
    g = _graph(spark, ["a", "b", "c", "d", "z"], edges)  # z is a sink

    w1 = random_walks(g, walk_length=4, walks_per_node=3)
    w2 = random_walks(g, walk_length=4, walks_per_node=3)
    r1 = {(r["walk_id"], r["step"], r["node"]) for r in w1.collect()}
    r2 = {(r["walk_id"], r["step"], r["node"]) for r in w2.collect()}
    assert r1 == r2 and len(r1) > 15
    # every step-(t -> t+1) transition is a real directed edge
    a = w1.select("walk_id", F.col("step").alias("s"), F.col("node").alias("u"))
    b = w1.select("walk_id", (F.col("step") - 1).alias("s"),
                  F.col("node").alias("v"))
    trans = a.join(b, ["walk_id", "s"]).select("u", "v").distinct().collect()
    eset = {(s, d) for s, d, _ in edges}
    assert trans and all((t["u"], t["v"]) in eset for t in trans)
    # z has no out-edges: its walks emit only step 0
    z = [r for r in r1 if r[0].startswith("z#")]
    assert z and all(s == 0 for _, s, _ in z)
    # round-10 differential pin: the broadcast-lazy regime (default
    # within the driver bound) emits exactly the per-step-checkpointed
    # equi-join walks (the distributed regime past the bound)
    with distributed_regime():
        w3 = random_walks(g, walk_length=4, walks_per_node=3)
        r3 = {(r["walk_id"], r["step"], r["node"]) for r in w3.collect()}
    assert r1 == r3


def test_skipgram_pairs_handcomputed(spark):
    from vivace_graph_v3_spark.operators.walks import skipgram_pairs

    walks = spark.createDataFrame(
        [("w", 0, "a"), ("w", 1, "b"), ("w", 2, "c"), ("w", 3, "d")],
        "walk_id string, step int, node string")
    got = {(r["center"], r["context"]): r["n_pairs"]
           for r in skipgram_pairs(walks, window=1).collect()}
    # window 1 on a-b-c-d: adjacent pairs only, both directions
    assert got == {("a", "b"): 1, ("b", "a"): 1, ("b", "c"): 1,
                   ("c", "b"): 1, ("c", "d"): 1, ("d", "c"): 1}
    wide = skipgram_pairs(walks, window=3, count=False)
    assert wide.count() == 12  # all ordered pairs of 4 distinct positions


def test_hits_star(star):
    from vivace_graph_v3_spark.operators.graph_algorithms import hits
    hs = {r["id"]: (r["hub"], r["auth"]) for r in
          hits(star, max_iter=4).collect()}
    assert set(hs) == {"h", "a", "b", "c"}
    # a,b,c all point at h: h is the top authority, normalized to 1
    assert hs["h"][1] == 1.0
    # a,b,c are the (equal) top hubs; h's only out-edge hits a weak
    # authority, so its hub score is below the spokes'
    assert hs["a"][0] == hs["b"][0] == hs["c"][0] == 1.0
    assert hs["h"][0] < 1.0
    # only h and a are ever pointed at
    assert hs["b"][1] == hs["c"][1] == 0.0
    for h, a in hs.values():
        assert 0.0 <= h <= 1.0 and 0.0 <= a <= 1.0


def test_hits_bcast_matches_copartitioned(star):
    # the broadcast-state regime must emit bit-identical scores to the
    # past-the-bound co-partitioned formulation — the round-10
    # differential pin for the hits rewrite, including the
    # out-degree-seeded first half-round. A bound of |V| = 4 rows keeps
    # the state broadcast but the 4 + 4 vertex and edge rows off the
    # driver-local kernel.
    with mock.patch.object(util, "DRIVER_ROWS", 4):
        fast = sorted(map(tuple, hits(star, max_iter=3).collect()))
        # max_iter=1 exercises the seeded-final-round edge case in both
        # paths
        fast1 = sorted(map(tuple, hits(star, max_iter=1).collect()))
    with distributed_regime():
        dist = sorted(map(tuple, hits(star, max_iter=3).collect()))
        dist1 = sorted(map(tuple, hits(star, max_iter=1).collect()))
    assert fast == dist
    assert fast1 == dist1


def test_pagerank_bcast_matches_shuffle_join(spark):
    """The broadcast rank-state regime (|V| within the driver bound,
    the graph past it) must emit bit-identical ranks to the
    past-the-bound shuffle join, for the uniform, personalized and
    weighted variants, with and without the tol convergence probe."""
    import random

    rng = random.Random(17)
    vids = [str(i) for i in range(30)]
    edges = sorted({tuple(rng.sample(vids[:25], 2)) for _ in range(70)})
    # vertices 25..29 have no out-edges: dangling mass every round
    g = _graph(spark, vids, [(a, b, 1 + (i % 5))
                             for i, (a, b) in enumerate(edges)])
    for kw in ({}, {"sources": ["0", "3"]}, {"weighted": True}):
        # tol=0.05 stops the uniform run at round 4 of its 6-round budget
        for tol in (0.05, None):
            args = dict(kw, tol=tol, max_iter=6)
            # 30 vertex rows fit, 30 + |E| rows do not
            with mock.patch.object(util, "DRIVER_ROWS", len(vids)):
                fast = sorted(map(tuple, pagerank(g, **args).collect()))
            with distributed_regime():
                dist = sorted(map(tuple, pagerank(g, **args).collect()))
            assert fast == dist, (kw, tol)


def _kernel_graph(spark, *, ghost: bool = True):
    """30 vertices, dangling ones (25..29), multi-edges with differing
    weights, a self-loop and, with ``ghost``, edges to and from "ghost",
    an endpoint that is not a vertex."""
    import random

    rng = random.Random(23)
    vids = [str(i) for i in range(30)]
    edges = [tuple(rng.sample(vids[:25], 2)) for _ in range(60)]
    edges += edges[:10] + [("4", "4")]
    if ghost:
        edges += [("2", "ghost"), ("ghost", "7")]
    return _graph(spark, vids, [(a, b, 1 + (i % 7))
                                for i, (a, b) in enumerate(edges)])


def test_pagerank_local_matches_distributed(spark):
    """The driver-local kernel against the Spark loop at relative 1e-12
    (only the summation order differs), for the uniform, personalized
    and weighted variants, with and without the tol probe, on a graph
    with dangling vertices, multi-edges and a non-vertex endpoint, and
    on an edgeless graph."""
    import math

    g = _kernel_graph(spark)
    edgeless = _graph(spark, ["a", "b", "c"], [])
    cases = [(g, kw, tol)
             for kw in ({}, {"sources": ["0", "3", "ghost"]},
                        {"weighted": True})
             for tol in (None, 0.05)]
    cases += [(edgeless, {}, None), (edgeless, {"sources": ["b"]}, 0.05)]
    for graph, kw, tol in cases:
        args = dict(kw, tol=tol, max_iter=6)
        local = {r.id: r.rank for r in pagerank(graph, **args).collect()}
        with distributed_regime():
            dist = {r.id: r.rank for r in pagerank(graph, **args).collect()}
        assert local.keys() == dist.keys(), (kw, tol)
        assert "ghost" not in local
        for k in dist:
            assert math.isclose(local[k], dist[k], rel_tol=1e-12,
                                abs_tol=0.0), (kw, tol, k)
    with pytest.raises(ValueError):
        pagerank(g, sources=["ghost"])
    with pytest.raises(ValueError):
        pagerank(g, sources=[])


def test_label_propagation_local_matches_distributed(spark):
    """Labels are ids, so the local kernel must match the Spark loop
    exactly, ties (count, then smallest label) included."""
    g = _kernel_graph(spark)
    # a 4-cycle: every vertex sees a two-way tie every round
    ring = _graph(spark, ["b", "a", "d", "c", "z"],
                  [("a", "b", 1), ("b", "c", 1), ("c", "d", 1),
                   ("d", "a", 1), ("z", "nowhere", 1)])
    for graph in (g, ring):
        for rounds in (1, 3):
            local = sorted(map(tuple, label_propagation(
                graph, max_iter=rounds).collect()))
            with distributed_regime():
                dist = sorted(map(tuple, label_propagation(
                    graph, max_iter=rounds).collect()))
            assert local == dist, rounds


def test_hits_local_matches_distributed(spark):
    """Sums of integer-valued scores before one final division: the local
    kernel must match both Spark loops exactly, also on a graph with an
    edge to and from a non-vertex (every regime seeds round 1's hub with
    the full out-degree, that edge included)."""
    def rows(graph, rounds):
        return sorted(map(tuple, hits(graph, max_iter=rounds).collect()))

    for graph in (_kernel_graph(spark, ghost=False), _kernel_graph(spark)):
        for rounds in (1, 3):
            local = rows(graph, rounds)
            with distributed_regime():
                assert local == rows(graph, rounds), rounds
            with mock.patch.object(util, "DRIVER_ROWS", 30):  # broadcast state
                assert local == rows(graph, rounds), rounds
    edgeless = _graph(spark, ["a", "b"], [])
    with distributed_regime():
        dist = rows(edgeless, 3)
    assert rows(edgeless, 3) == dist


def test_weighted_pagerank_zero_out_weight(spark):
    """A vertex whose out-edges weigh 0 in total sends nothing, in every
    regime: the Spark loops must not raise DIVIDE_BY_ZERO (ANSI mode)
    and must match the local kernel."""
    import math

    g = _graph(spark, ["a", "b", "c", "z"],
               [("a", "b", 1), ("b", "c", 2), ("c", "a", 1),
                ("z", "a", 0), ("z", "b", 0)])
    local = {r.id: r.rank for r in
             pagerank(g, weighted=True, max_iter=5, tol=None).collect()}
    # z receives only teleport mass and passes none of it on
    assert math.isclose(local["z"], 0.15, rel_tol=1e-12)
    regimes = [distributed_regime(),
               mock.patch.object(util, "DRIVER_ROWS", 4)]  # broadcast state
    for regime in regimes:
        with regime:
            spark_loop = {r.id: r.rank for r in pagerank(
                g, weighted=True, max_iter=5, tol=None).collect()}
        assert spark_loop.keys() == local.keys()
        for k in local:
            assert math.isclose(local[k], spark_loop[k], rel_tol=1e-12), k


def test_local_kernels_hold_no_blocks_and_few_jobs(spark):
    """Within the driver bound, every driver-local finish collects its
    input and finishes on the driver: each call, its result collected,
    issues at most 4 Spark jobs (bow-tie, given a precomputed SCC frame,
    fewer than 18; BFS one per round; containment one postings collect;
    exact top-k one collect per side, the default branch's small case
    in one) and leaves no persisted or checkpointed RDD behind.

    Past the bound the same operators (and ``lsh_band_tuning``) run
    their Spark loops, and each call, its result collected, still holds
    only the RDDs its returned plan reads: every other block it
    persisted or checkpointed is released on return. So do calls on an
    empty and a one-vertex graph; pagerank holds as many blocks after
    10 rounds as after 3; and a fixpoint that raises holds none."""
    import gc

    from vivace_graph_v3_spark.operators.graph_algorithms import (
        _edge_pairs, bowtie_decomposition, k_core, k_truss,
        landmark_closeness, landmark_eccentricity, landmark_stress,
        min_label_fixpoint, strongly_connected_components,
        temporal_earliest_arrival)
    from vivace_graph_v3_spark.operators.traverse import traverse
    from vivace_graph_v3_spark.pipeline.dedup import (
        containment_pairs, lsh_band_tuning)
    from vivace_graph_v3_spark.pipeline.similarity import (
        cosine_topk_bruteforce)

    g = _kernel_graph(spark)
    jsc = spark.sparkContext._jsc
    edges = util.local_frame(
        spark, [(r.src, r.dst, int(r.weight)) for r in
                _edge_pairs(g, None, weighted=True).collect()],
        T.StructType.fromDDL("src string, dst string, ts long"))
    scc = util.local_frame(spark,
                           strongly_connected_components(edges).collect(),
                           T.StructType.fromDDL("id string, scc_id string"))
    seeds = util.local_frame(spark, [("0",), ("3",)],
                             T.StructType.fromDDL("id string"))
    lms = ["0", "3"]
    docs = util.local_frame(
        spark, [(i, " ".join(f"w{(i * 7 + j) % 13}" for j in range(9)))
                for i in range(12)],
        T.StructType.fromDDL("doc_id long, text string"))
    vecs = util.local_frame(
        spark, [(i, [float(i % 5), float(i % 3) - 1.0, 1.0])
                for i in range(40)],
        T.StructType.fromDDL("vec_id long, embedding array<float>"))
    qs = vecs.filter("vec_id < 6")

    def held():
        # ids, not a count: the context cleaner may release blocks that
        # earlier tests left, while an operator runs
        gc.collect()
        return set(jsc.getPersistentRDDs().keySet())

    for name, op, jobs in (
            ("pagerank", lambda: pagerank(g, max_iter=10), 4),
            ("weighted pagerank", lambda: pagerank(
                g, max_iter=10, tol=None, weighted=True), 4),
            ("label propagation", lambda: label_propagation(g, max_iter=3),
             4),
            ("hits", lambda: hits(g, max_iter=3), 4),
            ("cc", lambda: connected_components(g), 4),
            ("k-truss", lambda: k_truss(g, 3), 4),
            ("sssp", lambda: shortest_paths(g, ["0"]), 4),
            ("k-core", lambda: k_core(g, 2), 4),
            ("closeness", lambda: landmark_closeness(g, lms), 4),
            ("eccentricity", lambda: landmark_eccentricity(g, lms), 4),
            ("stress", lambda: landmark_stress(g, lms), 4),
            ("scc", lambda: strongly_connected_components(edges), 4),
            ("bow-tie", lambda: bowtie_decomposition(edges, scc), 17),
            ("temporal", lambda: temporal_earliest_arrival(edges, seeds),
             4),
            ("bfs", lambda: traverse(g, ["0", "3"], direction="out",
                                     max_depth=2, include_paths=True), 2),
            ("containment", lambda: containment_pairs(docs, threshold=0.6),
             2),
            ("top-k", lambda: cosine_topk_bruteforce(vecs, qs, 5), 1),
            ("seed top-k", lambda: cosine_topk_bruteforce(
                vecs, qs, 5, broadcast_corpus=True), 2)):
        before, j0 = held(), last_job_id(spark)
        op().collect()
        assert last_job_id(spark) - j0 <= jobs, name
        assert held() <= before, name

    def held_by(name, op):
        """The RDDs ``op()`` leaves held once its result is collected,
        asserted to be exactly those the result's plan reads."""
        before = held()
        out = op()
        out.collect()
        new = held() - before
        assert new <= plan_rdds(out), (name, new - plan_rdds(out))
        return new

    # the Spark loops run on a smaller graph (a triangle, a tail, a
    # self-loop, an isolated vertex): a leak shows at any size, and fewer
    # rounds keep it quick
    arcs = [("0", "1", 1), ("1", "2", 2), ("2", "0", 3), ("2", "3", 1),
            ("3", "3", 2)]
    g = _graph(spark, [str(i) for i in range(5)], arcs)
    edges = util.local_frame(spark, arcs, edges.schema)
    scc = util.local_frame(spark,
                           strongly_connected_components(edges).collect(),
                           scc.schema)
    empty, single = _graph(spark, [], []), _graph(spark, ["a"], [])
    chain = util.local_frame(spark, [("b", "a"), ("c", "b"), ("d", "c")],
                             T.StructType.fromDDL("src string, dst string"))
    with distributed_regime():
        # pagerank's pass is the 3-round / 10-round pair below
        for name, op in (
                ("label propagation",
                 lambda: label_propagation(g, max_iter=1)),
                ("hits", lambda: hits(g, max_iter=2)),
                ("cc", lambda: connected_components(g)),
                ("k-truss", lambda: k_truss(g, 3)),
                ("sssp", lambda: shortest_paths(g, ["0"])),
                ("k-core", lambda: k_core(g, 2)),
                ("closeness", lambda: landmark_closeness(g, lms)),
                ("stress", lambda: landmark_stress(g, lms)),
                ("scc", lambda: strongly_connected_components(edges)),
                ("bow-tie", lambda: bowtie_decomposition(edges, scc)),
                ("temporal",
                 lambda: temporal_earliest_arrival(edges, seeds)),
                # past depth 3 the untyped arms are cached in the scope
                ("bfs", lambda: traverse(g, ["0", "3"], direction="out",
                                         max_depth=4, include_paths=True)),
                ("containment",
                 lambda: containment_pairs(docs, threshold=0.6)),
                ("top-k", lambda: cosine_topk_bruteforce(vecs, qs, 5)),
                ("lsh tuning", lambda: lsh_band_tuning(docs)),
                ("empty pagerank", lambda: pagerank(empty, max_iter=2)),
                ("one-vertex pagerank",
                 lambda: pagerank(single, max_iter=2))):
            held_by(name, op)
        assert len(held_by("pagerank", lambda: pagerank(
            g, max_iter=3, tol=None))) == len(held_by(
                "pagerank", lambda: pagerank(g, max_iter=10, tol=None)))
        before = held()
        with pytest.raises(RuntimeError):
            min_label_fixpoint(chain, chain.selectExpr("src AS id",
                                                       "src AS lab"),
                               max_iter=1)
        assert held() <= before


def test_materialized_scopes_release_per_thread(spark):
    """Threads sharing the context each release only their own scope's
    checkpoints: every thread's kept frame still reads back after all
    the other scopes have exited."""
    import sys
    import threading

    n = 8
    barrier = threading.Barrier(n, timeout=60)
    outs, errors = [None] * n, []

    def work(i):
        try:
            with util.materialized() as m:
                kept, _ = m.checkpoint(spark.range(i + 1))
                m.checkpoint(spark.range(100))
                outs[i] = m.keep(kept.selectExpr("id * 2 AS x"))
            barrier.wait()   # every scope has exited
            assert (sorted(r.x for r in outs[i].collect())
                    == [2 * k for k in range(i + 1)])
        except Exception as ex:  # reported by the main thread
            errors.append(ex)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=work, args=(i,))
                   for i in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors


def test_common_neighbor_similarity(spark):
    from vivace_graph_v3_spark.operators.graph_algorithms import (
        common_neighbor_similarity)
    # x,y share 2 of 3 srcs; hub points at everything and must be capped out
    g = _graph(spark, ["s1", "s2", "s3", "hub", "x", "y", "z"],
               [("s1", "x", 1), ("s1", "y", 1),
                ("s2", "x", 1), ("s2", "y", 1),
                ("s3", "x", 1), ("s3", "z", 1),
                ("hub", "x", 1), ("hub", "y", 1), ("hub", "z", 1)])
    rows = common_neighbor_similarity(g, degree_cap=2, min_common=1).collect()
    got = {(r.id_a, r.id_b): (r.common, r.jaccard) for r in rows}
    # hub capped (fanout 3 > 2): x deg 3, y deg 2, z deg 1
    assert got[("x", "y")] == (2, round(2 / 3, 6))
    assert got[("x", "z")] == (1, round(1 / 3, 6))
    assert ("y", "z") not in got
    assert rows[0].rank == 1 and rows[0].id_a == "x" and rows[0].id_b == "y"


def test_neighbor_feature_rounds_by_hand(spark):
    """h0/h1/h2 on a path a-b-c (undirected): degrees 1,2,1;
    h1: a<-b =2, b<-(a,c)=1, c<-b=2; h2: a<-b=1, b<-mean(2,2)=2, c<-b=1."""
    from vivace_graph_v3_spark.operators.graph_algorithms import _edge_pairs
    import vivace_graph_v3_spark.entry_queries as eq
    g = _graph(spark, ["a", "b", "c"], [("a", "b", 1), ("b", "c", 1)])
    from pyspark.sql import functions as F
    e = _edge_pairs(g, None, undirected=True).select("src", "dst")
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    h1 = (e.join(deg.withColumnRenamed("src", "dst")
                 .withColumnRenamed("deg", "nd"), "dst")
          .groupBy("src")
          .agg((F.sum("nd").cast("double") / F.count(F.lit(1))).alias("h1")))
    got = {r.src: r.h1 for r in h1.collect()}
    assert got == {"a": 2.0, "b": 1.0, "c": 2.0}


def test_negative_samples_deterministic_and_uniformish(spark):
    from vivace_graph_v3_spark.operators.walks import negative_samples
    pairs = spark.createDataFrame(
        [(f"c{i}", f"x{i}") for i in range(200)], ["center", "context"])
    verts = spark.createDataFrame([(f"v{i}",) for i in range(50)], ["id"])
    out = negative_samples(pairs, verts, k=4).collect()
    assert len(out) == 800
    # negatives come from the vertex universe; k indexes present per pair
    assert {r.negative[0] for r in out} == {"v"}
    by_pair = {}
    for r in out:
        by_pair.setdefault((r.center, r.context), set()).add(r.neg_idx)
    assert all(v == {0, 1, 2, 3} for v in by_pair.values())
    # deterministic across recomputation
    again = negative_samples(pairs, verts, k=4).collect()
    assert {(r.center, r.context, r.neg_idx, r.negative) for r in out} \
        == {(r.center, r.context, r.neg_idx, r.negative) for r in again}
    # roughly uniform: no vertex hogs the noise distribution
    from collections import Counter
    counts = Counter(r.negative for r in out)
    assert max(counts.values()) < 800 / 50 * 3
    # the distributed rank path (past the bound) draws identical samples
    with distributed_regime():
        dist = negative_samples(pairs, verts, k=4).collect()
    assert {(r.center, r.context, r.neg_idx, r.negative) for r in out} \
        == {(r.center, r.context, r.neg_idx, r.negative) for r in dist}


def test_walk_census_counts_walks_not_paths(spark):
    """DP-on-counts semantics: multi-edges multiply; a diamond produces 2
    length-2 walks; vertices with no out-edges report zeros."""
    from vivace_graph_v3_spark.operators.graph_algorithms import walk_census

    # diamond a->b, a->c, b->d, c->d plus d->e and a DOUBLE edge b->d
    g = _graph(spark, "abcde",
               [("a", "b", 1), ("a", "c", 1), ("b", "d", 1), ("b", "d", 1),
                ("c", "d", 1), ("d", "e", 1)])
    rows = {r.id: (r.w1, r.w2, r.w3) for r in walk_census(g).collect()}
    assert rows["a"] == (2, 3, 3)   # a->{b,c}; a->b->d x2 + a->c->d; ->e x3
    assert rows["b"] == (2, 2, 0)   # two parallel b->d edges; b->d->e x2
    assert rows["d"] == (1, 0, 0)
    assert rows["e"] == (0, 0, 0)


def test_weighted_pagerank_follows_weight_mass(spark):
    """a splits rank 9:1 between b and c by weight; weighted pagerank must
    rank b above c, uniform must tie them."""
    from vivace_graph_v3_spark.operators.graph_algorithms import pagerank

    g = _graph(spark, "abc", [("a", "b", 9), ("a", "c", 1)])
    uni = {r.id: r.rank for r in
           pagerank(g, max_iter=5, tol=None).collect()}
    wtd = {r.id: r.rank for r in
           pagerank(g, max_iter=5, tol=None, weighted=True).collect()}
    assert abs(uni["b"] - uni["c"]) < 1e-12
    assert wtd["b"] > wtd["c"]
    # mass-|V| conservation holds in both variants
    assert abs(sum(uni.values()) - 3.0) < 1e-6
    assert abs(sum(wtd.values()) - 3.0) < 1e-6


def test_hits_edgeless_graph_returns_zero_scores(spark):
    """Round-4 advice regression: on a graph with vertices but no edges the
    hub/auth frames are empty, the combined max aggregate yields zero rows,
    and the norm lookup must not KeyError (nor divide by a 0.0 max) — every
    vertex simply scores 0.0/0.0."""
    from vivace_graph_v3_spark.operators.graph_algorithms import hits

    g = _graph(spark, ["a", "b", "c"], [])
    rows = {r["id"]: (r["hub"], r["auth"])
            for r in hits(g, max_iter=3).collect()}
    assert set(rows) == {"a", "b", "c"}
    assert all(v == (0.0, 0.0) for v in rows.values())


def test_landmark_closeness_path_graph(spark):
    """Path a-b-c-d (undirected): closeness(a) over depth 6 = 3/(1+2+3);
    closeness(b) = 3/(1+1+2). Depth bound respected: with max_depth=1,
    a reaches only b."""
    from vivace_graph_v3_spark.operators.graph_algorithms import (
        landmark_closeness)

    g = _graph(spark, ["a", "b", "c", "d"],
               [("a", "b", 1), ("b", "c", 1), ("c", "d", 1)])
    rows = {r.lm: r for r in
            landmark_closeness(g, ["a", "b"], max_depth=6).collect()}
    assert rows["a"].n_reached == 4 and rows["a"].sum_dist == 6
    assert rows["a"].closeness == 0.5          # 3/6
    assert rows["b"].n_reached == 4 and rows["b"].sum_dist == 4
    assert rows["b"].closeness == 0.75         # 3/4
    shallow = {r.lm: r for r in
               landmark_closeness(g, ["a"], max_depth=1).collect()}
    assert shallow["a"].n_reached == 2 and shallow["a"].sum_dist == 1


def test_community_modularity_invariants(spark):
    from vivace_graph_v3_spark import entry_queries as eq

    rows = eq.queries()["graph_modularity"](spark,
                                            "/root/testdata/sf0.001").collect()
    assert rows, "no communities"
    # degree sums over ALL communities add to the arc total 2m; the
    # top-50 here covers every community with arcs on this tiny graph
    m2 = sum(r.degree_sum for r in rows)
    assert sum(r.internal_arcs for r in rows) <= m2
    for r in rows:
        assert 0 <= r.internal_arcs <= r.degree_sum
        assert -1_000_000 <= r.q_ppm <= 1_000_000
    # modularity of a partition is < 1: sum of contributions sane
    assert sum(r.q_ppm for r in rows) <= 1_000_000


def test_clustering_coefficient_triangle_plus_tail(spark):
    from vivace_graph_v3_spark.operators.graph_algorithms import (
        clustering_coefficient)

    # triangle a-b-c plus pendant c-d: cc(a)=cc(b)=1, cc(c)=1/3, d dropped
    g = _graph(spark, ["a", "b", "c", "d"],
               [("a", "b", 1), ("b", "c", 1), ("a", "c", 1), ("c", "d", 1)])
    got = {r.id: (r.degree, r.n_triangles, r.cc_ppm)
           for r in clustering_coefficient(g).collect()}
    assert got["a"] == (2, 1, 1_000_000)
    assert got["b"] == (2, 1, 1_000_000)
    assert got["c"] == (3, 1, 333_333)
    assert "d" not in got


def test_assortativity_path_is_perfectly_disassortative(spark):
    from vivace_graph_v3_spark.operators.graph_algorithms import (
        degree_assortativity)

    # path a-b-c: every arc joins deg-1 to deg-2 -> r = -1 exactly
    g = _graph(spark, ["a", "b", "c"], [("a", "b", 1), ("b", "c", 1)])
    row = degree_assortativity(g).first()
    assert (row.m2, row.sum_j, row.sum_jk, row.sum_j2) == (4, 6, 8, 10)
    assert row.r_ppm == -1_000_000


def test_k_truss_two_triangles_and_pendant(spark):
    from vivace_graph_v3_spark.operators.graph_algorithms import k_truss

    # triangles abc and bcd share edge b-c; d-e is a pendant bridge
    g = _graph(spark, ["a", "b", "c", "d", "e"],
               [("a", "b", 1), ("a", "c", 1), ("b", "c", 1),
                ("b", "d", 1), ("c", "d", 1), ("d", "e", 1)])
    t3 = {(r.src, r.dst): r.support for r in k_truss(g, 3).collect()}
    assert set(t3) == {("a", "b"), ("a", "c"), ("b", "c"),
                       ("b", "d"), ("c", "d")}       # bridge d-e peeled
    assert t3[("b", "c")] == 2
    assert k_truss(g, 4).count() == 0                # cascade empties it


def test_k_truss_local_matches_distributed(spark):
    """The driver-local vectorized peel must emit exactly the distributed
    loop's fixpoint — same surviving edges, same support values — on a
    random graph dense enough to cascade over several rounds."""
    import random

    from vivace_graph_v3_spark.operators.graph_algorithms import k_truss

    rng = random.Random(79)
    n = 60
    vids = [str(i) for i in range(n)]
    edges = sorted({tuple(sorted(rng.sample(vids, 2)))
                    for _ in range(600)})
    g = _graph(spark, vids, [(a, b, 1) for a, b in edges])
    for k in (3, 5, 8):
        loc = {(r.src, r.dst): r.support
               for r in k_truss(g, k).collect()}
        with distributed_regime():
            dist = {(r.src, r.dst): r.support
                    for r in k_truss(g, k).collect()}
        assert loc == dist


def test_avg_neighbor_degree_star_graph(spark):
    """Star K_{1,4}: hub degree 4, leaves degree 1. k_nn(4) = 1 (hub's
    neighbors are leaves), k_nn(1) = 4 (leaves see the hub)."""
    from vivace_graph_v3_spark.operators.graph_algorithms import (
        avg_neighbor_degree)

    g = _graph(spark, [f"v{i}" for i in range(5)],
               [("v0", f"v{i}", 1) for i in range(1, 5)])
    out = {r.k: r.knn_ppm for r in avg_neighbor_degree(g).collect()}
    assert out[4] == 1_000_000
    assert out[1] == 4_000_000


def test_landmark_eccentricity_path_graph(spark):
    """Path a-b-c-d: ecc(a)=3, ecc(b)=2; diameter_lb = 3 on both rows.
    Depth bound respected: max_depth=1 caps ecc at 1."""
    from vivace_graph_v3_spark.operators.graph_algorithms import (
        landmark_eccentricity)

    g = _graph(spark, ["a", "b", "c", "d"],
               [("a", "b", 1), ("b", "c", 1), ("c", "d", 1)])
    rows = {r.lm: r for r in
            landmark_eccentricity(g, ["a", "b"], max_depth=6).collect()}
    assert rows["a"].ecc == 3 and rows["a"].n_reached == 4
    assert rows["b"].ecc == 2 and rows["b"].n_reached == 4
    assert rows["a"].diameter_lb == 3 and rows["b"].diameter_lb == 3
    shallow = landmark_eccentricity(g, ["a"], max_depth=1).collect()[0]
    assert shallow.ecc == 1 and shallow.n_reached == 2


def test_pair_cosine_audit_hand_vectors(spark):
    from vivace_graph_v3_spark.pipeline.similarity import pair_cosine_audit

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0]),
         (3, [-1.0, 0.0])],
        ["vec_id", "embedding"])
    out = {(r.stride, r.vec_id): r.cos
           for r in pair_cosine_audit(emb, strides=(1, 2)).collect()}
    assert out[(1, 0)] == 1.0     # identical vectors
    assert out[(1, 1)] == 0.0     # orthogonal
    assert out[(2, 1)] == -1.0    # opposite
    assert (2, 2) not in out      # id 4 absent -> no pair
    # every id pairs only with id+stride
    assert set(out) == {(1, 0), (1, 1), (1, 2), (2, 0), (2, 1)}


class TestCCIncremental:
    def test_merges_and_noops(self, spark):
        from vivace_graph_v3_spark.operators.graph_algorithms import (
            cc_incremental)
        labels = spark.createDataFrame(
            [("a", "a"), ("b", "a"), ("c", "c"), ("d", "d"), ("e", "e")],
            ["id", "comp"])
        # a-b already one component (intra edge = no-op); c joins it;
        # d and e merge with each other; transitive chain via labels
        new = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("d", "e")], ["src", "dst"])
        out = {r["id"]: r["comp"]
               for r in cc_incremental(labels, new).collect()}
        assert out == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d"}

    def test_empty_batch_identity(self, spark):
        from vivace_graph_v3_spark.operators.graph_algorithms import (
            cc_incremental)
        labels = spark.createDataFrame([("x", "x"), ("y", "y")],
                                       ["id", "comp"])
        new = spark.createDataFrame([], "src string, dst string")
        out = {r["id"]: r["comp"]
               for r in cc_incremental(labels, new).collect()}
        assert out == {"x": "x", "y": "y"}

    def test_chain_of_component_merges(self, spark):
        from vivace_graph_v3_spark.operators.graph_algorithms import (
            cc_incremental)
        # four components merged into one through a label chain:
        # c1-c2, c2-c3, c3-c4 — requires transitive closure on the
        # label graph, not one-hop min
        labels = spark.createDataFrame(
            [(f"v{i}", f"c{i}") for i in range(1, 5)], ["id", "comp"])
        new = spark.createDataFrame(
            [("v1", "v2"), ("v2", "v3"), ("v3", "v4")], ["src", "dst"])
        out = {r["id"]: r["comp"]
               for r in cc_incremental(labels, new).collect()}
        assert set(out.values()) == {"c1"}
