"""BFS traversal vs a DuckDB oracle — mirrors tests/traverse-tests.lisp."""

from tests.conftest import distributed_regime, duck_set, rows_set
from vivace_graph_v3_spark.operators.traverse import traverse


def test_bfs_out_depth2(tpch, duck):
    # region:0 <-in_region- nations <-in_nation- customers (direction 'in')
    df = traverse(tpch, ["region:0"], direction="in", max_depth=2)
    want = duck_set(duck, """
        SELECT 'region:0', 0
        UNION ALL
        SELECT 'nation:'||n_nationkey, 1 FROM nation WHERE n_regionkey=0
        UNION ALL
        SELECT 'customer:'||c_custkey, 2 FROM customer JOIN nation
          ON c_nationkey=n_nationkey WHERE n_regionkey=0
        UNION ALL
        SELECT 'supplier:'||s_suppkey, 2 FROM supplier JOIN nation
          ON s_nationkey=n_nationkey WHERE n_regionkey=0
    """)
    assert rows_set(df) == want


def test_bfs_min_depth_uniqueness(tpch, duck):
    # customer -> orders (placed) and customer -> nation (in_nation):
    # direction 'out' from one customer; depth-3 stays unique per vertex
    df = traverse(tpch, ["customer:1"], direction="out", max_depth=3)
    rows = df.collect()
    ids = [r["id"] for r in rows]
    assert len(ids) == len(set(ids))  # global uniqueness
    want = duck_set(duck, """
        SELECT 'customer:1', 0
        UNION ALL
        SELECT 'orders:'||o_orderkey, 1 FROM orders WHERE o_custkey=1
        UNION ALL
        SELECT 'nation:'||c_nationkey, 1 FROM customer WHERE c_custkey=1
        UNION ALL
        SELECT 'region:'||n_regionkey, 2 FROM customer JOIN nation
          ON c_nationkey=n_nationkey WHERE c_custkey=1
        UNION ALL
        SELECT DISTINCT x.id, 2 FROM (
          SELECT 'part:'||l_partkey AS id FROM orders JOIN lineitem
            ON l_orderkey=o_orderkey WHERE o_custkey=1
          UNION
          SELECT 'supplier:'||l_suppkey FROM orders JOIN lineitem
            ON l_orderkey=o_orderkey WHERE o_custkey=1) x
        UNION ALL
        SELECT DISTINCT 'nation:'||s_nationkey, 3
        FROM supplier JOIN (
          SELECT DISTINCT l_suppkey FROM orders JOIN lineitem
            ON l_orderkey=o_orderkey WHERE o_custkey=1) s
          ON s_suppkey=l_suppkey
        WHERE 'nation:'||s_nationkey <> (
          SELECT 'nation:'||c_nationkey FROM customer WHERE c_custkey=1)
    """)
    assert rows_set(df) == want


def test_bfs_edge_type_filter(tpch, duck):
    df = traverse(tpch, ["customer:1"], direction="out",
                  edge_type="placed", max_depth=2)
    want = duck_set(duck, """
        SELECT 'customer:1', 0
        UNION ALL
        SELECT 'orders:'||o_orderkey, 1 FROM orders WHERE o_custkey=1
    """)
    assert rows_set(df) == want


def test_bfs_paths(tpch):
    df = traverse(tpch, ["region:0"], direction="in", max_depth=1,
                  include_paths=True)
    for r in df.collect():
        if r["depth"] == 0:
            assert r["path"] == ["region:0"]
        else:
            assert r["path"][0] == "region:0" and r["path"][-1] == r["id"]
            assert len(r["path"]) == 2


def test_typed_arm_pruning_differential(tpch):
    """Typed-arm pruning (r10): traverse over the F6 graph (endpoint types
    declared -> arms pruned per round) must produce EXACTLY the rows of the
    same traversal with the metadata stripped (every arm scanned, the
    pre-pruning path)."""
    stripped = dict(tpch._edge_endpoints)
    try:
        tpch._edge_endpoints = {}
        want = {tuple(r) for r in
                traverse(tpch, ["region:0"], direction="in",
                         max_depth=2).collect()}
        want_both = {tuple(r) for r in
                     traverse(tpch, ["nation:3"], direction="both",
                              max_depth=2).collect()}
    finally:
        tpch._edge_endpoints = stripped
    got = {tuple(r) for r in
           traverse(tpch, ["region:0"], direction="in",
                    max_depth=2).collect()}
    got_both = {tuple(r) for r in
                traverse(tpch, ["nation:3"], direction="both",
                         max_depth=2).collect()}
    assert got == want
    assert got_both == want_both


def test_bfs_broadcast_regime_differential(tpch):
    """Broadcast frontier/visited joins (within the driver bound) and the
    shuffle joins past it must give identical rows, with and without
    discovery paths."""
    for paths in (False, True):
        kw = dict(direction="both", max_depth=3, include_paths=paths)
        got = rows_set(traverse(tpch, ["nation:3"], **kw))
        with distributed_regime():
            want = rows_set(traverse(tpch, ["nation:3"], **kw))
        assert got == want and len(got) > 1


def _typed_graph(spark, typed=True):
    """Vertices ``a:0..5`` and ``b:0..3``; a typed arm ``ab`` (a -> b,
    endpoint types declared unless ``typed`` is False, so arms prune per
    round), an untyped arm ``ba`` (b -> a, one duplicate edge) and an
    untyped arm ``aa`` with an edge to a missing vertex and one with a
    null ``dst``."""
    from vivace_graph_v3_spark.graph import GraphStore
    from vivace_graph_v3_spark.schema import SchemaRegistry

    reg = SchemaRegistry()
    for t in ("a", "b"):
        reg.def_vertex(t, {})
    for e in ("ab", "ba", "aa"):
        reg.def_edge(e)
    g = GraphStore(spark, reg, name="bfs", has_tombstones=False)
    cols = "id string, type string, deleted boolean, revision long, " \
           "commit_epoch long"
    for t, n in (("a", 6), ("b", 4)):
        g.add_vertices(t, spark.createDataFrame(
            [(f"{t}:{i}", t, False, 0, 0) for i in range(n)], cols))

    def edges(name, pairs):
        return spark.createDataFrame(
            [(f"{name}{i}", name, False, 0, 0, s, d, 1.0)
             for i, (s, d) in enumerate(pairs)],
            cols + ", src string, dst string, weight double")

    g.add_edges("ab", edges("ab", [("a:0", "b:0"), ("a:0", "b:1"),
                                   ("a:2", "b:1"), ("a:3", "b:2")]),
                **(dict(src_type="a", dst_type="b") if typed else {}))
    g.add_edges("ba", edges("ba", [("b:0", "a:1"), ("b:1", "a:1"),
                                   ("b:1", "a:1"), ("b:1", "a:4"),
                                   ("b:2", "a:0")]))
    g.add_edges("aa", edges("aa", [("a:1", "a:2"), ("a:4", "a:2"),
                                   ("a:1", None), ("a:4", "zz:0"),
                                   ("a:5", "a:5")]))
    return g


def _rows(df):
    return sorted((tuple(tuple(v) if isinstance(v, list) else v for v in r)
                   for r in df.collect()), key=repr)


def test_bfs_local_matches_distributed(spark):
    """The driver-held frontier (within the driver bound) and the Spark
    frontier-join loop past it give identical rows: duplicate roots, a
    root missing from the graph, a null ``dst`` edge (its null id is
    reported once per round and never counts as visited), DataFrame
    roots with a duplicate and a null id, discovery paths, an edge-type
    restriction, every direction, and a typed arm pruned per round."""
    g = _typed_graph(spark)
    roots_df = spark.createDataFrame(
        [("a:0",), ("a:0",), (None,), ("b:3",)], "id string")
    cases = [
        (["a:0", "a:0", "nope:1"], dict(direction="out", max_depth=4)),
        (["a:0"], dict(direction="out", max_depth=4, include_paths=True)),
        (["b:1", "a:3"], dict(direction="in", max_depth=3,
                              include_paths=True)),
        (["a:1"], dict(direction="both", max_depth=3, include_paths=True)),
        (["a:0"], dict(direction="both", edge_type="ab", max_depth=2)),
        (roots_df, dict(direction="out", max_depth=3)),
        (roots_df, dict(direction="both", max_depth=2, include_paths=True)),
        ([], dict(direction="out", max_depth=2)),
    ]
    for roots, kw in cases:
        got = _rows(traverse(g, roots, **kw))
        with distributed_regime():
            want = _rows(traverse(g, roots, **kw))
        assert got == want, (roots, kw)
    # the cases above do reach the null endpoint, the missing vertex and
    # a pruned round
    out = _rows(traverse(g, ["a:0", "a:0", "nope:1"], direction="out",
                         max_depth=4))
    assert (None, 3) in out and ("zz:0", 3) in out
    assert out.count(("a:0", 0)) == 2 and ("nope:1", 0) in out
    # no typed arm: the Spark loop builds one static hop relation, which
    # past depth 3 it caches per arm
    flat = _typed_graph(spark, typed=False)
    kw = dict(direction="both", max_depth=4, include_paths=True)
    got = _rows(traverse(flat, ["a:0"], **kw))
    with distributed_regime():
        assert _rows(traverse(flat, ["a:0"], **kw)) == got
    # without uniqueness every walk is reported: b:2 -> a:0 -> b:0 | b:1
    # (b:1 -> a:1 twice) -> a:1 x3, a:4 -> (a:2, null) per a:1, a:2, zz:0
    walks = _rows(traverse(flat, ["b:2"], direction="out", max_depth=4,
                           uniqueness=False))
    assert walks == sorted(
        [("b:2", 0), ("a:0", 1), ("b:0", 2), ("b:1", 2)]
        + [("a:1", 3)] * 3 + [("a:4", 3)]
        + [("a:2", 4), (None, 4)] * 3 + [("a:2", 4), ("zz:0", 4)], key=repr)
