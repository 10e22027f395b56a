"""BFS graph traversal — the Spark analog of ``traverse`` (traverse.lisp:30-81).

Reference semantics: breadth-first from a root vertex, direction :in / :out /
:both, optional edge-type restriction, max-depth bound, global uniqueness (a
vertex is reported once, at its minimum depth), optionally the discovery path.

Within the driver bound (``util.DRIVER_ROWS``) the frontier and the visited
set live on the driver: each round is one capped collect of the hop arms
filtered to the frontier ids (``util.filter_keys``: an IN list the scans
take, so the probe runs no job of its own), and deduplication, the
anti-join against visited ids and the min-path choice happen on the driver.
Nothing is persisted or checkpointed, and the result is a local frame.

Past the bound (a round's hop rows or the visited set), and for
``uniqueness=False``, the traversal is an iterative frontier-join loop in
Spark — each round joins the frontier against the (pre-filtered) edge
relation, anti-joins the visited set, and unions into the result. This is the
standard distributed BFS (Pregel-style); depth is bounded, each frontier is
materialized once with an eager checkpoint (``util.materialized``), which
also truncates lineage so 20-deep traversals don't build 20-deep plans.

At 100 TB the edges DataFrame should be bucketed by the join side (src for
:out) so each round's join is shuffle-free on the edge side; the frontier is
small relative to edges and broadcasts when under the AQE threshold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F, types as T

from vivace_graph_v3_spark.graph import GraphStore
from vivace_graph_v3_spark.util import (
    collect_bounded, filter_keys, fits_driver, local_frame, materialized)


def traverse(graph: GraphStore, roots, *, direction: str = "out",
             edge_type: str | None = None, max_depth: int = 3,
             include_paths: bool = False, uniqueness: bool = True) -> DataFrame:
    """BFS from ``roots`` (list of vertex ids or a DataFrame with an ``id``
    column). Returns (id, depth[, path]); roots appear at depth 0; with
    ``uniqueness`` every vertex appears once at min depth (the reference's
    global uniqueness set). Path determinism: lexicographically smallest
    path among min-depth discoveries.
    """
    spark = graph.spark
    if direction not in ("in", "out", "both"):
        raise ValueError(f"direction must be in/out/both, got {direction!r}")

    from pyspark.sql import Observation

    arm_names = [edge_type] if edge_type else graph.edge_types()
    endpoints = {n: graph.edge_endpoints(n) for n in arm_names}
    # Typed-arm pruning (the graph analog of partition pruning): when an
    # arm declares its endpoint vertex types (add_edges src_type/dst_type,
    # which asserts the "<type>:<key>" id convention), a round whose
    # frontier contains no vertex of the arm's from-side type can skip
    # that arm's SOURCE SCAN entirely — the join could never match it.
    # The driver path reads the frontier's types off its ids; on the
    # Spark loop they ride the frontier checkpoint as an observation (zero
    # extra jobs). Arms without metadata are always scanned, so untyped
    # graphs take the exact pre-pruning path.
    prunable = any(
        (st is not None) if direction == "out"
        else (dt is not None) if direction == "in"
        else (st is not None or dt is not None)
        for st, dt in endpoints.values())

    def arm_scan(n, a, b):
        return (graph.active_edges(n, columns=["src", "dst"])
                .select(F.col(a).alias("from_id"), F.col(b).alias("to_id")))

    def arm_df(n, a, b):
        df = arm_scan(n, a, b)
        if persist_hop:  # deep traversal: each used arm scanned once
            key = (n, a)
            if key not in _arm_cache:
                _arm_cache[key] = m.persist(df)
            df = _arm_cache[key]
        return df

    def hop_for(ftypes, scan=arm_df):
        """Union of hop arms that can extend a frontier whose vertex types
        are ``ftypes`` (None = unknown -> all arms); None when no arm
        can."""
        arms = []
        for n in arm_names:
            st, dt = endpoints[n]
            if direction in ("out", "both") and (
                    ftypes is None or st is None or st in ftypes):
                arms.append((n, "src", "dst"))
            if direction in ("in", "both") and (
                    ftypes is None or dt is None or dt in ftypes):
                arms.append((n, "dst", "src"))
        hops = [scan(n, a, b) for n, a, b in arms]
        if not hops:
            return None
        hop = hops[0]
        for h in hops[1:]:
            hop = hop.unionByName(h)
        return hop

    if uniqueness:
        local = _bfs_local(spark, roots, lambda ft: hop_for(ft, arm_scan),
                           prunable, max_depth, include_paths)
        if local is not None:
            return local

    if isinstance(roots, DataFrame):
        frontier = roots.select("id").dropDuplicates()
    else:
        frontier = local_frame(spark, [(r,) for r in roots],
                               T.StructType([T.StructField("id", T.StringType())]))
    frontier = frontier.withColumn("depth", F.lit(0))
    if include_paths:
        frontier = frontier.withColumn("path", F.array(F.col("id")))

    # the hop relation is probed once per round. For DEEP traversals cache
    # it so the per-type union is scanned once, not once per depth; for
    # shallow ones (the common lookup shape) the cache materialization
    # costs more than the 2-3 streamed re-scans it saves (measured sf0.1:
    # depth-2 cold 5.7 s persisted vs 2.4 s streamed; warm 1.8 vs 1.6) —
    # and at 100 TB the edge relation never fits a cache anyway: each
    # round's broadcast-frontier join streams the (bucketed, column-
    # pruned) edge scan, which is the scale-correct shape. With typed-arm
    # pruning the hop union changes per round, so the cache is per-ARM.
    persist_hop = max_depth > 3
    _arm_cache: dict = {}

    def ckpt_counted_typed(df):
        """Eager checkpoint; row count (and frontier type set, when arms
        are prunable) observed on the materialization — one job."""
        if not prunable:
            return (*m.checkpoint(df), None)
        ob = Observation()
        df, n = m.checkpoint(df.observe(ob, F.collect_set(
            F.substring_index(F.col("id"), ":", 1)).alias("t")))
        return df, n, set(ob.get["t"])

    with materialized() as m:
        hop_static = None if prunable else hop_for(None)
        frontier, frontier_n, ftypes = ckpt_counted_typed(frontier)
        visited_n = frontier_n
        result = frontier
        for depth in range(1, max_depth + 1):
            hop = hop_static if hop_static is not None else hop_for(ftypes)
            if hop is None:
                break  # no arm can extend this frontier
            # BFS frontiers are usually tiny relative to the edge relation:
            # broadcast them (and the visited set) so each round is a
            # broadcast-hash join that streams edges with NO shuffle. Past
            # the driver bound (util.DRIVER_ROWS) they fall back to shuffle
            # joins, the correct trade at that size.
            f = F.broadcast(frontier) if fits_driver(frontier_n) else frontier
            nxt = (f.join(hop, f["id"] == hop["from_id"])
                   .select(F.col("to_id").alias("id"),
                           F.lit(depth).alias("depth"),
                           *([F.concat(F.col("path"), F.array(F.col("to_id"))).alias("path")]
                             if include_paths else [])))
            if uniqueness:
                # global uniqueness: drop anything already reported
                vis = result.select("id")
                if fits_driver(visited_n):
                    vis = F.broadcast(vis)
                nxt = nxt.join(vis, "id", "left_anti")
                if include_paths:
                    # one deterministic path per newly discovered vertex
                    w = Window.partitionBy("id").orderBy(F.col("path"))
                    nxt = (nxt.withColumn("__rn", F.row_number().over(w))
                           .filter(F.col("__rn") == 1).drop("__rn"))
                else:
                    nxt = nxt.dropDuplicates(["id"])
            # materialize each frontier exactly once: it feeds three consumers
            # (emptiness check, result union, next round's join) and this also
            # truncates lineage so deep traversals keep bounded plans
            nxt, frontier_n, ftypes = ckpt_counted_typed(nxt)
            if frontier_n == 0:
                break
            visited_n += frontier_n
            result = result.unionByName(nxt)
            frontier = nxt
        return m.keep(result)


def _bfs_local(spark, roots, hop_for, prunable: bool, max_depth: int,
               include_paths: bool) -> DataFrame | None:
    """The uniqueness BFS with its frontier and visited set on the driver:
    the same rows as the Spark loop in :func:`traverse`, or None when
    the roots, a round's hop rows or the visited set pass the driver
    bound (or DataFrame roots' ``id`` is not a string), so the caller
    takes the Spark loop instead.

    Spark's semantics carried over: list roots are kept as given (a
    duplicate root is reported twice at depth 0), DataFrame roots are
    deduplicated; a null id joins nothing, never counts as visited, and
    is reported at most once per round; a vertex's path is the
    lexicographically smallest among its min-depth discoveries."""
    if isinstance(roots, DataFrame):
        if not isinstance(roots.schema["id"].dataType, T.StringType):
            return None
        pdf = collect_bounded(roots.select("id"))
        if pdf is None:
            return None
        ids = list(dict.fromkeys(pdf["id"]))
    else:
        ids = list(roots)
        if not fits_driver(len(ids)):
            return None
    rows = [(r, 0, [r]) if include_paths else (r, 0) for r in ids]
    frontier = {r: [r] for r in ids if r is not None}   # id -> path
    visited = set(frontier)
    for depth in range(1, max_depth + 1):
        if not frontier:
            break
        hop = hop_for({i.split(":", 1)[0] for i in frontier}
                      if prunable else None)
        if hop is None:
            break  # no arm can extend this frontier
        pdf = collect_bounded(filter_keys(hop, "from_id", sorted(frontier)))
        if pdf is None:
            return None
        nxt: dict = {}
        for f, t in zip(pdf["from_id"], pdf["to_id"]):
            if t in visited:
                continue
            if not include_paths:
                nxt[t] = None
                continue
            path = frontier[f] + [t]
            if t not in nxt or path < nxt[t]:
                nxt[t] = path
        if not nxt:
            break
        rows.extend((t, depth, p) if include_paths else (t, depth)
                    for t, p in nxt.items())
        frontier = {t: p for t, p in nxt.items() if t is not None}
        visited.update(frontier)
        if not fits_driver(len(visited)):
            return None
    fields = [T.StructField("id", T.StringType()),
              T.StructField("depth", T.IntegerType(), False)]
    if include_paths:
        fields.append(T.StructField("path", T.ArrayType(T.StringType()),
                                    False))
    return local_frame(spark, rows, T.StructType(fields))
