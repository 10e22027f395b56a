"""Whole-graph analytics: PageRank, connected components, triangle counting,
single-source shortest paths.

The reference's only whole-graph operator is BFS ``traverse``
(traverse.lisp:30-81) — these extend the same iterative frontier machinery to
the standard analytics set (the GraphX/Pregel workload class), expressed as
DataFrame loops so they inherit Catalyst + AQE:

- messages = join(current state, edges) — shuffle on the edge key;
- aggregate messages = groupBy(dst);
- iterate with an eager checkpoint per round (bounded lineage, accurate
  AQE stats), stopping on convergence / frontier exhaustion.

Scale notes: state is O(|V|) and every round shuffles O(|E|) messages — the
same cost model as GraphX Pregel. Edges are persisted across rounds; for a
1000-executor run, pre-bucket edges by src so the per-round join is
shuffle-free on the edge side. Each loop materializes through one
``util.materialized()`` scope: on return it releases every block the
returned frame does not read.

Most iterative operators choose their plan by graph size through the one
driver bound (``util.DRIVER_ROWS``). PageRank, HITS and label propagation
have three regimes:

- driver-local: when |V| + |E| rows fit, one bounded collect
  (:func:`_coded_graph`) and the same rounds as numpy kernels over
  integer-coded ids, with no Spark job per round;
- broadcast state (pagerank and HITS only): when |V| fits but the graph
  does not, the Spark loop broadcasts the O(|V|) state into each round;
- shuffle: past the bound, the Spark loop above.

The other local finishes (CC, k-truss, SSSP, k-core, the landmark
operators, SCC, bow-tie and temporal reach) go through
``util.finish_locally``: one capped collect of their input is the bound
check, then a driver kernel. Nothing is counted, persisted or
checkpointed unless the collect declines and the Spark loop runs.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
from pyspark.sql import DataFrame, Observation, Window, functions as F
from pyspark.sql import types as T

from vivace_graph_v3_spark.graph import GraphStore
from vivace_graph_v3_spark.util import (
    collect_bounded, finish_locally, fits_driver, local_frame, materialized,
    union_find_min)


def _edge_pairs(graph: GraphStore, edge_type: str | None,
                *, weighted: bool = False, undirected: bool = False) -> DataFrame:
    cols = ["src", "dst"] + (["weight"] if weighted else [])
    e = graph.active_edges(edge_type, columns=cols).select(*cols)
    if undirected:
        rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"),
                       *([F.col("weight")] if weighted else []))
        e = e.unionByName(rev)
    return e


class _CodedGraph(NamedTuple):
    """A graph collected to the driver with its ids coded as integers:
    code ``c`` stands for ``ids[c]``, and code order is the ids' order."""
    ids: np.ndarray             # sorted vertex ids and edge endpoints
    vertex: np.ndarray          # per code: is it a vertex id?
    src: np.ndarray             # int64 code per active edge
    dst: np.ndarray
    weight: np.ndarray | None   # float64 per edge, nulls as 0.0
    id_type: T.DataType


def _coded_graph(graph: GraphStore, edge_type: str | None, *,
                 weighted: bool = False) -> _CodedGraph | None:
    """Input of the driver-local kernels (pagerank, label propagation,
    HITS): the vertex ids and the active edge list in ONE bounded
    collect over Arrow (one union, one job, nothing persisted or
    checkpointed), ids factorized with ``sort=True`` so code order is
    the ids' order (for strings the code-point order Spark compares
    in). Returns None when the |V| + |E| rows do not fit the driver
    bound; the caller then runs its Spark loop."""
    import pandas as pd

    v = graph.scan_vertices(columns=["id"]).select("id")
    # vertex rows carry their id on both sides, so no id column is null
    rows = collect_bounded(
        v.select(F.col("id").alias("src"), F.col("id").alias("dst"),
                 F.lit(True).alias("is_v"))
        .unionByName(_edge_pairs(graph, edge_type, weighted=weighted)
                     .withColumn("is_v", F.lit(False)),
                     allowMissingColumns=True))
    if rows is None:
        return None
    is_v = rows["is_v"].to_numpy(dtype=bool)
    e = rows[~is_v]
    m = len(e)
    codes, ids = pd.factorize(
        np.concatenate([e["src"].to_numpy(dtype=object),
                        e["dst"].to_numpy(dtype=object),
                        rows["src"].to_numpy(dtype=object)[is_v]]),
        sort=True)
    codes = codes.astype(np.int64)
    vertex = np.zeros(len(ids), dtype=bool)
    vertex[codes[2 * m:]] = True
    weight = (np.nan_to_num(e["weight"].to_numpy(dtype=np.float64))
              if weighted else None)
    return _CodedGraph(np.asarray(ids, dtype=object), vertex, codes[:m],
                       codes[m:2 * m], weight,
                       v.schema["id"].dataType)


def _vertex_rows(graph: GraphStore, cg: _CodedGraph, **cols) -> DataFrame:
    """One row per vertex of ``cg``: (id, *cols), each column given as
    an array over codes. float64 columns become doubles, the others
    (ids) take the id type."""
    import pandas as pd

    fields = [T.StructField("id", cg.id_type)] + [
        T.StructField(name, T.DoubleType() if a.dtype.kind == "f"
                      else cg.id_type) for name, a in cols.items()]
    data = {"id": cg.ids, **cols}
    return graph.spark.createDataFrame(
        pd.DataFrame({k: a[cg.vertex] for k, a in data.items()}),
        T.StructType(fields))


def aggregate_messages(graph: GraphStore, *, agg, edge_type: str | None = None,
                       msg_to_dst=None, msg_to_src=None,
                       src_cols: list[str] | None = None,
                       dst_cols: list[str] | None = None) -> DataFrame:
    """The GraphX ``aggregateMessages`` primitive as a DataFrame operator —
    the general form of the iterative-analytics message step used by
    pagerank/cc/sssp above.

    Builds the triplet view lazily: edge columns plus requested vertex
    attributes under ``src_<col>`` / ``dst_<col>`` (only the columns actually
    named are joined, so the vertex scans stay pruned). ``msg_to_dst`` /
    ``msg_to_src`` are Column expressions over the triplet; ``agg`` is the
    per-vertex aggregate over ``msg``. Returns (id, value).

    Example — weighted in-degree:
        aggregate_messages(g, msg_to_dst=F.col("weight"),
                           agg=F.sum("msg").alias("value"))
    """
    edges = graph.active_edges(edge_type)
    trip = edges
    for side, cols in (("src", src_cols), ("dst", dst_cols)):
        if cols:
            v = graph.scan_vertices(columns=["id"] + list(cols))
            v = v.select(F.col("id").alias(side),
                         *[F.col(c).alias(f"{side}_{c}") for c in cols])
            trip = trip.join(v, side)
    msgs = []
    if msg_to_dst is not None:
        msgs.append(trip.select(F.col("dst").alias("id"),
                                msg_to_dst.alias("msg")))
    if msg_to_src is not None:
        msgs.append(trip.select(F.col("src").alias("id"),
                                msg_to_src.alias("msg")))
    if not msgs:
        raise ValueError("need msg_to_dst and/or msg_to_src")
    out = msgs[0] if len(msgs) == 1 else msgs[0].unionByName(msgs[1])
    return out.groupBy("id").agg(agg)


def _local_pagerank(cg: _CodedGraph, damping: float, max_iter: int,
                    tol: float | None, sources: list | None) -> np.ndarray:
    """Driver-local pagerank over a coded graph: the Spark loop of
    :func:`pagerank` round for round, as numpy over codes. Ranks live on
    every code (vertex ids and edge endpoints alike, as the Spark loop's
    contribution join computes them); only vertices are returned by the
    caller. Edges are sorted by (dst, src) so every received-mass sum
    runs in one fixed order."""
    nc, n = len(cg.ids), int(cg.vertex.sum())
    if sources is None:
        tele = np.ones(nc)
    else:
        hit = np.isin(cg.ids, list(sources))
        matched = int((hit & cg.vertex).sum())
        if matched == 0:
            raise ValueError(
                f"none of the {len(sources)} personalization sources "
                "exist in the vertex set")
        tele = np.where(hit, float(n) / matched, 0.0)
    order = np.lexsort((cg.src, cg.dst))
    src, dst = cg.src[order], cg.dst[order]
    out_edges = np.bincount(src, minlength=nc)
    if cg.weight is not None:
        w = cg.weight[order]
        deg = np.bincount(src, weights=w, minlength=nc)[src]
        # a zero out-weight sum sends nothing, as in the Spark loop
        inv = np.divide(w, deg, out=np.zeros_like(w), where=deg != 0)
    else:
        inv = 1.0 / out_edges[src]
    dangling = cg.vertex & (out_edges == 0)
    rank = tele
    for _ in range(max_iter if n else 0):
        recv = np.bincount(dst, weights=rank[src] * inv, minlength=nc)
        dang = float(rank[dangling].sum())
        new = ((1.0 - damping) + damping * dang / n) * tele + damping * recv
        converged = (tol is not None and
                     np.abs(new - rank)[cg.vertex].sum() < tol * n)
        rank = new
        if converged:
            break
    return rank


def pagerank(graph: GraphStore, *, edge_type: str | None = None,
             damping: float = 0.85, max_iter: int = 20,
             tol: float | None = 1.0e-4,
             sources: list | None = None,
             weighted: bool = False) -> DataFrame:
    """Standard damped PageRank over active edges. Returns (id, rank) with
    ranks summing to |V| (the classic normalization). Dangling mass is
    redistributed uniformly each round so the total stays conserved.

    ``sources`` switches to PERSONALIZED PageRank: teleport (and dangling
    redistribution) target only the source set instead of every vertex —
    the relatedness / recommendation variant. The teleport vector keeps the
    mass-|V| convention (|V|/|S| on each source, 0 elsewhere), so
    ``sources=None`` is exactly the uniform special case; the iteration
    body is IDENTICAL (the teleport column simply scales the base term),
    so the scale profile is unchanged.

    Three regimes behind the one driver bound
    (:func:`~vivace_graph_v3_spark.util.fits_driver`):

    - |V| + |E| fits: one bounded collect and the same rounds as numpy
      on the driver (:func:`_local_pagerank`); a round costs no Spark
      job. Ranks may differ from the Spark loop in the last ulps, since
      the sums run in another order.
    - only |V| fits: the Spark loop with the rank state broadcast into
      each round's contribution join.
    - past the bound: the same loop with a shuffle join."""
    if sources is not None and not sources:
        raise ValueError("personalized pagerank needs >= 1 source")
    cg = _coded_graph(graph, edge_type, weighted=weighted)
    if cg is not None:
        return _vertex_rows(graph, cg, rank=_local_pagerank(
            cg, damping, max_iter, tol, sources))
    with materialized() as m:
        # materialize the vertex universe once — it joins into EVERY iteration,
        # and recomputing the multi-type union scan per round would dominate
        vertices = (graph.scan_vertices(columns=["id"]).select("id")
                    .dropDuplicates())
        # partition the (static) edge list by join key ONCE, with the
        # reciprocal out-degree folded in (one static join instead of one per
        # round): every iteration's rank-contribution join then moves only the
        # small rank frame, never the edges — at 100 TB the edge shuffle is the
        # cost that matters one explicit shuffle on src; the out-degree
        # aggregate and the degree-fold join both REUSE that partitioning (no
        # further exchange — verify: a single Exchange below edges_w in
        # .explain), and edges_w inherits it for every iteration's contribution
        # join. AQE coalesces the dedup shuffle, so the checkpointed state
        # frame is already right-sized; the edge partitioning is sized off the
        # vertex count (~1M edge rows per task at avg degree ~10) — per-round
        # stages stay dense instead of scheduling 32 near-empty tasks x 10
        # rounds at small SF, while the count grows unbounded with |V| (at 100
        # TB this lands at thousands of partitions, as it should).
        vertices, n = m.checkpoint(vertices)
        nparts = max(4, min(int(graph.spark.conf.get(
            "spark.sql.shuffle.partitions", "32")) * 4, n // 100_000 + 1))
        # ``weighted``: contributions split by edge weight (w / Σw_out) instead
        # of 1/out-degree — same plan shape, the weight-sum replaces the count.
        # Weight sums are order-exact here in practice (integer-valued doubles
        # sum exactly); the contract's 4-dp rank rounding absorbs any residue.
        edges = (_edge_pairs(graph, edge_type, weighted=weighted)
                 .repartition(nparts, F.col("src")))
        if weighted:
            # a zero out-weight sum sends nothing (a null share, summed as
            # absent), as in _local_pagerank; under ANSI mode the bare
            # quotient would raise DIVIDE_BY_ZERO
            out_deg = edges.groupBy("src").agg(F.sum("weight").alias("deg"))
            edges_w = (edges.join(out_deg, "src")
                       .select("src", "dst",
                               F.when(F.col("deg") != 0,
                                      F.col("weight") / F.col("deg"))
                               .alias("inv")))
        else:
            out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
            edges_w = (edges.join(out_deg, "src")
                       .select("src", "dst",
                               (F.lit(1.0) / F.col("deg")).alias("inv")))
        # the dangling set is static (vertices with no out-edges). Instead of a
        # per-round semi-join + separate aggregate job for the dangling mass,
        # fold it into the SAME contribution shuffle: every dangling vertex
        # gets one virtual edge to a reserved sink id, so the per-round
        # aggregate emits the dangling mass as the sink's recv row — one
        # exchange carries both, and both consumers reuse it (ReusedExchange).
        # ids are typed strings, never NUL-led
        _SINK = "\x00__pr_dangling_sink__"
        dangling = (vertices.join(out_deg.withColumnRenamed("src", "id"),
                                  "id", "left_anti")
                    .select(F.col("id").alias("src"),
                            F.lit(_SINK).alias("dst"),
                            F.lit(1.0).alias("inv")))
        edges_w = m.persist(edges_w.unionByName(dangling))
        # rank state is O(|V|) doubles; when it fits comfortably in a
        # broadcast, ship it to the static edge partitions instead of shuffling
        # both sides — each round is then ONE shuffle (the contribution
        # aggregate). Measured on local[32], broadcast still wins at 1.9M rank
        # rows (~50 MB/round: 41 s vs 57 s for the shuffle join over 15M
        # edges), so the bound (util.DRIVER_ROWS) sits at 2M. Past it, fall
        # back to the shuffle join — the formulation that holds at 100 TB,
        # where |V| dwarfs any broadcast budget.
        bcast_state = fits_driver(n)
        _b = (lambda df: F.broadcast(df)) if bcast_state else (lambda df: df)
        # teleport vector (mass-|V| convention): uniform 1.0, or |V|/|S| on the
        # personalization sources and 0 elsewhere. Built as a function of the
        # keying column because the iteration below evaluates it on the edge
        # frame's ``src`` (rank inlining) and the final assembly on ``id``.
        if sources is None:
            def tele_of(c):
                return F.lit(1.0)
        else:
            # intersect with the vertex universe: a source absent from the
            # graph would silently lose teleport mass (ranks no longer summing
            # to |V|; with no valid source at all, every rank decays to 0).
            # No str() coercion — values are compared in the id column's type.
            matched = (vertices.filter(F.col("id").isin(*list(sources)))
                       .count())
            if matched == 0:
                raise ValueError(
                    f"none of the {len(sources)} personalization sources "
                    "exist in the vertex set")

            def tele_of(c):
                return F.when(c.isin(*list(sources)),
                              F.lit(float(n) / matched)).otherwise(F.lit(0.0))

        def base_of(c, dang):
            # same expression shape every round: identical IEEE double ops on
            # the identical dangling-mass value, evaluated on column ``c``
            return (F.lit(1.0 - damping)
                    + F.lit(damping) * F.lit(dang) / F.lit(float(n))
                    ) * tele_of(c)

        def assemble(agg, base):
            """Rank frame for state (agg, base): every vertex gets
            base(id) + damping * recv (recv 0 when absent). Deliberately a
            SHUFFLE join (no _b): |V| state rows move within the consuming
            job instead of paying a broadcast-collect job."""
            if agg is None:
                return vertices.withColumn("rank", tele_of(F.col("id")))
            return (vertices.join(agg.filter(F.col("id") != _SINK), "id",
                                  "left")
                    .select("id", (base + F.lit(damping) *
                                   F.coalesce(F.col("recv"), F.lit(0.0)))
                            .alias("rank")))

        # Iteration state is the RECEIVED-MASS aggregate (agg, base-scalar),
        # never an assembled rank frame: rank(src) = base(src) +
        # damping * recv(src) is inlined into the contribution join, so the
        # per-round |V|-sized assembly join (vertices x recv — which the old
        # shape executed INSIDE every broadcast build, ~1/3 of each round)
        # exists only at the very end, and for tol checks. Per round: ONE
        # materialization (checkpoint of the contribution aggregate — the
        # |E|-sized work, with the rank-state broadcast built in the same
        # job) plus a 1-row probe of the checkpointed frame for the dangling
        # mass, inlined as a literal into the next round's base expression.
        agg = None          # (id, recv) after round t, checkpointed
        base = None         # base expression over F.col("id") after round t
        dang = 0.0
        for it in range(max_iter):
            if agg is None:
                r_src = tele_of(F.col("src"))
                j = edges_w
            else:
                j = edges_w.join(_b(agg), edges_w["src"] == agg["id"],
                                 "left")
                r_src = (base_of(F.col("src"), dang)
                         + F.lit(damping) * F.coalesce(F.col("recv"),
                                                       F.lit(0.0)))
            prev_agg, prev_base = agg, base
            # the dangling mass rides the checkpoint materialization as an
            # observation (fires on the eager checkpoint) — zero extra
            # jobs; same value as the filter+sum probe (sum of when(..)
            # over all rows == sum over the filtered sink row, null -> 0)
            ob = Observation()
            agg, _ = m.checkpoint(
                j.select(F.col("dst").alias("id"),
                         (r_src * F.col("inv")).alias("c"))
                .groupBy("id").agg(F.sum("c").alias("recv"))
                .observe(ob, F.coalesce(
                    F.sum(F.when(F.col("id") == _SINK, F.col("recv"))),
                    F.lit(0.0)).alias("dang")))
            dang = ob.get["dang"]
            base = base_of(F.col("id"), dang)
            # L1-delta convergence probe, every round
            if tol is not None:
                new = assemble(agg, base)
                old = assemble(prev_agg, prev_base)
                delta = (new.join(old.withColumnRenamed("rank", "old"), "id")
                         .agg(F.sum(F.abs(F.col("rank") - F.col("old"))))
                         .first()[0])
                if delta is not None and delta < tol * n:
                    break
        return m.keep(assemble(agg, base))


def min_label_fixpoint(edges: DataFrame, labels: DataFrame, *,
                       max_iter: int) -> DataFrame:
    """The min-label engine behind connected components, SCC peeling,
    bow-tie reach and dedup clusters: the fixpoint of
    lab(v) = min(lab(v), lab(w)) over every directed edge v -> w of
    ``edges`` (src, dst). A label flows from dst to src, so undirected
    callers pass both orientations. ``labels`` (id, lab) seeds every
    vertex with lab = id; the result (id, lab) then carries the min id
    over {v} ∪ {w : v ⇝ w}, i.e. the component minimum on symmetric
    edges. The fixpoint is unique, so the labels never depend on how many
    rounds ran.

    Each round takes the neighbour min, then pointer-jumps
    lab <- least(lab, lab(lab)). The jump is sound because lab(v) is
    always a node v reaches and reach is transitive (R(lab(v)) ⊆ R(v)),
    so chains converge in O(log diameter) rounds. Both steps land in
    stats-reset checkpoints (``rebase`` in util.materialized.checkpoint),
    and the step is
    materialized BEFORE its self-join: self-joining the live plan can
    stall the broadcast-build thread until spark.sql.broadcastTimeout
    (the v_optimal_histogram lesson, SCALING.md), and a checkpointed
    2-column label table is strictly cheaper to read twice. The
    changed-row count rides the jump checkpoint as an observation, so
    convergence is checked every round at no extra job. ``max_iter``
    rounds without convergence raise RuntimeError rather than return a
    partial answer. ``edges`` is re-read every round: pass it persisted
    or checkpointed."""
    with materialized() as m:
        labels, _ = m.checkpoint(labels.select("id", "lab"), rebase=True)
        for _ in range(max_iter):
            nbr = (edges.join(labels.select(F.col("id").alias("dst"),
                                            F.col("lab").alias("nlab")),
                              "dst")
                   .groupBy("src").agg(F.min("nlab").alias("nmin"))
                   .withColumnRenamed("src", "id"))
            # the pre-round label travels along as ``old`` for the change
            # count
            stepped, _ = m.checkpoint(
                labels.join(nbr, "id", "left")
                .select("id", F.least("lab", F.coalesce("nmin", "lab"))
                        .alias("lab"), F.col("lab").alias("old")),
                rebase=True)
            ob = Observation()
            labels, _ = m.checkpoint(
                stepped.join(stepped.select(F.col("id").alias("lab"),
                                            F.col("lab").alias("lab2")),
                             "lab", "left")
                .select("id", F.least("lab", F.coalesce("lab2", "lab"))
                        .alias("lab"), "old")
                .observe(ob, F.count(F.when(F.col("lab") != F.col("old"),
                                            1)).alias("chg"))
                .select("id", "lab"), rebase=True)
            if ob.get["chg"] == 0:
                return m.keep(labels)
    raise RuntimeError(
        f"min_label_fixpoint did not converge in {max_iter} rounds")


def _contract_edges_locally(edges: DataFrame) -> DataFrame:
    """Partition-local union-find contraction: within each Arrow batch stream
    (= one partition), collapse its edges to a spanning (id, root) mapping
    (:func:`~vivace_graph_v3_spark.util.union_find_min`). The union of the
    per-partition mappings preserves global connectivity exactly (two ids
    are connected through the mappings iff they were through the original
    edges), but has at most one row per distinct endpoint per partition —
    O(|V|) rows into the global loop instead of O(|E|). This is the
    standard pre-contraction step for distributed CC (cf. GraphFrames /
    Kiveris et al. "Connected Components in MapReduce"); per-partition
    state is a dict over that partition's endpoints, bounded by partition
    size."""

    def uf(batches):
        import pandas as pd

        root = union_find_min(pair for pdf in batches
                              for pair in zip(pdf["src"], pdf["dst"]))
        yield pd.DataFrame({"src": list(root), "dst": list(root.values())})

    return edges.mapInPandas(uf, schema="src string, dst string")


def connected_components(graph: GraphStore, *, edge_type: str | None = None,
                         max_iter: int = 50) -> DataFrame:
    """Undirected connected components: comp(v) = min vertex id of v's
    component. Edges are first collapsed per partition by a local
    union-find, so what follows sees a spanning mapping of size O(|V|)
    rather than the raw O(|E|) edge list. When that mapping fits the
    driver (one capped collect through
    :func:`~vivace_graph_v3_spark.util.finish_locally`, nothing counted
    or held), one driver union-find settles every component; past the
    bound, one :func:`min_label_fixpoint` over both orientations of the
    persisted mapping does. Vertices outside the edge list keep their
    singleton label."""
    edges = _contract_edges_locally(
        _edge_pairs(graph, edge_type, undirected=True))
    # the mapping is directed id->root; propagation needs both directions
    edges = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    labels = (graph.scan_vertices(columns=["id"]).select("id").dropDuplicates()
              .withColumn("comp", F.col("id")))
    id_f = labels.schema["id"]
    lab_df = finish_locally(
        edges,
        lambda pdf: list(union_find_min(zip(pdf["src"], pdf["dst"]))
                         .items()),
        T.StructType([id_f, T.StructField("c2", id_f.dataType)]))
    if lab_df is not None:
        return (labels.join(F.broadcast(lab_df), "id", "left")
                .select("id", F.coalesce(F.col("c2"), F.col("comp"))
                        .alias("comp")))
    with materialized() as m:
        return m.keep(min_label_fixpoint(
            m.persist(edges), labels.withColumnRenamed("comp", "lab"),
            max_iter=max_iter).withColumnRenamed("lab", "comp"))


def cc_incremental(labels: DataFrame, new_edges: DataFrame, *,
                   src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """Incremental connected components: update persisted labels
    ``(id, comp)`` after a NEW undirected edge batch WITHOUT touching the
    full edge set — only components incident to new edges can merge, so
    every step is batch-bounded:

    1. project each new edge to its endpoints' labels (two equi-joins of
       the batch into the label table — at 100 TB the batch side
       broadcasts against a bucketed label layout);
    2. collapse the resulting (comp_a, comp_b) LABEL graph with
       :func:`~vivace_graph_v3_spark.pipeline.dedup.dedup_clusters`
       (driver union-find within the driver bound, distributed
       min-label + pointer jumping past it);
    3. apply the old->merged map to the label table with ONE broadcast
       left join (the map has at most one row per touched component).

    Callers first append brand-new vertices as singleton labels
    (``comp = id``); deletions need a recompute of the affected
    components (component splits are not incremental in this model —
    the standard trade of label-store CC maintenance)."""
    from vivace_graph_v3_spark.pipeline.dedup import dedup_clusters

    lsrc = labels.select(F.col("id").alias(src_col),
                         F.col("comp").alias("c1"))
    ldst = labels.select(F.col("id").alias(dst_col),
                         F.col("comp").alias("c2"))
    merges = (new_edges.join(lsrc, src_col).join(ldst, dst_col)
              .select("c1", "c2")
              .filter(F.col("c1") != F.col("c2"))
              .dropDuplicates())
    if merges.isEmpty():
        return labels.select("id", "comp")
    cmap = (dedup_clusters(merges, id_a="c1", id_b="c2")
            .select(F.col("id").alias("comp"),
                    F.col("cluster").alias("__merged")))
    return (labels.join(F.broadcast(cmap), "comp", "left")
            .select("id", F.coalesce(F.col("__merged"), F.col("comp"))
                    .alias("comp")))


def triangle_count(graph: GraphStore, *, edge_type: str | None = None) -> DataFrame:
    """Global triangle count over the undirected simple graph. Canonical-order
    join (a<b<c) counts each triangle once; returns one row (n_triangles).
    The standard two-join formulation — both joins shuffle on an edge key and
    benefit from AQE skew splitting on hub vertices."""
    e = (_edge_pairs(graph, edge_type, undirected=True)
         .filter(F.col("src") < F.col("dst")).dropDuplicates(["src", "dst"]))
    ab = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    bc = e.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    ac = e.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tri = ab.join(bc, "b").join(ac, ["a", "c"])
    return tri.agg(F.count(F.lit(1)).alias("n_triangles"))


def clustering_coefficient(graph: GraphStore, *,
                           edge_type: str | None = None,
                           min_degree: int = 2) -> DataFrame:
    """Local clustering coefficient per vertex (Watts-Strogatz 1998) over the
    undirected simple graph: cc(v) = 2*tri(v) / (deg(v)*(deg(v)-1)).

    Per-vertex triangle counts reuse the canonical a<b<c two-join formulation
    of :func:`triangle_count`; each closed triangle credits all three corners
    through one explode (no second counting join, and the wedge join runs
    exactly once). The coefficient is emitted as an
    integer ppm ratio (``cc_ppm``) so the oracle comparison is exact integer
    arithmetic, never float division drift.

    Scale: two shuffles on edge endpoints (same as the global count) plus one
    groupBy on vertex id; both AQE-skew-splittable. Degree comes from one
    map-side-combined aggregation of the deduped edge list — no all-pairs
    stage anywhere. Reference analogue: adjacency scans over vertex edge
    lists (vivace-graph-v3 traversal.lisp neighbor walks); re-expressed here
    as set-join triangle closure.
    """
    e = (_edge_pairs(graph, edge_type, undirected=True)
         .filter(F.col("src") < F.col("dst")).dropDuplicates(["src", "dst"]))
    deg = (e.select(F.col("src").alias("id"))
           .unionAll(e.select(F.col("dst").alias("id")))
           .groupBy("id").agg(F.count(F.lit(1)).alias("degree")))
    ab = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    bc = e.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    ac = e.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tri = ab.join(bc, "b").join(ac, ["a", "c"])
    # single-pass corner credit: exploding (a, b, c) out of each triangle row
    # enumerates the wedge join once; a 3-way union of tri projections would
    # re-run it once per branch (no subplan reuse across union arms)
    corners = tri.select(
        F.explode(F.array("a", "b", "c")).alias("id"))
    tri_v = corners.groupBy("id").agg(F.count(F.lit(1)).alias("n_triangles"))
    out = (deg.join(tri_v, "id", "left")
           .withColumn("n_triangles",
                       F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long"))
           .filter(F.col("degree") >= min_degree))
    return out.select(
        "id", F.col("degree").cast("long").alias("degree"), "n_triangles",
        F.expr("n_triangles * 2000000L div (degree * (degree - 1L))")
        .alias("cc_ppm"))


def _edge_support(e: DataFrame) -> DataFrame:
    """Per-edge triangle support over a canonical (src<dst) simple edge
    list: enumerate each triangle once (a<b<c, the triangle_count
    formulation) and credit its three sides. Returns (src, dst, support)
    for edges in >= 1 triangle."""
    ab = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    bc = e.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    ac = e.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tri = ab.join(bc, "b").join(ac, ["a", "c"])
    # one Generate over the join output credits all three sides in a single
    # enumeration pass; a 3-way union of tri projections would re-run the
    # whole wedge join once per branch (no subplan reuse across union arms)
    sides = (tri.select(F.explode(F.array(
        F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
        F.struct(F.col("b").alias("src"), F.col("c").alias("dst")),
        F.struct(F.col("a").alias("src"), F.col("c").alias("dst"))))
        .alias("side"))
        .select("side.src", "side.dst"))
    return sides.groupBy("src", "dst").agg(
        F.count(F.lit(1)).alias("support"))


def _local_truss(pdf, sup_min: int, *,
                 max_triangles: int = 50_000_000,
                 max_wedges: int = 256_000_000, threads: int = 8):
    """Driver-local exact k-truss peel over a bounded canonical edge list
    (the local finish of :func:`k_truss`). One vectorized triangle
    enumeration — degree-ordered orientation so hub wedge fan-out stays
    bounded, processed in chunks across a thread pool (the numpy kernels
    release the GIL, so chunks genuinely parallelize) with int32 scratch
    so the pass is bandwidth-light — yields per-edge support plus the
    triangle side lists; the cascade then peels with incremental support
    maintenance: support(edge) always equals its triangle count within
    the surviving subgraph, which is exactly the per-round recompute of
    the distributed loop, so the fixpoint (and the emitted support
    values) are identical. ``pdf`` holds the canonical endpoints as
    ``src``/``dst``. Returns a list of (src, dst, support) tuples
    for survivors, or ``None`` when the wedge or triangle volume would
    exceed the local caps (the caller keeps the distributed loop as the
    at-scale fallback)."""
    import numpy as np
    import pandas as pd
    from concurrent.futures import ThreadPoolExecutor

    m = len(pdf)
    if m == 0:
        return []
    codes, _vocab = pd.factorize(
        np.concatenate([pdf["src"].to_numpy(dtype=object),
                        pdf["dst"].to_numpy(dtype=object)]))
    u = codes[:m].astype(np.int64)
    v = codes[m:].astype(np.int64)
    vocab = np.asarray(_vocab, dtype=object)
    nv = int(len(vocab))
    deg = np.bincount(u, minlength=nv) + np.bincount(v, minlength=nv)
    # orient each edge away from its (degree, code)-smaller endpoint:
    # every triangle then has exactly one center whose two sides both
    # point outward, so each triangle is enumerated once, and hub
    # out-degrees stay bounded (the standard wedge-bounding orientation)
    swap = (deg[u] > deg[v]) | ((deg[u] == deg[v]) & (u > v))
    ou = np.where(swap, v, u)
    ov = np.where(swap, u, v)
    order = np.lexsort((ov, ou))
    gv = ov[order].astype(np.int32)  # ascending within each center group
    gu_sorted = ou[order]
    od = np.bincount(gu_sorted, minlength=nv)
    ends = np.cumsum(od)
    pos = np.arange(m) - (ends - od)[gu_sorted]
    cnt = od[gu_sorted] - pos - 1    # wedge partners after each position
    # canonical-by-code edge keys for wedge-closure membership tests
    ekey = np.minimum(u, v) * nv + np.maximum(u, v)
    eorder = np.argsort(ekey)
    eks = ekey[eorder]
    order32 = order.astype(np.int32)
    eorder32 = eorder.astype(np.int32)
    cum = np.concatenate(([0], np.cumsum(cnt)))
    total_w = int(cum[-1])
    if total_w > max_wedges:
        return None
    chunk = max(4_000_000, total_w // (threads * 4) + 1)
    splits = [0]
    t = chunk
    while t < total_w:
        splits.append(int(np.searchsorted(cum, t)))
        t += chunk
    splits.append(m)

    def _chunk_triangles(span):
        i0, i1 = span
        tot = int(cum[i1] - cum[i0])
        if i0 >= i1 or tot == 0:
            return None
        ccnt = cnt[i0:i1]
        wi = np.repeat(np.arange(i0, i1, dtype=np.int32), ccnt)
        # partner index: wj = wi + (wedge ordinal within wi's block) + 1,
        # folded into one repeat over the per-edge block bases
        base = np.arange(i0, i1, dtype=np.int64) - cum[i0:i1] + 1
        wj = (np.repeat(base, ccnt)
              + np.arange(cum[i0], cum[i1], dtype=np.int64)).astype(np.int32)
        b = gv[wi]
        c = gv[wj]                   # c > b: gv ascending within a group
        wkey = b.astype(np.int64) * nv + c
        p = np.searchsorted(eks, wkey)
        np.minimum(p, m - 1, out=p)
        ok = eks[p] == wkey
        return (order32[wi[ok]], order32[wj[ok]], eorder32[p[ok]])

    with ThreadPoolExecutor(max_workers=threads) as ex:
        parts = [r for r in ex.map(_chunk_triangles,
                                   zip(splits[:-1], splits[1:]))
                 if r is not None]
    n_tri = sum(len(p[0]) for p in parts)
    if n_tri > max_triangles:
        return None
    if n_tri:
        ti = np.concatenate([p[0] for p in parts])
        tj = np.concatenate([p[1] for p in parts])
        tk = np.concatenate([p[2] for p in parts])
    else:
        ti = tj = tk = np.zeros(0, dtype=np.int32)
    sup = (np.bincount(ti, minlength=m) + np.bincount(tj, minlength=m)
           + np.bincount(tk, minlength=m))
    # the distributed loop keeps sup.filter(support >= sup_min) where sup
    # only lists edges in >= 1 triangle — so the effective per-round
    # threshold is max(sup_min, 1)
    eff = max(sup_min, 1)
    alive = np.ones(m, dtype=bool)
    t_alive = np.ones(n_tri, dtype=bool)
    while True:
        dead = alive & (sup < eff)
        if not dead.any():
            break
        alive &= ~dead
        if n_tri:
            td = t_alive & (dead[ti] | dead[tj] | dead[tk])
            if td.any():
                for side in (ti, tj, tk):
                    se = side[td]
                    live = alive[se]
                    if live.any():
                        sup -= np.bincount(se[live], minlength=m)
                t_alive &= ~td
    idx = np.nonzero(alive)[0]
    return [(vocab[u[i]], vocab[v[i]], int(sup[i])) for i in idx]


def k_truss(graph: GraphStore, k: int, *, edge_type: str | None = None,
            max_iter: int = 30) -> DataFrame:
    """k-truss (Cohen 2008): the maximal subgraph in which every edge
    participates in at least k-2 triangles — the cohesive-subgraph
    refinement of :func:`k_core` (every k-truss is inside the (k-1)-core,
    but prunes bridge edges cores keep). Edge-peel to fixpoint: recompute
    support over SURVIVING edges, drop edges under k-2, repeat. The
    k-truss is unique, so peel order is irrelevant — no ordering contract.
    Returns the surviving canonical edges with their final support.

    Scale: each round is one triangle enumeration over the shrinking edge
    set (two endpoint-keyed shuffles, AQE-skew-splittable — never
    vertex-pair all-pairs) plus a side aggregate; the edge set shrinks
    monotonically so rounds get cheaper. Rounds are checkpoint-truncated
    like the other iterative operators. When the edge set fits the
    driver (one capped collect, before anything is counted or
    checkpointed), or once a peeled round's count says it does, the
    remaining cascade is settled by one driver-local vectorized
    enumeration + incremental peel (:func:`_local_truss` through
    :func:`~vivace_graph_v3_spark.util.finish_locally`, tried once);
    the cascade's sequential round latency dominates exactly when the
    frames are small, and the local pass reaches the identical unique
    fixpoint (differential test in test_graph_algorithms). The
    distributed loop stays the at-scale fallback (and the fallback of
    last resort when the bounded edge set is still so dense that its
    triangle list would exceed the local memory cap)."""
    sup_min = k - 2
    e = (_edge_pairs(graph, edge_type, undirected=True)
         .filter(F.col("src") < F.col("dst"))
         .dropDuplicates(["src", "dst"]))
    schema = T.StructType([e.schema["src"], e.schema["dst"],
                           T.StructField("support", T.LongType())])

    def peel(pdf):
        return _local_truss(pdf, sup_min)

    local = finish_locally(e, peel, schema)
    if local is not None:
        return local
    with materialized() as m:
        e, n_edges = m.checkpoint(e)
        # one local attempt: an edge set that fits was declined by the
        # kernel's memory cap, and a peeled subset gets one try once it fits
        local_tried = fits_driver(n_edges)
        sup = None
        converged = False
        for _ in range(max_iter):
            if not local_tried and fits_driver(n_edges):
                local_tried = True
                local = finish_locally(e, peel, schema)
                if local is not None:
                    return m.keep(local)
            sup = _edge_support(e)
            kept, n_next = m.checkpoint(
                sup.filter(F.col("support") >= sup_min))
            e = kept.select("src", "dst")
            if n_next == n_edges:
                converged = True   # kept == e, so sup describes the fixpoint
                break
            n_edges = n_next
            if n_edges == 0:
                converged = True
                break
        if not converged:
            # max_iter exhausted pre-fixpoint: supports were counted against
            # the pre-peel set; recompute once against the final edge set so
            # the (src, dst, support) contract stays honest (edges that fell
            # out of every triangle report 0)
            return m.keep(
                e.join(_edge_support(e), ["src", "dst"], "left")
                .withColumn("support", F.coalesce(F.col("support"),
                                                  F.lit(0).cast("long"))))
        return m.keep(sup.filter(F.col("support") >= sup_min)
                      if sup is not None
                      else e.withColumn("support", F.lit(0).cast("long")))


def degree_assortativity(graph: GraphStore, *,
                         edge_type: str | None = None) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002): the Pearson
    correlation of endpoint degrees over the doubled undirected edge list.
    Positive r = hubs attach to hubs; negative = hub-and-spoke.

    Exactness: every moment (m2 arcs, sum_j, sum_jk, sum_j2) accumulates
    in BIGINT; r = (m2*sum_jk - sum_j^2) / (m2*sum_j2 - sum_j^2) uses two
    exact integer operands and one IEEE division, so r_ppm is bit-stable
    across engines. (On the doubled list the j- and k-marginals are
    identical, so the general Pearson denominator's two factors coincide
    and no square root is needed.)

    Scale: degree is one map-side-combined aggregation; the two
    degree-attach joins shuffle on edge endpoints (AQE-skew-splittable);
    the moments are a single 1-row aggregate. No all-pairs stage.
    BIGINT headroom: m2*sum_j2 tracks sum_v d(v)^3 times arcs — ample for
    contract scales; hub-heavy graphs beyond ~1e9 arcs should cast the
    moment sums to DECIMAL(38,0) (expression shape unchanged).
    """
    e = (_edge_pairs(graph, edge_type, undirected=True)
         .filter(F.col("src") < F.col("dst")).dropDuplicates(["src", "dst"]))
    arcs = e.unionByName(e.select(F.col("dst").alias("src"),
                                  F.col("src").alias("dst")))
    deg = (arcs.groupBy(F.col("src").alias("id"))
           .agg(F.count(F.lit(1)).alias("d")))
    jk = (arcs.join(deg.select(F.col("id").alias("src"),
                               F.col("d").alias("j")), "src")
          .join(deg.select(F.col("id").alias("dst"),
                           F.col("d").alias("k")), "dst"))
    m = jk.agg(F.count(F.lit(1)).alias("m2"),
               F.sum("j").alias("sum_j"),
               F.sum(F.col("j") * F.col("k")).alias("sum_jk"),
               F.sum(F.col("j") * F.col("j")).alias("sum_j2"))
    num = F.col("m2") * F.col("sum_jk") - F.col("sum_j") * F.col("sum_j")
    den = F.col("m2") * F.col("sum_j2") - F.col("sum_j") * F.col("sum_j")
    return m.select(
        "m2", "sum_j", "sum_jk", "sum_j2",
        F.floor(num.cast("double") / den.cast("double")
                * F.lit(1000000.0) + F.lit(0.5))
        .cast("long").alias("r_ppm"))


def _local_sssp(pdf, root_ids, max_iter: int):
    """Driver-local exact frontier Bellman-Ford over a bounded edge list
    (the local finish of :func:`shortest_paths`). Replays the
    distributed loop round for round — per round, candidates come only
    from the frontier improved last round, the per-destination minimum
    is taken over the identical candidate multiset, and the loop runs
    under the same ``max_iter`` budget — so every (id, dist) row,
    including the float dists of the weighted variant, is bit-identical
    to the distributed result."""
    import numpy as np
    import pandas as pd

    m = len(pdf)
    codes, _vocab = pd.factorize(
        np.concatenate([pdf["src"].to_numpy(dtype=object),
                        pdf["dst"].to_numpy(dtype=object),
                        np.asarray(root_ids, dtype=object)]))
    u = codes[:m].astype(np.int64)
    v = codes[m:2 * m].astype(np.int64)
    r = np.unique(codes[2 * m:])
    w = pdf["w"].to_numpy(dtype=np.float64)
    vocab = np.asarray(_vocab, dtype=object)
    nv = int(len(vocab))
    dist = np.full(nv, np.inf)
    dist[r] = 0.0
    frontier = np.zeros(nv, dtype=bool)
    frontier[r] = True
    for _ in range(max_iter):
        esel = frontier[u]
        if not esel.any():
            break
        nd = np.full(nv, np.inf)
        np.minimum.at(nd, v[esel], dist[u[esel]] + w[esel])
        improved = nd < dist
        if not improved.any():
            break
        dist[improved] = nd[improved]
        frontier = improved
    idx = np.nonzero(dist < np.inf)[0]
    return [(vocab[i], float(dist[i])) for i in idx]


def shortest_paths(graph: GraphStore, roots, *, edge_type: str | None = None,
                   weighted: bool = False, max_iter: int = 50,
                   direction: str = "out") -> DataFrame:
    """Single/multi-source shortest paths (hop count, or summed edge weight
    with ``weighted``): distributed Bellman-Ford. Returns (id, dist) for
    reachable vertices. Frontier-based: only improved vertices relax their
    neighbors next round, so rounds touch the active frontier, not all V.
    When the edge list fits the driver (one capped collect, nothing
    counted or persisted first), the whole relaxation is replayed
    driver-locally (:func:`_local_sssp` through
    :func:`~vivace_graph_v3_spark.util.finish_locally`) — long chains
    mean many tiny sequential rounds, which is exactly where per-round
    job latency dominates; the distributed loop, over the persisted edge
    list, stays the at-scale path."""
    spark = graph.spark
    edges = _edge_pairs(graph, edge_type, weighted=weighted,
                        undirected=(direction == "both"))
    if direction == "in":
        edges = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"),
                             *([F.col("weight")] if weighted else []))
    w = F.col("weight") if weighted else F.lit(1.0)
    edges = edges.select("src", "dst", w.alias("w"))

    if isinstance(roots, DataFrame):
        dist = roots.select("id").dropDuplicates()
    else:
        dist = local_frame(spark, [(r,) for r in roots], T.StructType(
            [T.StructField("id", edges.schema["src"].dataType)]))
    # the roots come in through the same bound: a roots frame may be as
    # large as the vertex set
    root_pdf = collect_bounded(dist)
    local = None if root_pdf is None else finish_locally(
        edges,
        lambda pdf: _local_sssp(
            pdf, root_pdf["id"].to_numpy(dtype=object), max_iter),
        T.StructType([T.StructField("id", edges.schema["src"].dataType),
                      T.StructField("dist", T.DoubleType())]))
    if local is not None:
        return local
    with materialized() as m:
        edges = m.persist(edges)
        dist, _ = m.checkpoint(dist.withColumn("dist", F.lit(0.0)))
        frontier = dist
        for it in range(max_iter):
            cand = (frontier.join(edges, frontier["id"] == edges["src"])
                    .select(F.col("dst").alias("id"),
                            (F.col("dist") + F.col("w")).alias("nd"))
                    .groupBy("id").agg(F.min("nd").alias("nd")))
            improved, n_imp = m.checkpoint(
                cand.join(dist, "id", "left")
                .filter(F.col("dist").isNull() | (F.col("nd") < F.col("dist")))
                .select("id", F.col("nd").alias("dist")))
            if n_imp == 0:
                break
            # dist is rebuilt lazily each round (anti-join + union over the
            # checkpointed frontier); materialize it only every 3 rounds —
            # the lineage stays <= 3 deep and one checkpoint job per round
            # is saved
            dist = (dist.join(improved.select("id"), "id", "left_anti")
                    .unionByName(improved))
            if (it + 1) % 3 == 0:
                dist, _ = m.checkpoint(dist)
            frontier = improved
        return m.keep(dist)


def _local_label_propagation(cg: _CodedGraph, max_iter: int) -> np.ndarray:
    """Driver-local label propagation over a coded graph: the Spark loop
    of :func:`label_propagation` round for round. Labels are codes, and
    code order is id order, so the smallest-label tie rule is the
    smallest code. Returns the label code per code."""
    nc = len(cg.ids)
    src = np.concatenate([cg.src, cg.dst])
    dst = np.concatenate([cg.dst, cg.src])
    keep = cg.vertex[dst]              # neighbours must be vertices
    src, dst = src[keep], dst[keep]
    label = np.arange(nc)
    for _ in range(max_iter):
        pairs, cnt = np.unique(src * nc + label[dst], return_counts=True)
        s, lbl = np.divmod(pairs, nc)
        # per vertex: highest count first, then the smallest label
        order = np.lexsort((lbl, -cnt, s))
        s, lbl = s[order], lbl[order]
        first = np.ones(len(s), dtype=bool)
        first[1:] = s[1:] != s[:-1]
        s, lbl = s[first], lbl[first]
        upd = cg.vertex[s]             # only vertices update
        label[s[upd]] = lbl[upd]
    return label


def label_propagation(graph: GraphStore, *, edge_type: str | None = None,
                      max_iter: int = 5) -> DataFrame:
    """Community detection by synchronous label propagation (beyond the
    reference, same Pregel class as pagerank above): each round every vertex
    adopts the most frequent label among its neighbors, ties broken by the
    smallest label — a DETERMINISTIC contract (classic async LPA is run-order
    dependent, which a distributed engine must not be). Fixed round budget,
    synchronous updates; returns (id, label).

    Two regimes behind the one driver bound
    (:func:`~vivace_graph_v3_spark.util.fits_driver`); the label state
    has no broadcast regime, unlike pagerank and HITS:

    - |V| + |E| fits: one bounded collect and the same rounds as numpy
      on the driver (:func:`_local_label_propagation`), with identical
      labels.
    - otherwise the Spark loop: two shuffles per round (neighbor-label
      count, per-vertex argmax) over an O(|E|) frame — the same profile
      as one pagerank round."""
    cg = _coded_graph(graph, edge_type)
    if cg is not None:
        return _vertex_rows(
            graph, cg, label=cg.ids[_local_label_propagation(cg, max_iter)])
    with materialized() as m:
        edges = m.persist(_edge_pairs(graph, edge_type, undirected=True))
        labels, _ = m.checkpoint(
            graph.scan_vertices(columns=["id"]).select("id").dropDuplicates()
            .withColumn("label", F.col("id")))
        for _ in range(max_iter):
            counts = (edges.join(labels.select(F.col("id").alias("dst"),
                                               F.col("label").alias("nlbl")),
                                 "dst")
                      .groupBy("src", "nlbl")
                      .agg(F.count(F.lit(1)).alias("cnt")))
            w = Window.partitionBy("src").orderBy(F.col("cnt").desc(),
                                                  F.col("nlbl").asc())
            best = (counts.withColumn("rn", F.row_number().over(w))
                    .filter(F.col("rn") == 1)
                    .select(F.col("src").alias("id"),
                            F.col("nlbl").alias("new_label")))
            labels, _ = m.checkpoint(
                labels.join(best, "id", "left")
                .select("id", F.coalesce("new_label", "label")
                        .alias("label")))
        return m.keep(labels)


def _local_kcore(pdf, k: int, max_iter: int):
    """Driver-local exact k-core peel over a bounded doubled-directed
    edge list (each undirected edge present in both orientations, the
    local finish of :func:`k_core`). Round r removes every
    vertex whose degree within the round-r surviving set is under ``k``
    — the identical per-round rule as the distributed loop, bounded by
    the same ``max_iter`` budget, so the output (id, degree-in-core)
    matches row for row. Only valid for k >= 1 (the caller checks):
    vertices outside the edge list can then never survive."""
    import numpy as np
    import pandas as pd

    m = len(pdf)
    if m == 0:
        return []
    codes, _vocab = pd.factorize(
        np.concatenate([pdf["src"].to_numpy(dtype=object),
                        pdf["dst"].to_numpy(dtype=object)]))
    u = codes[:m].astype(np.int64)
    v = codes[m:].astype(np.int64)
    vocab = np.asarray(_vocab, dtype=object)
    nv = int(len(vocab))
    alive_v = np.ones(nv, dtype=bool)
    alive_e = np.ones(m, dtype=bool)
    for _ in range(max_iter):
        deg = np.bincount(u[alive_e], minlength=nv)
        dead = alive_v & (deg < k)
        if not dead.any():
            break
        alive_v &= ~dead
        alive_e &= ~(dead[u] | dead[v])
    deg = np.bincount(u[alive_e], minlength=nv)
    idx = np.nonzero(alive_v & (deg >= 1))[0]
    return [(vocab[i], int(deg[i])) for i in idx]


def k_core(graph: GraphStore, k: int, *, edge_type: str | None = None,
           max_iter: int = 50) -> DataFrame:
    """k-core: the maximal subgraph where every vertex has degree >= k,
    found by iterative peeling (remove under-degree vertices until fixpoint;
    the k-core is unique, so peeling order is irrelevant — no ordering
    contract needed). Returns (id, degree) within the core.

    Each round is one degree aggregation over edges semi-joined to the
    surviving set; the surviving set shrinks monotonically, so rounds get
    cheaper as they proceed. When the deduped edge list fits the driver
    (and k >= 1; one capped collect decides, nothing is counted or
    persisted first), the whole cascade is settled by one driver-local
    vectorized peel (:func:`_local_kcore` through
    :func:`~vivace_graph_v3_spark.util.finish_locally`); the sequential
    round latency dominates exactly when the frames are small, and the
    local peel applies the identical per-round rule under the identical
    ``max_iter`` budget. The distributed loop stays the at-scale path."""
    # degree = distinct neighbors (simple-graph contract): reciprocal or
    # parallel edges must not double-count
    edges = (_edge_pairs(graph, edge_type, undirected=True)
             .dropDuplicates(["src", "dst"]))
    if k >= 1:
        local = finish_locally(
            edges, lambda pdf: _local_kcore(pdf, k, max_iter),
            T.StructType([T.StructField("id", edges.schema["src"].dataType),
                          T.StructField("degree", T.LongType())]))
        if local is not None:
            return local
    def degrees(alive):
        # (id, degree) over the edges with both ends alive
        return (edges.join(alive.withColumnRenamed("id", "src"), "src",
                           "left_semi")
                .join(alive.withColumnRenamed("id", "dst"), "dst",
                      "left_semi")
                .groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
                .withColumnRenamed("src", "id"))

    with materialized() as m:
        edges = m.persist(edges)
        alive, n_alive = m.checkpoint(
            graph.scan_vertices(columns=["id"]).select("id").dropDuplicates())
        deg = None
        converged = False
        for _ in range(max_iter):
            deg = degrees(alive)
            survivors, n_next = m.checkpoint(
                deg.filter(F.col("degree") >= k).select("id"))
            alive = survivors
            if n_next == n_alive:
                # fixpoint: survivors == alive, so deg (computed against
                # alive) already describes the final set
                converged = True
                break
            n_alive = n_next
            if n_alive == 0:
                converged = True
                break
        if deg is not None and not converged:
            # max_iter exhausted before the fixpoint: degrees were counted
            # against the pre-peel set, so recompute once against the final
            # alive set to keep the (id, degree) contract honest
            deg = degrees(alive)
        return m.keep(deg.join(alive, "id", "left_semi")
                      if deg is not None else
                      alive.withColumn("degree", F.lit(0)))


def _local_hits(cg: _CodedGraph,
                max_iter: int) -> tuple[np.ndarray, np.ndarray]:
    """Driver-local HITS over a coded graph: the broadcast-state loop of
    :func:`hits` (out-degree hub seed, ``max_iter`` hub/authority
    rounds, one final max normalization). Every sum before that
    division adds integer-valued doubles, so scores are identical to
    the Spark loops'. Returns (hub, auth) per code."""
    nc = len(cg.ids)
    hub = np.bincount(cg.src, minlength=nc).astype(np.float64)
    auth = np.bincount(cg.dst, weights=hub[cg.src], minlength=nc)
    for _ in range(max_iter - 1):
        hub = np.bincount(cg.src, weights=auth[cg.dst], minlength=nc)
        auth = np.bincount(cg.dst, weights=hub[cg.src], minlength=nc)
    # edgeless graph: every score is 0.0, normalized by 1.0
    return (hub / (hub.max(initial=0.0) or 1.0),
            auth / (auth.max(initial=0.0) or 1.0))


def hits(graph: GraphStore, *, edge_type: str | None = None,
         max_iter: int = 5) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) over active edges:
    alternating hub = sum of pointed-to authorities, authority = sum of
    incoming hubs. Returns (id, hub, auth) for every vertex, each score
    max-normalized to [0, 1]. Every regime starts from authority 1.0 on
    every edge endpoint, so round 1's hub is the out-degree, counting
    edges whose ``dst`` is not a vertex.

    Numerics: the iteration runs UN-normalized (the update is linear, so
    any per-round scaling only rescales the eigenvector — rankings are
    identical) and normalizes once at the end by the MAX score, which is
    order-independent, so no per-round double-sum normalization constant
    can drift between engines. Scores stay well inside double range for
    any realistic iteration count (growth ~ lambda_max^rounds).

    Scale shape — three regimes behind the driver bound
    (:func:`~vivace_graph_v3_spark.util.fits_driver`, as in pagerank).
    When |V| + |E| fits, one bounded collect feeds the same rounds as
    numpy on the driver (:func:`_local_hits`), with identical scores.
    When only |V| fits, the score state is
    broadcast into each half-round's join against ONE checkpointed edge
    copy: no edge co-partitioning at all, one |V|-bounded aggregate
    exchange per half-round, round 1's hub seeded as the out-degree sum
    (round-10 same-window A/B: 7.46 -> 4.49 s at sf0.1, bit-identical).
    Past the bound — the 100 TB regime, where |V| dwarfs any broadcast
    budget — the alternating iteration stays one lazy shuffle-join chain
    against TWO persisted pre-partitioned edge copies, materialized once
    at the end: per-round state shuffles are |V|-bounded and AQE
    right-sizes them (HITS has no per-round scalar, so nothing forces
    round-by-round checkpoints there).
    Only the two FINAL frames (each read twice: max + output join) are
    checkpointed in that regime. Reference analog: none — the reference
    exposes traverse/recursive rules but no eigenvector scores; cited as
    beyond-ref alongside pagerank (SURVEY.md §2.3)."""
    cg = _coded_graph(graph, edge_type)
    if cg is not None:
        hub, auth = _local_hits(cg, max_iter)
        return _vertex_rows(graph, cg, hub=hub, auth=auth)
    with materialized() as m:
        vertices, n_v = m.checkpoint(
            graph.scan_vertices(columns=["id"]).select("id").dropDuplicates())
        # Partition count sized off the data (same ~1M-edge-rows-per-task rule
        # as pagerank's edge frame, derived from |V| at avg degree ~10) rather
        # than pinned to spark.sql.shuffle.partitions: each half-round's
        # groupBy emits state hashed (id, nparts) and the next half-round
        # joins it against the pre-hashed edge copy — co-location holds for
        # ANY nparts as long as both sides agree, so the count should track
        # volume (at sf0.1 the old conf-width layout ran ~12 sequential
        # 32-partition stages of ~40k rows each, pure task overhead; at 100 TB
        # the same formula lands at thousands of partitions, as it should).
        nparts = max(4, min(int(graph.spark.conf.get(
            "spark.sql.shuffle.partitions", "32")) * 4, n_v // 100_000 + 1))
        # TWO persisted copies of the edge list, pre-hashed on each join key:
        # the hub half-round joins on dst, the authority half-round on src —
        # with one copy the other half-round reshuffles the FULL |E| edge list
        # every iteration (3 |E|-sized exchanges per round); with both copies
        # the join side is already co-located and only the |E| message groupBy
        # plus the |V| state shuffle remain (2 per round). Same pre-partition
        # trade pagerank makes; memory holds 2x edges, which on a cluster is
        # storage-tier disk/memory, not driver.
        ob_h, ob_a = Observation(), Observation()

        def _seed_hub(p):
            # round 1's hub with auth_0 = 1.0 on every edge endpoint, vertex
            # or not: the out-degree sum, the same double in every regime
            return (p.groupBy("src").agg(F.sum(F.lit(1.0)).alias("score"))
                    .withColumnRenamed("src", "id"))

        bounded = fits_driver(n_v)
        if bounded:
            # bounded-state regime (as in pagerank; measured same-window
            # 7.46 -> 4.49 s at sf0.1, bit-identical output): the |V|-row
            # score state is BROADCAST to each half-round's join, so the edge
            # list is never co-partitioned at all — one checkpointed copy
            # streams map-side through every half-round and the only
            # exchange per half-round is the |V|-bounded message aggregate.
            # Round 1's hub is seeded directly as the out-degree sum
            # (``_seed_hub``), skipping one broadcast join. Past the bound
            # the co-partitioned formulation below is the one that holds at
            # 100 TB, where |V| dwarfs any broadcast budget.
            pairs, _ = m.checkpoint(
                _edge_pairs(graph, edge_type).select("src", "dst"))
            by_dst = by_src = pairs
        else:
            pairs = _edge_pairs(graph, edge_type)
            by_dst = m.persist(pairs.repartition(nparts, F.col("dst")))
            by_src = m.persist(pairs.repartition(nparts, F.col("src")))
        _b = F.broadcast if bounded else (lambda df: df)

        def _hub_from(a):
            return (by_dst.join(_b(a), by_dst["dst"] == a["id"])
                    .groupBy("src").agg(F.sum("score").alias("score"))
                    .withColumnRenamed("src", "id"))

        def _auth_from(h):
            return (by_src.join(_b(h), by_src["src"] == h["id"])
                    .groupBy("dst").agg(F.sum("score").alias("score"))
                    .withColumnRenamed("dst", "id"))

        if bounded:
            auth = None
            for it in range(max_iter - 1):
                # the loop's hub feeds exactly ONE consumer (this round's
                # auth), so it stays lazy — its broadcast+aggregate runs
                # inside the auth checkpoint's job and each full round is a
                # single materialization (bit-identical, measured ~7% off
                # the iteration chain at sf0.1; only the FINAL hub, read by
                # two consumers, is checkpointed below)
                hub = _seed_hub(pairs) if it == 0 else _hub_from(auth)
                auth, _ = m.checkpoint(_auth_from(hub))
            # final round (observations ride the checkpoints, as below)
            hub, _ = m.checkpoint(
                (_seed_hub(pairs) if max_iter == 1 else _hub_from(auth))
                .observe(ob_h, F.max("score").alias("m")))
            auth, _ = m.checkpoint(
                _auth_from(hub).observe(ob_a, F.max("score").alias("m")))
        else:
            # the seed aggregates the src-hashed copy: no extra exchange
            hub = _seed_hub(by_src)
            for _ in range(max_iter - 1):
                hub = _hub_from(_auth_from(hub))
            # final round: checkpoint hub FIRST, then derive auth from the
            # checkpointed hub — deriving both from the lazy chain would
            # execute the whole chain twice. The normalization constants
            # ride the two checkpoint materializations as observations
            # (fire on the eager checkpoint, same as pagerank's dangling
            # probe): ZERO extra jobs instead of a separate 2x|V|-scan
            # collect.
            hub, _ = m.checkpoint(hub.observe(ob_h, F.max("score").alias("m")))
            auth, _ = m.checkpoint(
                _auth_from(hub).observe(ob_a, F.max("score").alias("m")))
        # an edgeless graph yields empty hub/auth frames -> max over zero
        # rows observes null; a max of 0.0 or null would divide by zero.
        # Normalize by 1.0 then: every vertex gets the correct 0.0 score
        # through the coalesce.
        m_h = ob_h.get["m"] or 1.0
        m_a = ob_a.get["m"] or 1.0
        h = (vertices
             .join(hub.withColumnRenamed("score", "h"), "id", "left")
             .select("id", (F.coalesce(F.col("h"), F.lit(0.0))
                            / F.lit(m_h)).alias("hub")))
        return m.keep(
            h.join(auth.withColumnRenamed("score", "a"), "id", "left")
            .select("id", "hub",
                    (F.coalesce(F.col("a"), F.lit(0.0))
                     / F.lit(m_a)).alias("auth")))


def common_neighbor_similarity(graph: GraphStore, *,
                               edge_type: str | None = None,
                               degree_cap: int | None = None,
                               min_common: int = 1,
                               k: int = 50) -> DataFrame:
    """Link-prediction similarity: pairs of DST vertices ranked by the
    Jaccard overlap of their in-neighbor (SRC) sets — the classic
    common-neighbors / co-occurrence score (Liben-Nowell & Kleinberg
    2003). Returns the top-``k`` pairs (id_a, id_b, common, jaccard,
    rank) with deterministic (score desc, id asc) tie-break.

    Scale shape: the pair generation is an inverted-index self-join on
    the shared SRC — cost is sum over srcs of fanout², NOT all-pairs.
    ``degree_cap`` drops hub srcs above a fanout bound first (the
    standard guard: a 10^6-fanout hub would alone contribute 10^12
    pairs while carrying almost no signal — same hub-capping as
    production link-prediction pipelines). Top-k is orderBy+limit
    (TakeOrdered), never a global sort."""
    e = (_edge_pairs(graph, edge_type)
         .select("src", "dst").dropDuplicates())
    if degree_cap is not None:
        fan = e.groupBy("src").agg(F.count(F.lit(1)).alias("fan"))
        e = (e.join(fan.filter(F.col("fan") <= degree_cap), "src",
                    "left_semi"))
    with materialized() as m:
        e = m.persist(e)
        a, b = e.alias("a"), e.alias("b")
        common = (a.join(b, (F.col("a.src") == F.col("b.src"))
                         & (F.col("a.dst") < F.col("b.dst")))
                  .groupBy(F.col("a.dst").alias("id_a"),
                           F.col("b.dst").alias("id_b"))
                  .agg(F.count(F.lit(1)).alias("common"))
                  .filter(F.col("common") >= min_common))
        deg = e.groupBy("dst").agg(F.count(F.lit(1)).alias("deg"))
        jac = (F.col("common")
               / (F.col("deg_a") + F.col("deg_b") - F.col("common")))
        scored = (common
                  .join(deg.select(F.col("dst").alias("id_a"),
                                   F.col("deg").alias("deg_a")), "id_a")
                  .join(deg.select(F.col("dst").alias("id_b"),
                                   F.col("deg").alias("deg_b")), "id_b")
                  .select("id_a", "id_b", "common",
                          F.round(jac, 6).alias("jaccard")))
        top = scored.orderBy(F.col("jaccard").desc(), F.col("id_a").asc(),
                             F.col("id_b").asc()).limit(k)
        w = Window.orderBy(F.col("jaccard").desc(), F.col("id_a").asc(),
                           F.col("id_b").asc())
        out, _ = m.checkpoint(top.withColumn("rank", F.row_number().over(w)))
        return m.keep(out)


def walk_census(graph: GraphStore, *, edge_type: str | None = None,
                max_len: int = 3) -> DataFrame:
    """Per-vertex walk census: w_k(v) = number of directed walks of length
    exactly k starting at v (multi-edges counted), for k = 1..max_len —
    the motif/connectivity profile used as a cheap structural feature and
    a fanout forecaster for traversal planning.

    Scale shape — this is DYNAMIC PROGRAMMING ON COUNTS, not path
    enumeration: w_k = A · w_{k-1} computed as one join + one aggregate
    over the |V|-sized count vector per level, so cost is O(max_len · |E|)
    regardless of how many walks exist (the walk COUNT can be astronomically
    larger than |E|; materializing instances would be the classic
    mistake)."""
    verts = graph.scan_vertices(columns=["id"]).select("id").dropDuplicates()
    e = _edge_pairs(graph, edge_type)
    levels = []
    wk = (e.groupBy("src").agg(F.count(F.lit(1)).alias("w"))
          .withColumnRenamed("src", "id"))
    levels.append(wk)
    for _ in range(2, max_len + 1):
        wk = (e.join(wk, e["dst"] == wk["id"])
              .groupBy("src").agg(F.sum("w").alias("w"))
              .withColumnRenamed("src", "id"))
        levels.append(wk)
    out = verts
    for k, lv in enumerate(levels, start=1):
        out = (out.join(lv.withColumnRenamed("w", f"w{k}"), "id", "left")
               .withColumn(f"w{k}",
                           F.coalesce(F.col(f"w{k}"), F.lit(0))
                           .cast("long")))
    return out


def _local_landmark_levels(pdf, landmarks, max_depth: int):
    """Driver-local BFS level sizes per landmark over a bounded edge
    list (the local finish of :func:`landmark_closeness` /
    :func:`landmark_eccentricity`): the same per-depth
    frontier-join/anti-join semantics as the distributed loops —
    frontier expands along directed arcs, a vertex joins the level of
    its FIRST discovery — vectorized as CSR gathers. Returns
    [(lm, dist, n_vertices), ...] in (landmark, depth) order."""
    import numpy as np
    import pandas as pd

    m = len(pdf)
    codes, _vocab = pd.factorize(
        np.concatenate([pdf["src"].to_numpy(dtype=object),
                        pdf["dst"].to_numpy(dtype=object),
                        np.asarray(landmarks, dtype=object)]))
    u = codes[:m].astype(np.int64)
    v = codes[m:2 * m].astype(np.int64)
    lmc = codes[2 * m:]
    nv = int(len(_vocab))
    order = np.argsort(u, kind="stable")
    gv = v[order]
    od = np.bincount(u, minlength=nv)
    ends = np.cumsum(od)
    starts = ends - od
    out = []
    for li, lm in enumerate(landmarks):
        lc = int(lmc[li])
        dist = np.full(nv, -1, dtype=np.int64)
        dist[lc] = 0
        level = np.array([lc], dtype=np.int64)
        out.append((lm, 0, 1))
        for depth in range(1, max_depth + 1):
            cnts = od[level]
            tot = int(cnts.sum())
            if tot == 0:
                break
            base = np.repeat(starts[level], cnts)
            offs = (np.arange(tot)
                    - np.repeat(np.cumsum(cnts) - cnts, cnts))
            nbr = gv[base + offs]
            nbr = nbr[dist[nbr] < 0]
            if not len(nbr):
                break
            nxt = np.unique(nbr)
            dist[nxt] = depth
            out.append((lm, depth, int(len(nxt))))
            level = nxt
    return out


def _landmark_levels(graph: GraphStore, landmarks: list[str], *,
                     edge_type: str | None, max_depth: int,
                     undirected: bool) -> DataFrame:
    """BFS level sizes (lm, dist, n_vertices) per landmark within
    ``max_depth`` hops — the shared half of :func:`landmark_closeness`
    and :func:`landmark_eccentricity`. Frontier BFS carrying (lm, id):
    each round joins only the ACTIVE frontier against the edge list,
    anti-joins the visited set, and checkpoints — k landmarks multiply
    the frontier width, never the graph; rounds are bounded by
    max_depth. When the edge list fits the driver (one capped collect,
    nothing counted or persisted first), the rounds run as one
    driver-local BFS (:func:`_local_landmark_levels` through
    :func:`~vivace_graph_v3_spark.util.finish_locally`) with identical
    levels. The bound counts DISTINCT UNDIRECTED edges, so an undirected
    arc list may hold twice as many rows."""
    spark = graph.spark
    edges = (_edge_pairs(graph, edge_type, undirected=undirected)
             .select("src", "dst").dropDuplicates())
    local = finish_locally(
        edges,
        lambda pdf: _local_landmark_levels(pdf, list(landmarks), max_depth),
        T.StructType.fromDDL("lm string, dist long, n_vertices long"),
        scale=2 if undirected else 1)
    if local is not None:
        return local
    with materialized() as m:
        edges = m.persist(edges)
        visited, _ = m.checkpoint(local_frame(
            spark, [(l, l, 0) for l in landmarks],
            T.StructType.fromDDL("lm string, id string, dist long")))
        frontier = visited
        for depth in range(1, max_depth + 1):
            nxt, n_nxt = m.checkpoint(
                frontier.join(edges, frontier["id"] == edges["src"])
                .select("lm", F.col("dst").alias("id"))
                .dropDuplicates()
                .join(visited.select("lm", "id"), ["lm", "id"],
                      "left_anti")
                .withColumn("dist", F.lit(depth).cast("long")))
            if n_nxt == 0:
                break
            visited, _ = m.checkpoint(visited.unionByName(nxt))
            frontier = nxt
        return m.keep(visited.groupBy("lm", "dist")
                      .agg(F.count(F.lit(1)).alias("n_vertices")))


def landmark_closeness(graph: GraphStore, landmarks: list[str], *,
                       edge_type: str | None = None, max_depth: int = 6,
                       undirected: bool = True) -> DataFrame:
    """Closeness centrality of ``landmarks`` (Freeman 1979), depth-bounded:
    closeness(l) = (reached - 1) / sum of BFS distances over the vertices
    l reaches within ``max_depth`` hops. Exact closeness needs all-pairs
    distances; production graphs estimate it from k sampled landmarks
    (the Eppstein-Wang 2004 sampling shape) — here the landmarks ARE the
    queried vertices, so the result is exact for them.

    The BFS level sizes come from :func:`_landmark_levels`; the
    closeness ratio uses the integer round-half-up recipe (engine-exact
    6 decimals). Returns (lm, n_reached, sum_dist, closeness) where
    n_reached counts the landmark itself."""
    levels = _landmark_levels(graph, landmarks, edge_type=edge_type,
                              max_depth=max_depth, undirected=undirected)
    # nullif: a landmark that reaches nothing gets NULL, not a div-by-zero
    return (levels.groupBy("lm")
            .agg(F.sum("n_vertices").alias("n_reached"),
                 F.sum(F.col("dist") * F.col("n_vertices")).alias("sum_dist"))
            .withColumn("closeness",
                        F.expr("((n_reached - 1) * 2000000 + sum_dist) "
                               "div nullif(sum_dist * 2, 0)")
                        .cast("double") / 1e6))


def community_modularity(graph: GraphStore, *, edge_type: str | None = None,
                         max_iter: int = 3, top_k: int = 50) -> DataFrame:
    """Community quality report (Newman 2006 modularity) for the LPA
    partition above: per community its size, internal arc count, degree
    sum, and integer-ppm modularity contribution
    q_c = e_c/2m - (d_c/2m)^2 computed cross-multiplied in BIGINT
    (q_ppm = (e2*m2 - d^2)*1e6 div m2^2, where m2 = 2m arcs and e2 counts
    both directions of internal edges) — engine-exact, no floating
    accumulation; both engines truncate integer division toward zero.
    At corpora where m2^2 exceeds BIGINT, lift the expression to
    DECIMAL(38,0) (the ks_drift discipline).

    Scale shape: one |E| join against the |V| label frame + one
    aggregate; the 1-row arc total broadcasts (the HITS norm pattern).
    Communities with no arcs keep zero stats via the left join."""
    labels = label_propagation(graph, edge_type=edge_type, max_iter=max_iter)
    arcs = _edge_pairs(graph, edge_type, undirected=True)
    j = (arcs
         .join(labels.select(F.col("id").alias("src"),
                             F.col("label").alias("lsrc")), "src")
         .join(labels.select(F.col("id").alias("dst"),
                             F.col("label").alias("ldst")), "dst"))
    per = (j.groupBy(F.col("lsrc").alias("label"))
           .agg(F.count(F.lit(1)).alias("degree_sum"),
                F.sum(F.when(F.col("lsrc") == F.col("ldst"), 1)
                      .otherwise(0)).alias("internal_arcs")))
    m = j.agg(F.count(F.lit(1)).alias("m2"))
    sz = labels.groupBy("label").agg(F.count(F.lit(1)).alias("size"))
    out = (sz.join(per, "label", "left")
           .crossJoin(F.broadcast(m))
           .select("label", F.col("size").cast("long").alias("size"),
                   F.coalesce("internal_arcs", F.lit(0)).cast("long")
                   .alias("internal_arcs"),
                   F.coalesce("degree_sum", F.lit(0)).cast("long")
                   .alias("degree_sum"),
                   F.expr("(coalesce(internal_arcs, 0) * m2 "
                          "- coalesce(degree_sum, 0) * coalesce(degree_sum, 0)"
                          ") * 1000000 div (m2 * m2)").cast("long")
                   .alias("q_ppm")))
    return out.orderBy(F.desc("size"), "label").limit(top_k)


def avg_neighbor_degree(graph: GraphStore, *, edge_type: str | None = None,
                        bin_width: int = 1) -> DataFrame:
    """Average-neighbor-degree curve k_nn(k) (Pastor-Satorras et al.
    2001) — the functional companion of the scalar degree_assortativity:
    for each degree value k, the mean degree of the neighbors of
    degree-k vertices. A falling curve = disassortative (hubs attach to
    leaves), flat = uncorrelated.

    Exact integer arithmetic: per-degree sums of neighbor degrees in
    BIGINT, mean as round-half-up ppm of the exact rational. Shape: one
    degree aggregate (vertex-bounded), one edge join carrying both
    endpoint degrees (the assortativity join), then a degree-value-grid
    aggregate. ``bin_width`` > 1 coarsens the curve for heavy-tailed
    graphs. Returns (k, n_vertices? no — n_edge_endpoints, knn_ppm)."""
    e = _edge_pairs(graph, edge_type, undirected=True)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    du = deg.select(F.col("src").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("src").alias("v"), F.col("deg").alias("dv"))
    joined = (e.select(F.col("src").alias("u"), F.col("dst").alias("v"))
              .join(du, "u").join(dv, "v"))
    k = F.expr(f"du div {bin_width} * {bin_width}")
    return (joined.groupBy(k.alias("k"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_endpoints"),
                 F.sum("dv").cast("long").alias("sum_nbr_deg"))
            .select("k", "n_endpoints",
                    F.expr("(sum_nbr_deg * 2000000 + n_endpoints)"
                           " div (n_endpoints * 2)").cast("long")
                    .alias("knn_ppm")))


def landmark_eccentricity(graph: GraphStore, landmarks: list[str], *,
                          edge_type: str | None = None, max_depth: int = 8,
                          undirected: bool = True) -> DataFrame:
    """Depth-bounded eccentricity of ``landmarks`` and the graph-diameter
    LOWER BOUND they witness: ecc(l) = max BFS distance from l within
    ``max_depth``; diameter >= max over any landmark set (the standard
    landmark/BoundingDiameters estimation shape — exact eccentricity
    needs all-pairs, production graphs bound it from sampled vertices).

    The BFS level sizes come from :func:`_landmark_levels`, as for
    landmark_closeness. Returns (lm, n_reached, ecc, diameter_lb) —
    diameter_lb constant across rows (a window max over the
    landmark-bounded result)."""
    levels = _landmark_levels(graph, landmarks, edge_type=edge_type,
                              max_depth=max_depth, undirected=undirected)
    # the deepest level of any landmark is the largest ecc; the window
    # (landmark-domain-bounded: k * max_depth rows) gathers one
    # partition, which the per-landmark aggregate then reuses
    w = Window.partitionBy(F.lit(1))
    return (levels.withColumn("diameter_lb", F.max("dist").over(w))
            .groupBy("lm")
            .agg(F.sum("n_vertices").alias("n_reached"),
                 F.max("dist").alias("ecc"),
                 F.max("diameter_lb").alias("diameter_lb")))


def rich_club_coefficient(graph: GraphStore, thresholds: list[int],
                          *, edge_type: str | None = None) -> DataFrame:
    """Rich-club coefficient phi(k) (Zhou & Mondragon 2004; Colizza et
    al. 2006 normalization is a null-model concern left to the caller):
    among the n_k vertices of degree > k, phi(k) = 2 E_k / (n_k (n_k-1))
    where E_k counts the simple undirected edges with BOTH endpoints in
    the club. Returns one row per threshold:
    (k, n_club, n_club_edges, phi_ppm) with exact integer-ppm density.

    Scale shape: one canonical-edge dedup, one vertex-bounded degree
    aggregate, then per-threshold broadcast-joined club filters — the
    threshold grid is a constant, never data-sized."""
    e = _edge_pairs(graph, edge_type)
    canon = (e.select(F.least("src", "dst").alias("a"),
                      F.greatest("src", "dst").alias("b"))
             .filter(F.col("a") != F.col("b"))
             .dropDuplicates())
    deg = (canon.select(F.col("a").alias("v"))
           .unionByName(canon.select(F.col("b").alias("v")))
           .groupBy("v").agg(F.count(F.lit(1)).alias("deg")))
    ks = F.explode(F.array(*[F.lit(int(k)) for k in thresholds])).alias("k")
    club = deg.select("v", "deg").crossJoin(deg.sparkSession.range(1)
                                            .select(ks)).filter(
        F.col("deg") > F.col("k")).select("k", "v")
    sizes = club.groupBy("k").agg(F.count(F.lit(1)).alias("n_club"))
    ce = (canon.join(club.withColumnRenamed("v", "a"), "a")
          .join(club.withColumnRenamed("v", "b"), ["k", "b"])
          .groupBy("k").agg(F.count(F.lit(1)).alias("n_club_edges")))
    out = (sizes.join(ce, "k", "left")
           .select(F.col("k").cast("long").alias("k"),
                   F.col("n_club").cast("long").alias("n_club"),
                   F.coalesce("n_club_edges", F.lit(0)).cast("long")
                   .alias("n_club_edges")))
    # exact BIGINT integer division (ADVICE r6): a double quotient's
    # F.floor can round up across an integer once n_club*(n_club-1)
    # passes ~2^32; `div` matches the oracle's // at any scale
    # (numerator 2e6 * |club edges| stays within int64 below ~4.6e12
    # club edges — far beyond any per-k club this operator bounds)
    phi = F.when(F.col("n_club") >= 2, F.expr(
        "(2 * n_club_edges * 1000000) div (n_club * (n_club - 1))"))
    return out.withColumn("phi_ppm", phi.cast("long"))


def _local_stress(pdf, landmarks, max_depth: int):
    """Driver-local exact two-pass landmark stress over a bounded edge
    list (the local finish of :func:`landmark_stress`). Per
    landmark: forward BFS accumulating exact sigma path counts per
    level, backward rho fold from the deepest level — all BIGINT
    arithmetic via integer bincounts, identical to the distributed
    per-level joins. Returns aggregated (lm, dist, n_vertices,
    sum_sigma, sum_stress, max_stress) rows."""
    import numpy as np
    import pandas as pd

    m = len(pdf)
    codes, _vocab = pd.factorize(
        np.concatenate([pdf["src"].to_numpy(dtype=object),
                        pdf["dst"].to_numpy(dtype=object),
                        np.asarray(landmarks, dtype=object)]))
    u = codes[:m].astype(np.int64)
    v = codes[m:2 * m].astype(np.int64)
    lmc = codes[2 * m:]
    nv = int(len(_vocab))
    # CSR adjacency by source
    order = np.argsort(u, kind="stable")
    gv = v[order]
    od = np.bincount(u, minlength=nv)
    ends = np.cumsum(od)
    starts = ends - od

    def _neighbors(front):
        cnts = od[front]
        tot = int(cnts.sum())
        if tot == 0:
            return (np.zeros(0, np.int64), np.zeros(0, np.int64))
        base = np.repeat(starts[front], cnts)
        offs = (np.arange(tot)
                - np.repeat(np.cumsum(cnts) - cnts, cnts))
        nbr = gv[base + offs]
        return (np.repeat(front, cnts), nbr)

    out = []
    for li, lm in enumerate(landmarks):
        lc = int(lmc[li])
        dist = np.full(nv, -1, dtype=np.int64)
        sigma = np.zeros(nv, dtype=np.int64)
        dist[lc] = 0
        sigma[lc] = 1
        levels = [np.array([lc], dtype=np.int64)]
        for depth in range(1, max_depth + 1):
            src_g, nbr = _neighbors(levels[-1])
            unvis = dist[nbr] < 0
            if not unvis.any():
                break
            contrib = np.zeros(nv, dtype=np.int64)
            np.add.at(contrib, nbr[unvis], sigma[src_g[unvis]])
            nxt = np.unique(nbr[unvis])
            dist[nxt] = depth
            sigma[nxt] = contrib[nxt]
            levels.append(nxt)
        rho = np.zeros(nv, dtype=np.int64)
        rho[levels[-1]] = 1
        for d in range(len(levels) - 2, -1, -1):
            src_g, nbr = _neighbors(levels[d])
            succ = dist[nbr] == d + 1
            acc = np.zeros(nv, dtype=np.int64)
            if succ.any():
                np.add.at(acc, src_g[succ], rho[nbr[succ]])
            lv = levels[d]
            rho[lv] = 1 + acc[lv]
        for d, lv in enumerate(levels):
            sg = sigma[lv]
            st = (sg * (rho[lv] - 1)) if d > 0 else np.zeros(len(lv),
                                                            dtype=np.int64)
            out.append((lm, d, len(lv), int(sg.sum()), int(st.sum()),
                        int(st.max()) if len(st) else 0))
    return out


def landmark_stress(graph: GraphStore, landmarks: list[str], *,
                    edge_type: str | None = None, max_depth: int = 6,
                    undirected: bool = True) -> DataFrame:
    """Depth-bounded stress centrality from landmark sources (Shimbel
    1953; the integer-exact sibling of Brandes 2001 betweenness — path
    COUNTS through a vertex, not fractional dependencies, so every
    quantity is exact BIGINT arithmetic in any engine).

    Two passes over the BFS DAG, both Brandes-shaped:
    forward — sigma(v) = number of shortest landmark->v paths,
    accumulated per depth level (sum over predecessor frontier through
    the src-partitioned edge list, frontier-bounded like
    landmark_closeness above); backward — rho(v) = number of shortest
    paths STARTING at v in the DAG (1 for v itself + sum over DAG
    successors), folded from the deepest level up. The stress of v is
    then sigma(v) * (rho(v) - 1): every shortest path from the landmark
    through v to some strictly-deeper target, counted exactly. Paths
    longer than ``max_depth`` are not counted (depth-bounded stress —
    the landmark-sampled production estimate; exact when the graph's
    eccentricity from the landmarks is within the bound).

    Scale: k landmarks multiply frontier width, never the graph; each
    round is one join against the edge list + one aggregate, checkpointed
    per level; the backward fold revisits each level once. Returns the
    per-(lm, dist) aggregate (lm, dist, n_vertices, sum_sigma,
    sum_stress, max_stress) — BIGINT-exact while per-vertex
    sigma * rho fits 2^63 (holds through the test gates; lift to
    DECIMAL(38,0) sums past that, the ks_drift discipline). Same bounded
    local finish as landmark_closeness (:func:`_local_stress`, one capped
    collect with nothing counted or persisted first)."""
    spark = graph.spark
    edges = (_edge_pairs(graph, edge_type, undirected=undirected)
             .select("src", "dst").dropDuplicates())
    local = finish_locally(
        edges, lambda pdf: _local_stress(pdf, list(landmarks), max_depth),
        T.StructType.fromDDL(
            "lm string, dist long, n_vertices long, sum_sigma long, "
            "sum_stress long, max_stress long"),
        scale=2 if undirected else 1)
    if local is not None:
        return local
    with materialized() as m:
        edges = m.persist(edges)
        level0, _ = m.checkpoint(local_frame(
            spark, [(l, l, 1) for l in landmarks],
            T.StructType.fromDDL("lm string, id string, sigma long")))
        levels = [level0]
        visited = level0.select("lm", "id")
        for depth in range(1, max_depth + 1):
            prev = levels[-1]
            nxt, n_nxt = m.checkpoint(
                prev.join(edges, prev["id"] == edges["src"])
                .groupBy("lm", F.col("dst").alias("id"))
                .agg(F.sum("sigma").alias("sigma"))
                .join(visited, ["lm", "id"], "left_anti"))
            if n_nxt == 0:
                break
            levels.append(nxt)
            visited, _ = m.checkpoint(
                visited.unionByName(nxt.select("lm", "id")))
        # backward: rho over the BFS DAG, deepest level first
        rho_next = levels[-1].select(
            "lm", "id", F.lit(1).cast("long").alias("rho"))
        out_levels = [levels[-1].join(rho_next, ["lm", "id"])
                      .withColumn("dist", F.lit(len(levels) - 1))]
        for d in range(len(levels) - 2, -1, -1):
            cur = levels[d]
            succ = (cur.join(edges, cur["id"] == edges["src"])
                    .select("lm", "id", F.col("dst").alias("succ")))
            recv = (succ.join(
                rho_next.select(F.col("lm").alias("lm2"),
                                F.col("id").alias("succ2"),
                                F.col("rho").alias("succ_rho")),
                (F.col("lm") == F.col("lm2"))
                & (F.col("succ") == F.col("succ2")))
                .groupBy("lm", "id")
                .agg(F.sum("succ_rho").alias("recv")))
            rho_cur, _ = m.checkpoint(
                cur.select("lm", "id")
                .join(recv, ["lm", "id"], "left")
                .select("lm", "id",
                        (F.lit(1) + F.coalesce(F.col("recv"), F.lit(0)))
                        .cast("long").alias("rho")))
            out_levels.append(cur.join(rho_cur, ["lm", "id"])
                              .withColumn("dist", F.lit(d)))
            rho_next = rho_cur
        allv = out_levels[0]
        for lv in out_levels[1:]:
            allv = allv.unionByName(lv)
        stress = F.when(F.col("dist") == 0, F.lit(0).cast("long")) \
            .otherwise(F.col("sigma") * (F.col("rho") - 1))
        return m.keep(
            allv.withColumn("stress", stress)
            .groupBy("lm", "dist")
            .agg(F.count(F.lit(1)).alias("n_vertices"),
                 F.sum("sigma").cast("long").alias("sum_sigma"),
                 F.sum("stress").cast("long").alias("sum_stress"),
                 F.max("stress").cast("long").alias("max_stress"))
            .select("lm", F.col("dist").cast("long").alias("dist"),
                    F.col("n_vertices").cast("long").alias("n_vertices"),
                    "sum_sigma", "sum_stress", "max_stress"))


# -- strongly connected components / bow-tie ----------------------------------

def _tarjan_components(adj: dict, nodes) -> tuple[list, dict]:
    """Iterative Tarjan SCC over a Python adjacency dict. Returns
    (components, comp_of): components in EMISSION order — every
    component is emitted after all components it can reach (reverse
    topological order of the condensation), which is what the reach-min
    DP below relies on. Iterative (explicit work stack), so chain depth
    is bounded by memory, not the interpreter recursion limit."""
    index: dict = {}
    low: dict = {}
    onstk: set = set()
    stk: list = []
    comp_of: dict = {}
    comps: list = []
    counter = 0
    for s in nodes:
        if s in index:
            continue
        index[s] = low[s] = counter
        counter += 1
        stk.append(s)
        onstk.add(s)
        work = [(s, iter(adj.get(s, ())))]
        while work:
            v, it = work[-1]
            advanced = False
            for w in it:
                if w not in index:
                    index[w] = low[w] = counter
                    counter += 1
                    stk.append(w)
                    onstk.add(w)
                    work.append((w, iter(adj.get(w, ()))))
                    advanced = True
                    break
                if w in onstk and index[w] < low[v]:
                    low[v] = index[w]
            if advanced:
                continue
            work.pop()
            if work and low[v] < low[work[-1][0]]:
                low[work[-1][0]] = low[v]
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stk.pop()
                    onstk.discard(w)
                    comp_of[w] = len(comps)
                    comp.append(w)
                    if w == v:
                        break
                comps.append(comp)
    return comps, comp_of


def _local_scc_ids(edge_rows) -> dict:
    """Driver-local exact SCC labels: id -> min member id of its
    component. Input is a bounded list of (src, dst) pairs (the local
    finish of :func:`strongly_connected_components`)."""
    adj: dict = {}
    nodes: set = set()
    for src, dst in edge_rows:
        adj.setdefault(src, []).append(dst)
        nodes.add(src)
        nodes.add(dst)
    comps, comp_of = _tarjan_components(adj, nodes)
    comp_min = [min(c) for c in comps]
    return {v: comp_min[comp_of[v]] for v in nodes}


def _local_reach_min(edge_rows) -> dict:
    """Driver-local exact fixpoint of :func:`min_label_fixpoint`:
    lab(v) = min id over {v} ∪ {w : v ⇝ w}. Tarjan condensation, then a
    min DP over the condensation DAG in emission order (successor
    components are always emitted first, so their minima are final when
    a component reads them)."""
    adj: dict = {}
    nodes: set = set()
    for src, dst in edge_rows:
        adj.setdefault(src, []).append(dst)
        nodes.add(src)
        nodes.add(dst)
    comps, comp_of = _tarjan_components(adj, nodes)
    comp_min: list = [None] * len(comps)
    for ci, comp in enumerate(comps):
        m = min(comp)
        for v in comp:
            for w in adj.get(v, ()):
                cw = comp_of[w]
                if cw != ci and comp_min[cw] < m:
                    m = comp_min[cw]
        comp_min[ci] = m
    return {v: comp_min[comp_of[v]] for v in nodes}


def strongly_connected_components(edges: DataFrame, *, src_col: str = "src",
                                  dst_col: str = "dst", max_rounds: int = 25,
                                  max_iter: int = 50) -> DataFrame:
    """Exact strongly connected components of a directed edge DataFrame,
    by iterated forward/backward min-label peeling (the coloring variant
    of FW-BW — Fleischer, Hendrickson & Pinar IPDPS 2000; Orzan 2004;
    the standard Pregel/BSP SCC formulation):

    per round, fmin(v) = min id v can reach, bmin(v) = min id that can
    reach v (two :func:`min_label_fixpoint` runs, the backward one on
    reversed edges). fmin(v) = bmin(v) = m certifies v ⇝ m and m ⇝ v, i.e.
    v ∈ SCC(m) — and conversely every member of SCC(m) carries exactly
    (m, m) when m is the min of both reach sets, so each round settles
    every "locally minimal" SCC at once (always including the SCC of the
    globally minimal active id — guaranteed progress). Settled nodes are
    deleted; this is safe because a cycle through a settled node u and an
    unsettled v would put u and v in the same SCC. Rounds needed = depth
    of the SCC-condensation chain ordered by min labels — 2-3 on
    core-periphery graphs, bounded by ``max_rounds`` (RuntimeError past
    the budget rather than a silently partial answer).

    100 TB shape: every step is an edge-grouped aggregate or a label
    join — the Pregel cost model, linear in |E| per propagation round,
    no driver-side state above the driver bound. When the edge set fits
    the driver (one capped collect, before anything is counted or
    persisted), or once a peel round's count says the ACTIVE edge set
    does, the remaining components are settled by one driver-local
    iterative Tarjan pass over the collected edge list
    (:func:`~vivace_graph_v3_spark.util.finish_locally`), with the
    distributed peel loop as the at-scale fallback. The peel loop's
    sequential fixpoint latency dominates exactly when the frames are
    tiny, so the local finish removes ~60 near-empty sequential jobs
    without changing a single output label (Tarjan partition + min
    member id ≡ the fmin/bmin fixpoint certificate; differential test in
    test_round7_batch6). Returns (id, scc_id) with scc_id = min member
    id of the component."""
    e0 = (edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
          .filter(F.col("src") != F.col("dst"))
          .dropDuplicates())
    nodes = (e0.select(F.col("src").alias("id"))
             .unionByName(e0.select(F.col("dst").alias("id")))
             .dropDuplicates())
    id_f = nodes.schema["id"]
    lab_schema = T.StructType([id_f,
                               T.StructField("scc_id", id_f.dataType)])

    def tarjan(pdf):
        return list(_local_scc_ids(zip(pdf["src"], pdf["dst"])).items())

    # Tarjan labels every endpoint of e0, so they are the whole answer
    lab_df = finish_locally(e0, tarjan, lab_schema)
    if lab_df is not None:
        return lab_df
    with materialized() as m:
        active_e = m.persist(e0)
        active_n, _ = m.checkpoint(nodes, rebase=True)
        result = nodes.limit(0).withColumn("scc_id", F.col("id"))
        for _ in range(max_rounds):
            seed = active_n.withColumn("lab", F.col("id"))
            f = min_label_fixpoint(active_e, seed, max_iter=max_iter)
            b = (min_label_fixpoint(
                active_e.select(F.col("dst").alias("src"),
                                F.col("src").alias("dst")),
                seed, max_iter=max_iter).withColumnRenamed("lab", "blab"))
            lab = f.join(b, "id")
            settled, _ = m.checkpoint(
                lab.filter(F.col("lab") == F.col("blab"))
                .select("id", F.col("lab").alias("scc_id")), rebase=True)
            result, _ = m.checkpoint(result.unionByName(settled),
                                     rebase=True)
            active_n, n_active = m.checkpoint(
                lab.filter(F.col("lab") != F.col("blab")).select("id"),
                rebase=True)
            if n_active == 0:
                return m.keep(result)
            active_e, n_active_e = m.checkpoint(
                active_e.join(active_n.withColumnRenamed("id", "src"), "src")
                .join(active_n.withColumnRenamed("id", "dst"), "dst"),
                rebase=True)
            if fits_driver(n_active_e):
                # exact Tarjan labels; every active node absent from the
                # (deduped, self-loop-free) active edge list is its own
                # singleton component
                lab_df = finish_locally(active_e, tarjan, lab_schema)
                return m.keep(result.unionByName(
                    active_n.join(F.broadcast(lab_df), "id", "left")
                    .select("id", F.coalesce(F.col("scc_id"), F.col("id"))
                            .alias("scc_id"))))
    raise RuntimeError(
        f"strongly_connected_components: {max_rounds} peel rounds "
        "exhausted before the condensation chain bottomed out")


def bowtie_decomposition(edges: DataFrame, scc: DataFrame, *,
                         src_col: str = "src", dst_col: str = "dst",
                         max_iter: int = 50) -> DataFrame:
    """Broder bow-tie decomposition (Broder et al., "Graph structure in
    the web", WWW 2000) relative to the largest SCC: every node is CORE
    (in the largest SCC — ties broken by min scc_id), IN (reaches the
    core but is not in it), OUT (reached from the core), else OTHER
    (tendrils + disconnected). IN and OUT cannot overlap: a node both
    reaching and reached from the core is mutually connected with it and
    therefore IN the core.

    Membership is two frontier closures seeded at the core (backward for
    IN, forward for OUT) — semi-join frontier expansion with min-label
    shortcutting via :func:`min_label_fixpoint` on the core-collapsed
    labels: reach-to-core is exactly "my forward reach-min equals the
    core's collapsed label" after relabeling every core node to one
    sentinel smaller than all ids. Takes the (id, scc_id) output of
    ``strongly_connected_components``. Returns (id, klass). When the
    collapsed edge list fits the driver, both closures come from one
    capped collect of it (:func:`_local_reach_min` through
    :func:`~vivace_graph_v3_spark.util.finish_locally`); only past the
    bound is it checkpointed for the two fixpoints."""
    e = (edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
         .filter(F.col("src") != F.col("dst")).dropDuplicates())
    core_id = (scc.groupBy("scc_id").agg(F.count(F.lit(1)).alias("n"))
               .orderBy(F.desc("n"), F.asc("scc_id")).limit(1)
               .select("scc_id"))
    core = (scc.join(F.broadcast(core_id), "scc_id").select("id")
            .withColumn("is_core", F.lit(True)))
    # collapse the core to a sentinel that sorts below every real id, so
    # reach-min == sentinel  <=>  reaches the core
    sent = ""
    lab0 = (scc.select("id").join(core.select("id", "is_core"), "id", "left")
            .select("id", F.when(F.col("is_core"), F.lit(sent))
                    .otherwise(F.col("id")).alias("nid")))
    remap_src = lab0.select(F.col("id").alias("src"), F.col("nid").alias("csrc"))
    remap_dst = lab0.select(F.col("id").alias("dst"), F.col("nid").alias("cdst"))
    ce = (e.join(remap_src, "src").join(remap_dst, "dst")
          .select(F.col("csrc").alias("src"), F.col("cdst").alias("dst"))
          .filter(F.col("src") != F.col("dst")).dropDuplicates())

    def _sides(pdf):
        # lab == sentinel membership, both directions: (id, side) rows
        rows = list(zip(pdf["src"], pdf["dst"]))
        fwd_lab = _local_reach_min(rows)
        bwd_lab = _local_reach_min([(d, s) for s, d in rows])
        return ([(v, "in") for v, l in fwd_lab.items()
                 if l == sent and v != sent]
                + [(v, "out") for v, l in bwd_lab.items()
                   if l == sent and v != sent])

    with materialized() as m:
        sides = finish_locally(
            ce, _sides,
            T.StructType([T.StructField("id", scc.schema["id"].dataType),
                          T.StructField("side", T.StringType())]))
        if sides is not None:
            reach_in = (sides.filter(F.col("side") == "in").select("id")
                        .withColumn("in_side", F.lit(True)))
            reach_out = (sides.filter(F.col("side") == "out").select("id")
                         .withColumn("out_side", F.lit(True)))
        else:
            # materialize the collapsed edge list ONCE — the engine re-reads
            # its edge side every iteration, and without this the whole
            # upstream edge pipeline (joins, aggregates) would re-run per
            # propagation round
            ce, _ = m.checkpoint(ce, rebase=True)
            cnodes, _ = m.checkpoint(
                ce.select(F.col("src").alias("id"))
                .unionByName(ce.select(F.col("dst").alias("id")))
                .dropDuplicates().withColumn("lab", F.col("id")),
                rebase=True)
            # forward: reaches the core? backward: reached from it?
            fwd = min_label_fixpoint(ce, cnodes, max_iter=max_iter)
            bwd = min_label_fixpoint(
                ce.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
                cnodes, max_iter=max_iter)
            reach_in = fwd.filter((F.col("lab") == sent) & (F.col("id") != sent)) \
                .select("id").withColumn("in_side", F.lit(True))
            reach_out = bwd.filter((F.col("lab") == sent) & (F.col("id") != sent)) \
                .select("id").withColumn("out_side", F.lit(True))
        return m.keep(scc.select("id")
                      .join(core.select("id", "is_core"), "id", "left")
                      .join(reach_in, "id", "left")
                      .join(reach_out, "id", "left")
                      .select("id", F.when(F.col("is_core"), "core")
                              .when(F.col("in_side"), "in")
                              .when(F.col("out_side"), "out")
                              .otherwise("other").alias("klass")))


def triad_mask_table() -> dict[int, str]:
    """Bitmask -> Davis-Leinhardt complete-triad class, brute-forced at
    call time (deterministic; 27 masks). For a triangle a < b < c the
    mask packs the six directed-edge bits (a->b)=1, (b->a)=2, (b->c)=4,
    (c->b)=8, (a->c)=16, (c->a)=32. Classes follow the MAN census labels
    restricted to complete triads (Davis & Leinhardt 1972; Holland &
    Leinhardt 1970): 300 all-mutual, 210 two mutual, 120D/120U/120C one
    mutual with the non-mutual node receiving both / sending both /
    mixed, 030T transitive tournament, 030C 3-cycle."""
    def classify(mask):
        E = set()
        for bit, (x, y) in ((1, (0, 1)), (2, (1, 0)), (4, (1, 2)),
                            (8, (2, 1)), (16, (0, 2)), (32, (2, 0))):
            if mask & bit:
                E.add((x, y))
        pairs = [(0, 1), (1, 2), (0, 2)]
        states = []
        for x, y in pairs:
            f, b = (x, y) in E, (y, x) in E
            if not (f or b):
                return None
            states.append("M" if (f and b) else "A")
        m = states.count("M")
        if m == 3:
            return "300"
        if m == 2:
            return "210"
        if m == 1:
            for (x, y), s in zip(pairs, states):
                if s == "M":
                    z = 3 - x - y
                    out_z = sum((z, w) in E for w in (x, y))
                    return {2: "120U", 0: "120D", 1: "120C"}[out_z]
        outdeg = [sum((v, w) in E for w in range(3)) for v in range(3)]
        return "030C" if sorted(outdeg) == [1, 1, 1] else "030T"

    return {m: c for m in range(64) if (c := classify(m)) is not None}


def triad_census(edges: DataFrame, *, src_col: str = "src",
                 dst_col: str = "dst") -> DataFrame:
    """Directed triad census over COMPLETE triads (triangles in the
    underlying undirected graph), the classic network-motif profile
    (Milo et al., Science 2002; MAN census of Holland & Leinhardt): each
    triangle a < b < c is classified by the isomorphism class of its six
    directed-edge bits via the precomputed 27-entry mask table.

    Plan shape: one aggregate collapses the edge list to undirected pair
    states (f/b bits), then the standard ordered triangle enumeration
    (ab ⋈ bc on b, ⋈ ac on (a, c)) — the graph_triangle_count cost
    model, bucket-bounded by degree, never all-triples; classification
    is a literal CASE, census is one |classes|-row aggregate. Exact
    integers throughout. Returns (triad_class, n_triads) sorted."""
    e = (edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d"))
         .filter(F.col("s") != F.col("d")).dropDuplicates())
    und = (e.select(F.least("s", "d").alias("u"), F.greatest("s", "d").alias("v"),
                    F.when(F.col("s") < F.col("d"), 1).otherwise(0).alias("f"),
                    F.when(F.col("s") > F.col("d"), 1).otherwise(0).alias("b"))
           .groupBy("u", "v").agg(F.max("f").alias("f"), F.max("b").alias("b")))
    ab = und.select(F.col("u").alias("a"), F.col("v").alias("bb"),
                    F.col("f").alias("ab_f"), F.col("b").alias("ab_b"))
    bc = und.select(F.col("u").alias("bb"), F.col("v").alias("c"),
                    F.col("f").alias("bc_f"), F.col("b").alias("bc_b"))
    ac = und.select(F.col("u").alias("a"), F.col("v").alias("c"),
                    F.col("f").alias("ac_f"), F.col("b").alias("ac_b"))
    tri = ab.join(bc, "bb").join(ac, ["a", "c"])
    mask = (F.col("ab_f") + F.col("ab_b") * 2 + F.col("bc_f") * 4
            + F.col("bc_b") * 8 + F.col("ac_f") * 16 + F.col("ac_b") * 32)
    label = None
    for m, cls in sorted(triad_mask_table().items()):
        label = (F.when(mask == m, cls) if label is None
                 else label.when(mask == m, cls))
    return (tri.select(label.alias("triad_class"))
            .groupBy("triad_class").agg(F.count(F.lit(1)).alias("n_triads"))
            .orderBy("triad_class"))


def dyad_census(edges: DataFrame, *, src_col: str = "src",
                dst_col: str = "dst") -> DataFrame:
    """Holland-Leinhardt dyad census: counts of mutual (both directions),
    asymmetric (one direction), and null (neither) unordered node pairs,
    plus reciprocity in ppm (mutual / connected pairs — Garlaschelli &
    Loffredo 2004's baseline statistic). Nodes are the edge endpoints.

    One aggregate collapses the edge list to per-pair direction bits;
    null pairs are derived arithmetically from n*(n-1)/2 — no pair
    materialization beyond observed edges, so the plan is linear in |E|
    at any node count. Exact integers; reciprocity floors to ppm.
    Returns one row (n_nodes, mutual, asym, null_pairs, reciprocity_ppm)."""
    e = (edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d"))
         .filter(F.col("s") != F.col("d")).dropDuplicates())
    pairs = (e.select(F.least("s", "d").alias("u"),
                      F.greatest("s", "d").alias("v"),
                      F.when(F.col("s") < F.col("d"), 1).otherwise(0).alias("f"),
                      F.when(F.col("s") > F.col("d"), 1).otherwise(0).alias("b"))
             .groupBy("u", "v").agg(F.max("f").alias("f"),
                                    F.max("b").alias("b")))
    n_nodes = (e.select(F.col("s").alias("id"))
               .unionByName(e.select(F.col("d").alias("id")))
               .dropDuplicates().count())
    agg = pairs.agg(
        F.sum(F.when((F.col("f") == 1) & (F.col("b") == 1), 1)
              .otherwise(0)).alias("mutual"),
        F.sum(F.when(F.col("f") + F.col("b") == 1, 1)
              .otherwise(0)).alias("asym"))
    return (agg.select(
        F.lit(n_nodes).cast("long").alias("n_nodes"),
        F.col("mutual").cast("long").alias("mutual"),
        F.col("asym").cast("long").alias("asym"),
        # exact BIGINT arithmetic (ADVICE r7 medium): an IntegerType
        # literal product n*(n-1) wraps silently past ~46341 nodes under
        # non-ANSI Spark, and `/ 2` is double division that loses
        # exactness past 2^53 — compute in LONG with integer `div`
        # (n*(n-1) is always even, so div 2 is exact)
        (F.expr(f"{int(n_nodes)}L * {int(n_nodes) - 1}L div 2L")
         - F.col("mutual") - F.col("asym"))
        .cast("long").alias("null_pairs"),
        F.expr("CASE WHEN mutual + asym > 0 THEN "
               "mutual * 1000000L div (mutual + asym) END")
        .alias("reciprocity_ppm")))


def _local_temporal_ea(pdf, seed_list, max_hops, max_iter: int):
    """Driver-local exact earliest-arrival DP over a bounded temporal
    edge list (the local finish of :func:`temporal_earliest_arrival`).
    Replays the distributed loop round for round: the frontier is
    exactly the improved set, a seed row's NULL arrival admits every
    outgoing edge (and is itself improvable by any numeric arrival, like
    the relational left-join rule), numeric arrivals only decrease, and
    the convergence budget raises the same RuntimeError. Returns
    [(seed, node, arrival)]."""
    import numpy as np
    import pandas as pd

    m = len(pdf)
    codes, _vocab = pd.factorize(
        np.concatenate([pdf["u"].to_numpy(dtype=object),
                        pdf["v"].to_numpy(dtype=object),
                        np.asarray(seed_list, dtype=object)]))
    u = codes[:m].astype(np.int64)
    v = codes[m:2 * m].astype(np.int64)
    sc = codes[2 * m:]
    t = np.asarray(pdf["t"].to_numpy(), dtype=np.int64)
    vocab = np.asarray(_vocab, dtype=object)
    nv = int(len(vocab))
    order = np.lexsort((t, u))
    gu = u[order]
    gv = v[order]
    gt = t[order]
    od = np.bincount(gu, minlength=nv)
    ends = np.cumsum(od)
    starts = ends - od
    MAXL = np.iinfo(np.int64).max
    out = []
    improving_any = False
    for si, seed in enumerate(seed_list):
        s = int(sc[si])
        arr = np.full(nv, MAXL, dtype=np.int64)
        is_null = np.zeros(nv, dtype=bool)
        is_null[s] = True          # the seed row exists with NULL arrival
        frontier = np.array([s], dtype=np.int64)
        improving = True
        for _ in range(max_hops if max_hops is not None else max_iter):
            cnts = od[frontier]
            tot = int(cnts.sum())
            if tot == 0:
                improving = False
                break
            base = np.repeat(starts[frontier], cnts)
            offs = (np.arange(tot)
                    - np.repeat(np.cumsum(cnts) - cnts, cnts))
            idx = base + offs
            src_g = gu[idx]
            dst_g = gv[idx]
            t_g = gt[idx]
            ok = is_null[src_g] | (t_g >= arr[src_g])
            if not ok.any():
                improving = False
                break
            tmp = np.full(nv, MAXL, dtype=np.int64)
            np.minimum.at(tmp, dst_g[ok], t_g[ok])
            cand = tmp < MAXL
            imp = cand & (is_null | (tmp < arr))
            if not imp.any():
                improving = False
                break
            arr[imp] = tmp[imp]
            is_null[imp] = False
            frontier = np.nonzero(imp)[0]
        improving_any = improving_any or improving
        reached = np.nonzero(arr < MAXL)[0]
        out.extend((seed, vocab[i], int(arr[i])) for i in reached)
    if max_hops is None and improving_any:
        raise RuntimeError(
            f"temporal_earliest_arrival did not converge in "
            f"{max_iter} rounds")
    return out


def temporal_earliest_arrival(edges: DataFrame, seeds: DataFrame, *,
                              max_hops: int | None = 4,
                              max_iter: int = 50, src_col: str = "src",
                              dst_col: str = "dst",
                              ts_col: str = "ts") -> DataFrame:
    """Earliest-arrival time-respecting reachability over a temporal
    edge list (Wu et al., VLDB 2014 "Path problems in temporal
    graphs"): a path is time-respecting when edge timestamps are
    non-decreasing along it; EA_k(seed, v) = the earliest time v can be
    reached from seed within <= k hops. Optimal substructure holds
    because an earlier arrival at u enables a SUPERSET of u's outgoing
    edges, so the level DP EA_k(v) = min(EA_{k-1}(v), min over edges
    u->v with ts >= EA_{k-1}(u) of ts) is exact — implemented as
    ``max_hops`` improvement-only frontier rounds (Bellman-Ford level
    semantics), each one edge join + one min aggregate, linear in |E|
    per round at any volume. Returns (seed, node, arrival) for every
    node reached in 1..max_hops hops (seeds themselves excluded).

    ``max_hops=None`` iterates to CONVERGENCE instead: rounds continue
    until no node's earliest arrival improves (delta-emptiness — the
    improvement frontier is checked every round anyway), bounded by the
    ``max_iter`` budget under the same discipline as the other fixpoint
    loops here (:func:`min_label_fixpoint`): a frontier still improving after
    ``max_iter`` rounds raises RuntimeError rather than returning a
    silently-unconverged result. When the seeds and the edge list each
    fit the driver (one capped collect apiece, nothing counted or
    persisted first) and seeds x edges stays under 256M, the whole DP
    runs driver-locally (:func:`_local_temporal_ea` through
    :func:`~vivace_graph_v3_spark.util.finish_locally`)."""
    e = (edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"),
                      F.col(ts_col).cast("long").alias("t"))
         .dropDuplicates())
    seed_col = seeds.columns[0]
    seed_pdf = collect_bounded(seeds.select(seed_col))

    def ea(pdf):
        # per-seed state is an O(|V|) array: decline past a bounded
        # seeds x edges footprint
        if len(seed_pdf) * max(len(pdf), 1) > 256_000_000:
            return None
        # a null seed reaches nothing, as in the Spark loop's join
        return _local_temporal_ea(
            pdf, list(dict.fromkeys(seed_pdf[seed_col].dropna().tolist())),
            max_hops, max_iter)

    local = None if seed_pdf is None else finish_locally(
        e, ea, T.StructType([
            T.StructField("seed", seeds.schema[seed_col].dataType),
            T.StructField("node", e.schema["u"].dataType),
            T.StructField("arrival", T.LongType())]))
    if local is not None:
        return local
    with materialized() as m:
        e = m.persist(e)
        total, _ = m.checkpoint(
            seeds.select(F.col(seed_col).alias("seed"))
            .select("seed", F.col("seed").alias("node"),
                    F.lit(None).cast("long").alias("arrival")),
            rebase=True)
        frontier = total
        improving = True
        for _ in range(max_hops if max_hops is not None else max_iter):
            relaxed = (frontier.join(
                e, frontier["node"] == e["u"])
                .filter(F.col("arrival").isNull()
                        | (F.col("t") >= F.col("arrival")))
                .groupBy("seed", F.col("v").alias("node2"))
                .agg(F.min("t").alias("arr2")))
            old = total.select("seed", F.col("node").alias("node2"),
                               F.col("arrival").alias("old_arr"))
            imp, n_imp = m.checkpoint(
                relaxed.join(old, ["seed", "node2"], "left")
                .filter(F.col("old_arr").isNull()
                        & F.col("arr2").isNotNull()
                        | (F.col("arr2") < F.col("old_arr")))
                .select("seed", F.col("node2").alias("node"),
                        F.col("arr2").alias("arrival")), rebase=True)
            if n_imp == 0:
                improving = False
                break
            keep = total.join(imp.select("seed",
                                         F.col("node").alias("node")),
                              ["seed", "node"], "left_anti")
            total, _ = m.checkpoint(keep.unionByName(imp), rebase=True)
            frontier = imp
        if max_hops is None and improving:
            raise RuntimeError(
                f"temporal_earliest_arrival did not converge in "
                f"{max_iter} rounds")
        return m.keep(total.filter(F.col("arrival").isNotNull())
                      .select("seed", "node", "arrival"))
