"""Deterministic random-walk generation — the graph-ML training-data
operator (DeepWalk, Perozzi et al. 2014; node2vec, Grover & Leskovec 2016:
walks are the corpus that skip-gram embedding training consumes).

Instead of RNG neighbor choice, each step picks
``neighbor[ hash(walk_id | step | current) mod degree ]`` with the
cross-engine md5-derived 64-bit hash (pipeline/dedup.md5_hash64). That
makes the walk corpus a pure function of the graph — reproducible across
runs, engines, partitionings, and re-ingestions, exactly like the
deterministic sampling/split operators, and checkable against a SQL
oracle that replays the same arithmetic.

Scale shape: the neighbor index (one row_number over edges partitioned by
src) and degree table are ingest-time artifacts; each step of the walk is
ONE hash equi-join of the O(#walks) cursor frame against the neighbor
index — walk state never grows with the graph, and steps parallelize over
walks. The cursor is checkpointed per step (frames are small; lineage
stays flat).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from vivace_graph_v3_spark.graph import GraphStore
from vivace_graph_v3_spark.operators.graph_algorithms import _edge_pairs
from vivace_graph_v3_spark.pipeline.dedup import md5_hash64
from vivace_graph_v3_spark.util import fits_driver, materialized


def random_walks(graph: GraphStore, *, edge_type: str | None = None,
                 walk_length: int = 3, walks_per_node: int = 1) -> DataFrame:
    """Generate ``walks_per_node`` walks of up to ``walk_length`` steps
    from every vertex. Returns (walk_id, step, node); a walk that reaches
    a vertex with no outgoing edges terminates early (no further rows).
    walk_id = ``<start>#<k>``."""
    # distinct neighbors as ONE sorted array per vertex: element_at on the
    # sorted array == the old row_number-indexed (src, idx) equi-join (same
    # (src, dst) total order), but each walk step is then a single join of
    # the cursor against this table instead of two (degree pick + neighbor
    # pick) — half the per-step shuffles and checkpoint-bounded lineage
    with materialized() as m:
        edges = _edge_pairs(graph, edge_type).dropDuplicates(["src", "dst"])
        nbr, n_nbr = m.checkpoint(
            edges.groupBy("src")
            .agg(F.sort_array(F.collect_list("dst")).alias("__nbrs"),
                 F.count(F.lit(1)).alias("deg")))
        # neighbor table within the driver bound (as pagerank's state): ship
        # it broadcast into every step's join and leave the step chain LAZY —
        # the whole walk corpus is then ONE map-only job (each union arm
        # replays its prefix of broadcast joins over the small cursor frame;
        # the broadcast itself is built once and ReusedExchange'd). Measured
        # same-window at sf0.1: 4.08 -> 3.03 s, identical rows. Past the
        # bound the per-step checkpointed equi-join below is the shape that
        # holds at 100 TB (the neighbor table is O(|V|) and never fits a
        # broadcast there).
        bcast = fits_driver(n_nbr)

        starts = (graph.scan_vertices(columns=["id"]).select("id")
                  .dropDuplicates()
                  .select(F.col("id").alias("node"),
                          F.explode(F.sequence(
                              F.lit(0), F.lit(walks_per_node - 1))).alias("wk"))
                  .select(F.concat(F.col("node"), F.lit("#"),
                                   F.col("wk").cast("string")).alias("walk_id"),
                          F.col("node")))
        out = starts.withColumn("step", F.lit(0))
        cur = starts if bcast else m.checkpoint(starts)[0]
        for step in range(walk_length):
            key = F.concat(F.col("walk_id"), F.lit(f"|{step}|"), F.col("node"))
            # one equi-join per step; the deterministic index picks the
            # neighbor out of the sorted array — never a degree fan-out
            nxt = (cur.join(F.broadcast(nbr) if bcast else nbr,
                            cur["node"] == nbr["src"])
                   .select("walk_id",
                           F.element_at(
                               "__nbrs",
                               (F.pmod(md5_hash64(key), F.col("deg")) + 1)
                               .cast("int")).alias("node")))
            if not bcast:
                nxt, _ = m.checkpoint(nxt)
            out = out.unionByName(nxt.withColumn("step", F.lit(step + 1)))
            cur = nxt
        return m.keep(out.select("walk_id", "step", "node"))


def skipgram_pairs(walks: DataFrame, *, window: int = 2,
                   count: bool = True) -> DataFrame:
    """Turn a walk corpus into skip-gram training pairs: for every walk,
    emit (center, context) for all positions within ``window`` steps
    (both directions, self excluded) — the sample format skip-gram
    embedding training consumes. With ``count=True``, aggregate to
    (center, context, n_pairs), the co-occurrence counts that matrix-
    factorization embedding variants use.

    One band-limited self-join per walk (|step delta| <= window expressed
    as an equi-join on walk_id with a tight range residual — walks are
    walk_length-bounded, so the per-walk fan-out is a small constant) plus
    an optional map-side-combined count."""
    a = walks.select("walk_id", F.col("step").alias("s"),
                     F.col("node").alias("center"))
    b = walks.select("walk_id", F.col("step").alias("t"),
                     F.col("node").alias("context"))
    pairs = (a.join(b, "walk_id")
             .filter((F.col("t") != F.col("s"))
                     & (F.abs(F.col("t") - F.col("s")) <= window))
             .select("center", "context"))
    if not count:
        return pairs
    return (pairs.groupBy("center", "context")
            .agg(F.count(F.lit(1)).alias("n_pairs")))


def negative_samples(pairs: DataFrame, vertices: DataFrame, *,
                     k: int = 3, id_col: str = "id") -> DataFrame:
    """Attach ``k`` deterministic negative samples to every skip-gram
    pair — the final ingredient of word2vec-style embedding training
    (Mikolov et al. 2013 negative sampling). Negative j for a pair is
    the vertex whose dense rank (by id) equals
    ``hash(center|context|j) mod |V|`` — a pure function of the graph,
    reproducible across engines/runs like the walks themselves (uniform
    draw; the classic freq^0.75 tilt plugs in by replacing the uniform
    rank table with a cumulative-weight one, same join shape). Returns
    (center, context, neg_idx, negative).

    Scale shape: the rank table is |V| rows built once (one sort-shuffle
    at vocab scale); sampling is a k-way explode of the pair stream plus
    ONE hash equi-join against the rank table. Collisions (negative ==
    center or context) are kept — standard practice: dropping them biases
    the noise distribution, and their rate is O(1/|V|)."""
    # checkpoint the vocab once: it is counted AND joined, and its
    # lineage re-scans the multi-type vertex union otherwise
    with materialized() as m:
        base, n = m.checkpoint(vertices.select(F.col(id_col).alias("negative"))
                               .dropDuplicates())
        if fits_driver(n, scale=2):
            # bounded vocab (a one-column sort, so twice the driver bound):
            # one single-task sort is cheaper than the distributed rank's
            # extra shuffle + offset pass
            ranked = base.withColumn(
                "__r", F.row_number().over(Window.orderBy("negative")) - 1)
        else:
            # vocab-scale: a global Window.orderBy would sort everything in
            # ONE task (the single-partition-window scale hazard); range
            # partitioning + per-partition row_number + partition offsets
            # yields the identical ranks (the global order by id is unique,
            # so ranks are independent of boundary placement)
            part, _ = m.checkpoint(
                base.repartitionByRange(F.col("negative"))
                .withColumn("__pid", F.spark_partition_id()))
            sizes = sorted(
                ((r["__pid"], r["__c"]) for r in
                 part.groupBy("__pid").agg(F.count(F.lit(1)).alias("__c"))
                 .collect()))                   # bounded: one row per partition
            offs, acc = {}, 0
            for pid, c in sizes:
                offs[pid] = acc
                acc += c
            off_col = F.coalesce(
                F.create_map(*[F.lit(x) for kv in offs.items() for x in kv])
                [F.col("__pid")], F.lit(0)) if offs else F.lit(0)
            ranked = (part.withColumn(
                "__r", F.row_number().over(
                    Window.partitionBy("__pid").orderBy("negative"))
                - 1 + off_col)
                .select("negative", "__r"))
        exploded = pairs.select(
            "center", "context",
            F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("neg_idx"))
        key = F.concat(F.col("center"), F.lit("|"), F.col("context"),
                       F.lit("|"), F.col("neg_idx").cast("string"))
        picked = exploded.withColumn("__r", F.pmod(md5_hash64(key), F.lit(n)))
        return m.keep(picked.join(ranked, "__r")
                      .select("center", "context", "neg_idx", "negative"))
