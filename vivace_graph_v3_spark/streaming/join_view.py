"""Incremental maintenance of a materialized JOIN view with bucket-scoped
rewrites.

The reference's edge views enrich active edges with endpoint data and are
maintained on every commit (views.lisp:331-427 insert/delete paths;
active-edge liveness edge.lisp:275-284). ViewMaintainer (sibling module)
reproduces that for per-node map views but swaps the WHOLE table per
batch — O(delta) compute, O(base) write. This module maintains the
two-sided equi-join view

    J = active edges(edge_type) ⋈_src vertex slots(vertex_type)

with O(delta) WRITES too: the view parquet is partitioned by
``bucket = pmod(xxhash64(src), n_buckets)``; a txn-log batch determines
the touched src keys (vertex rows touch their own id; edge rows touch
their src; a vertex delete retires its edges' rows via the same key), and
ONLY the buckets containing touched keys are rebuilt:

    fresh  = current J restricted to touched keys       (O(delta) scan)
    bucket = existing bucket rows minus touched keys    (bucket-sized read)
             union fresh, rewritten atomically          (bucket-sized write)

Untouched buckets are never read or written — per-batch IO is
O(|delta| + |touched buckets|), the lakehouse MERGE cost model (on
Delta/Iceberg this maps to a keyed MERGE with partition pruning; on the
single-writer local model of mvcc.py it is a staging write + directory
swap of just the touched bucket dirs).

At 100 TB: size n_buckets so a bucket is a few files (the same knob as
export shards); touched-bucket count is bounded by the batch's key
spread, never the view size.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, functions as F

from vivace_graph_v3_spark.mvcc import LOG_SCHEMA, VersionedGraph
from vivace_graph_v3_spark.util import materialized


class JoinViewMaintainer:
    """Maintains J = active ``edge_type`` edges joined to a slot of their
    src ``vertex_type`` vertex: columns (id, src, dst, weight, <slot>,
    bucket)."""

    def __init__(self, graph: VersionedGraph, table_path: str, *,
                 edge_type: str, vertex_type: str, slot: str,
                 n_buckets: int = 16) -> None:
        self.graph = graph
        self.table_path = table_path
        self.edge_type = edge_type
        self.vertex_type = vertex_type
        self.slot = slot
        self.n_buckets = n_buckets

    # -- reads ------------------------------------------------------------

    def _bucket(self, col):
        return F.pmod(F.xxhash64(col), F.lit(self.n_buckets)).cast("int")

    def table(self) -> DataFrame:
        spark = self.graph.spark
        if os.path.exists(self.table_path) and any(
                p.startswith("bucket=") for p in os.listdir(self.table_path)):
            return spark.read.parquet(self.table_path)
        return spark.createDataFrame(
            [], f"id string, src string, dst string, weight double, "
                f"{self.slot} double, bucket int")

    # -- compute ------------------------------------------------------------

    def _join_rows(self, keys: DataFrame | None = None) -> DataFrame:
        """The view contents from CURRENT graph state, optionally
        restricted to src keys (the O(delta) path)."""
        edges = self.graph.read(self.edge_type) \
            .select("id", "src", "dst", "weight")
        verts = self.graph.read(self.vertex_type) \
            .select(F.col("id").alias("src"), F.col(self.slot))
        if keys is not None:
            k = F.broadcast(keys.withColumnRenamed("id", "src"))
            edges = edges.join(k, "src", "left_semi")
            verts = verts.join(k, "src", "left_semi")
        return (edges.join(verts, "src")
                .withColumn("bucket", self._bucket(F.col("src"))))

    def full_refresh(self) -> None:
        tmp = self.table_path + ".staging"
        self._join_rows().write.mode("overwrite") \
            .partitionBy("bucket").parquet(tmp)
        # rename-aside swap (never rmtree-then-rename a live store): a
        # crash between any two steps leaves old or new intact on disk
        old = self.table_path + ".old"
        shutil.rmtree(old, ignore_errors=True)
        if os.path.exists(self.table_path):
            os.rename(self.table_path, old)
        os.rename(tmp, self.table_path)
        shutil.rmtree(old, ignore_errors=True)

    # -- incremental maintenance ---------------------------------------------

    def _recover_asides(self) -> None:
        """Crash recovery (ADVICE r6): a crash between the two renames
        of a swap leaves the live dir absent with the data intact only
        at its aside — restore any orphaned aside (whole-table ``.old``
        or per-bucket ``.old-b<b>``) whose live counterpart is missing,
        so the next batch self-heals instead of dropping rows."""
        root = os.path.dirname(self.table_path) or "."
        base = os.path.basename(self.table_path)
        if not os.path.isdir(root):
            return
        for name in os.listdir(root):
            if name == f"{base}.old":
                if not os.path.exists(self.table_path):
                    os.rename(os.path.join(root, name), self.table_path)
                continue
            if not name.startswith(f"{base}.old-b"):
                continue
            b = name[len(f"{base}.old-b"):]
            live = f"{self.table_path}/bucket={b}"
            if not os.path.exists(live):
                os.makedirs(self.table_path, exist_ok=True)
                os.rename(os.path.join(root, name), live)

    def _touched_keys(self, batch: DataFrame) -> DataFrame:
        """src keys whose view rows may change: ids of touched vertices of
        the view's vertex type (slot change / delete retires or rewrites
        their edges' rows) plus src of touched edges of the view's type."""
        v = (batch.filter((F.col("kind") == "vertex")
                          & (F.col("type") == self.vertex_type))
             .select("id"))
        e = (batch.filter((F.col("kind") == "edge")
                          & (F.col("type") == self.edge_type))
             .select(F.col("src").alias("id")))
        return v.unionByName(e).distinct()

    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        self._recover_asides()
        # checkpoint + emptiness in one job: the count rides the
        # materialization as an observation (util.materialized.checkpoint);
        # the scope releases the checkpoint once the staged write is done
        with materialized() as m:
            touched, n_touched = m.checkpoint(self._touched_keys(batch))
            if n_touched == 0:
                return
            buckets = [r["b"] for r in touched
                       .select(self._bucket(F.col("id")).alias("b"))
                       .distinct().collect()]  # bounded by n_buckets (tiny)
            spark = self.graph.spark
            # existing rows of ONLY the touched buckets
            live_dirs = [f"{self.table_path}/bucket={b}" for b in buckets
                         if os.path.exists(f"{self.table_path}/bucket={b}")]
            if live_dirs:
                existing = (spark.read.option("basePath", self.table_path)
                            .parquet(*live_dirs))
            else:
                existing = self.table().filter(F.lit(False))
            keep = existing.join(
                F.broadcast(touched.withColumnRenamed("id", "src")),
                "src", "left_anti")
            fresh = self._join_rows(keys=touched)
            merged = keep.select("id", "src", "dst", "weight", self.slot,
                                 "bucket") \
                .unionByName(fresh.select("id", "src", "dst", "weight",
                                          self.slot, "bucket"))
            # stage only the touched buckets, then swap their dirs
            tmp = self.table_path + f".staging-{batch_id}"
            merged.write.mode("overwrite").partitionBy("bucket").parquet(tmp)
        os.makedirs(self.table_path, exist_ok=True)
        for b in buckets:
            live = f"{self.table_path}/bucket={b}"
            staged = f"{tmp}/bucket={b}"
            # crash-safe per-bucket swap: rename live aside before the
            # staged dir moves in, so a crash mid-swap leaves a
            # recoverable copy (batch replay can also repair, but the
            # aside costs one rename). The aside lives OUTSIDE the
            # table root so partition discovery never sees it.
            old = f"{self.table_path}.old-b{b}"
            shutil.rmtree(old, ignore_errors=True)
            if os.path.exists(live):
                os.rename(live, old)
            if os.path.exists(staged):
                os.rename(staged, live)
            shutil.rmtree(old, ignore_errors=True)
            # a bucket whose keys all retired simply disappears
        shutil.rmtree(tmp, ignore_errors=True)

    # -- streaming driver ------------------------------------------------------

    def start(self, *, checkpoint: str, available_now: bool = True):
        src = (self.graph.spark.readStream.schema(LOG_SCHEMA)
               .parquet(self.graph.log_path))
        writer = (src.writeStream.foreachBatch(self.apply_batch)
                  .option("checkpointLocation", checkpoint))
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def catch_up(self, *, checkpoint: str, timeout: int = 120) -> None:
        q = self.start(checkpoint=checkpoint, available_now=True)
        q.awaitTermination(timeout)
