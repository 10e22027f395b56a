"""Incremental view maintenance: keep a materialized view table in sync with
the txn log via Structured Streaming.

Reference semantics reproduced (citations into /root/reference):

- On commit, each written node updates every view attached to its class:
  re-emit the node's (key, value) pairs and fold them into the view
  (views.lisp:331-374 insert path); deletes remove the node's entries and
  recompute the touched groups (views.lisp:400-427 delete path).
- A view attaches to a class and all descendants (views.lisp:256-284).
- Edge views only index *active* edges (edge + both endpoints live,
  edge.lisp:275-284) — so a **vertex** delete can retire **edge** view rows;
  the touched-set expansion below handles that.

Spark-first: the view table is (id, key, value) parquet. Each micro-batch of
txn-log rows yields a *touched node-id set*; maintenance is
"delete-then-reinsert by id" — remove all view rows for touched ids, re-run
the view's map function over the current state of just those ids, and swap in
the union. This is the recompute-touched-keys MERGE strategy (SURVEY §4.2 #4):
per-batch work is O(delta), never O(base). Reduce views stay derived
(groupBy over the map table — Catalyst's partial aggregation is the pairwise
re-reduce), so only one table needs maintenance.

The parquet swap (write tmp, rename) matches the single-writer model of
mvcc.py; on a production lakehouse this becomes a Delta/Iceberg MERGE with
the same delete-then-reinsert keys.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, functions as F

from vivace_graph_v3_spark.mvcc import LOG_SCHEMA, VersionedGraph
from vivace_graph_v3_spark.util import materialized
from vivace_graph_v3_spark.views import View


class ViewMaintainer:
    """Owns one materialized view table under ``table_path`` and keeps it
    consistent with a :class:`VersionedGraph`'s txn log."""

    def __init__(self, graph: VersionedGraph, view: View, table_path: str) -> None:
        self.graph = graph
        self.view = view
        self.table_path = table_path

    # -- reads ---------------------------------------------------------------

    def table(self) -> DataFrame:
        spark = self.graph.spark
        if os.path.exists(self.table_path):
            return spark.read.parquet(self.table_path)
        return spark.createDataFrame([], "id string, key string, value double")

    def reduced(self) -> DataFrame:
        if self.view.reduce_agg is None:
            raise ValueError(f"view {self.view.name} has no reduce")
        return self.table().groupBy("key").agg(self.view.reduce_agg.alias("value"))

    # -- initial build ---------------------------------------------------------

    def full_refresh(self) -> None:
        mapped = self.view.map_fn(self.view.base_scan(self.graph.store()))
        if "value" not in mapped.columns:
            mapped = mapped.withColumn("value", F.lit(None))
        self._swap(mapped.select("id", "key", "value"))

    # -- incremental maintenance ----------------------------------------------

    def _touched_ids(self, batch: DataFrame) -> DataFrame:
        """Node ids whose view rows may have changed, given a batch of
        txn-log rows. For edge views this includes edges adjacent to any
        vertex in the batch (their active-ness may have flipped)."""
        reg = self.graph.registry
        if self.view.kind == "vertex":
            closure = set(reg.subtype_closure(self.view.class_name))
            return (batch.filter((F.col("kind") == "vertex") &
                                 F.col("type").isin(list(closure)))
                    .select("id").distinct())
        direct = (batch.filter((F.col("kind") == "edge") &
                               (F.col("type") == self.view.class_name))
                  .select("id"))
        vids = batch.filter(F.col("kind") == "vertex").select("id").distinct()
        all_edges = self.graph.read(self.view.class_name, include_deleted=True)
        adjacent = (all_edges
                    .join(F.broadcast(vids).withColumnRenamed("id", "src"),
                          "src", "left_semi").select("id")
                    .unionByName(
                        all_edges.join(F.broadcast(vids)
                                       .withColumnRenamed("id", "dst"),
                                       "dst", "left_semi").select("id")))
        return direct.unionByName(adjacent).distinct()

    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        # materialize the touched-id set ONCE with its count riding the
        # checkpoint as an observation — the old shape ran the
        # _touched_ids plan twice (isEmpty probe, then again inside the
        # broadcast build below)
        with materialized() as m:
            touched, n_touched = m.checkpoint(self._touched_ids(batch))
            if n_touched == 0:
                return
            # re-emit from CURRENT state, restricted to touched ids (deleted /
            # inactive nodes simply emit nothing -> their rows are retired)
            scan = (self.view.base_scan(self.graph.store())
                    .join(F.broadcast(touched), "id", "left_semi"))
            fresh = self.view.map_fn(scan)
            if "value" not in fresh.columns:
                fresh = fresh.withColumn("value", F.lit(None))
            fresh = fresh.select("id", "key", "value")
            merged = (self.table().join(F.broadcast(touched), "id", "left_anti")
                      .unionByName(fresh))
            self._swap(merged)

    def _swap(self, df: DataFrame) -> None:
        tmp = self.table_path + ".staging"
        df.write.mode("overwrite").parquet(tmp)
        if os.path.exists(self.table_path):
            shutil.rmtree(self.table_path)
        os.rename(tmp, self.table_path)

    # -- streaming driver -------------------------------------------------------

    def start(self, *, checkpoint: str, available_now: bool = True):
        """Tail the graph's txn log and maintain the view per micro-batch."""
        src = (self.graph.spark.readStream.schema(LOG_SCHEMA)
               .parquet(self.graph.log_path))
        writer = (src.writeStream.foreachBatch(self.apply_batch)
                  .option("checkpointLocation", checkpoint))
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def catch_up(self, *, checkpoint: str, timeout: int = 120) -> None:
        """Drain the log once (batch catch-up / test mode)."""
        q = self.start(checkpoint=checkpoint, available_now=True)
        q.awaitTermination(timeout)
