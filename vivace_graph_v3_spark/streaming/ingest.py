"""Streaming ingest: turn an event stream into versioned graph mutations.

Closes the loop between the two streaming surfaces: events flow IN as
upsert transactions against a :class:`VersionedGraph` (each micro-batch is
one atomic commit-epoch), and the resulting txn log flows OUT through
replication / view maintenance (streaming/replication.py,
streaming/view_maintenance.py). The reference's equivalent path is client
writes -> with-transaction -> WAL -> replication
(transactions.lisp:255-266 -> 1382-1424 -> transaction-streaming.lisp).

``upsert_stream`` is deliberately generic: the caller maps each micro-batch
DataFrame to (type_name, rows) upserts; rows whose id exists get saved
(revision bump), new ids get created — per-batch merge semantics on top of
the OCC write path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

from vivace_graph_v3_spark.mvcc import VersionedGraph
from vivace_graph_v3_spark.util import materialized


def upsert_batch(graph: VersionedGraph, type_name: str, rows: DataFrame) -> int:
    """One atomic upsert commit: split incoming rows into creates (unknown
    id) and saves (known id, carrying the current revision so OCC passes).
    Duplicate ids within the batch are collapsed last-wins-arbitrary
    (dropDuplicates) before the split."""
    rows = rows.dropDuplicates(["id"])
    cur = graph.read(type_name, include_deleted=True).select(
        "id", F.col("revision").alias("__rev"))
    # ONE materialization of the split join: the old shape probed
    # creates/saves emptiness separately and then re-executed the
    # merge-on-read join once per consumed branch at commit. The branch
    # counts ride the checkpoint as observations.
    with materialized() as m:
        ob = Observation()
        joined, n = m.checkpoint(rows.join(cur, "id", "left").observe(
            ob, F.count("__rev").alias("n_saves")))
        n_saves = int(ob.get["n_saves"])
        creates = joined.filter(F.col("__rev").isNull()).drop("__rev")
        saves = (joined.filter(F.col("__rev").isNotNull())
                 .withColumn("revision", F.col("__rev")).drop("__rev"))
        tx = graph.begin()
        if n > n_saves:
            tx.create(type_name, creates)
        if n_saves:
            tx.save(type_name, saves)
        if tx.ops:
            return graph.commit(tx)
        return graph.current_epoch()


def upsert_stream(stream: DataFrame, graph: VersionedGraph, type_name: str,
                  *, transform=None, checkpoint: str,
                  available_now: bool = True):
    """Drive ``upsert_batch`` from a streaming source via foreachBatch.
    ``transform(batch_df) -> rows`` shapes each micro-batch into node rows
    (must produce an ``id`` column + declared slots)."""

    def apply(batch: DataFrame, _batch_id: int) -> None:
        rows = transform(batch) if transform else batch
        upsert_batch(graph, type_name, rows)

    writer = (stream.writeStream.foreachBatch(apply)
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# -- streaming corpus curation (incremental near-dedup at the door) -----------

def _index_frames(spark, index_dir: str):
    """Load the persisted MinHash index halves, or None if absent (first
    batch). Existence is probed through Spark's reader, not os.path —
    index_dir may be HDFS/S3, where a local isdir always says no and the
    against-corpus dedup would be silently skipped every batch."""
    from pyspark.errors import AnalysisException

    from vivace_graph_v3_spark.pipeline.dedup import MinhashIndex

    post_p, side_p = f"{index_dir}/postings", f"{index_dir}/side"
    try:
        return MinhashIndex(spark.read.parquet(post_p),
                            spark.read.parquet(side_p))
    except AnalysisException:  # PATH_NOT_FOUND / UNABLE_TO_INFER_SCHEMA
        return None


def dedup_ingest_batch(batch: DataFrame, index_dir: str, corpus_dir: str, *,
                       text_col: str = "text", id_col: str = "doc_id",
                       threshold: float = 0.8, n: int = 3,
                       num_hashes: int = 64, bands: int = 16) -> dict:
    """One curation-ingest step: near-dedup an arriving batch WITHIN
    itself and AGAINST everything already ingested, append the survivors
    to the corpus, and grow the persisted MinHash index with exactly the
    survivors' postings — so the next batch's probe cost still scales
    with that batch, never the corpus. Returns counts
    {n_in, n_batch_dups, n_index_dups, n_kept}.

    In-batch survivor choice is the greedy min-id rule (any doc appearing
    as the larger id of a dup pair is dropped). The index append is the
    same two map-only frames `minhash_index` builds."""
    from vivace_graph_v3_spark.pipeline.dedup import (
        band_rows, minhash_dedup_incremental, minhash_dedup_pairs,
        minhash_signatures)

    spark = batch.sparkSession
    with materialized() as m:
        batch, n_in = m.checkpoint(batch.dropDuplicates([id_col]))
        pairs = minhash_dedup_pairs(batch, text_col=text_col, id_col=id_col,
                                    n=n, num_hashes=num_hashes, bands=bands,
                                    threshold=threshold)
        losers = pairs.select(F.col("id_b").alias(id_col)).dropDuplicates()
        kept = batch.join(losers, id_col, "left_anti")
        idx = _index_frames(spark, index_dir)
        if idx is not None:
            dups = minhash_dedup_incremental(
                kept, idx, text_col=text_col, id_col=id_col, n=n,
                num_hashes=num_hashes, bands=bands, threshold=threshold)
            dup_ids = dups.select(F.col("new_id").alias(id_col)).dropDuplicates()
            kept = kept.join(dup_ids, id_col, "left_anti")
        kept, n_kept = m.checkpoint(kept)
        n_batch_dups = n_in - batch.join(losers, id_col, "left_anti").count()
        sigs = minhash_signatures(kept, text_col=text_col, id_col=id_col, n=n,
                                  num_hashes=num_hashes)
        (band_rows(sigs, bands=bands, rows_per_band=num_hashes // bands)
         .write.mode("append").parquet(f"{index_dir}/postings"))
        (sigs.select("id", F.col("__sh").alias("sh"),
                     F.size("__sh").alias("sz"), "minhash")
         .write.mode("append").parquet(f"{index_dir}/side"))
        kept.write.mode("append").parquet(corpus_dir)
    return {"n_in": n_in, "n_batch_dups": n_batch_dups,
            "n_index_dups": n_in - n_batch_dups - n_kept, "n_kept": n_kept}


def dedup_ingest_stream(stream: DataFrame, index_dir: str, corpus_dir: str,
                        *, checkpoint: str, available_now: bool = True,
                        **kw):
    """Drive ``dedup_ingest_batch`` from a streaming document source via
    foreachBatch — the streaming face of incremental curation: each
    micro-batch is deduped within itself and against the ever-growing
    index, and only survivors land in the corpus."""

    def apply(batch: DataFrame, _batch_id: int) -> None:
        dedup_ingest_batch(batch, index_dir, corpus_dir, **kw)

    writer = (stream.writeStream.foreachBatch(apply)
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def scd2_apply_batch(changes: DataFrame, dim_path: str, key_col: str,
                     ts_col: str, attr_cols: list[str]) -> dict:
    """Apply one CDC micro-batch to a persisted SCD2 dimension
    (operators/scd.scd2_build is the batch face; this is the incremental
    maintenance face). Per batch: only the AFFECTED keys' histories are
    rebuilt — the dimension's own rows for those keys are re-read as a
    change log (each version row IS its run-start change record), merged
    with the batch, and re-compressed; untouched keys pass through. This
    handles late-arriving changes exactly: a change older than the
    current head splices in and the downstream intervals re-derive.

    Rewrite cost is batch-keys-bounded, not dimension-bounded. The
    local-filesystem writeback here is a staging-dir swap; object-store /
    lakehouse deployments replace that single step with MERGE INTO or
    dynamic partition overwrite keyed on bucket(key) — the affected-key
    rebuild plan above is unchanged.
    """
    import os
    import shutil

    from pyspark.errors import AnalysisException

    from vivace_graph_v3_spark.operators.scd import scd2_build

    spark = changes.sparkSession
    changes = (changes.select(key_col, ts_col, *attr_cols)
               .dropDuplicates([key_col, ts_col, *attr_cols]))
    try:
        dim = spark.read.parquet(dim_path)
    except AnalysisException:  # first batch: no dimension yet
        dim = None
    if dim is None:
        out = scd2_build(changes, key_col, ts_col, attr_cols,
                         tiebreak_cols=attr_cols)
        n_keys = changes.select(key_col).dropDuplicates().count()
        untouched = None
    else:
        keys = changes.select(key_col).dropDuplicates()
        n_keys = keys.count()
        untouched = dim.join(keys, key_col, "left_anti")
        affected_log = (dim.join(keys, key_col, "left_semi")
                        .select(key_col,
                                F.col("valid_from").alias(ts_col),
                                *attr_cols)
                        .unionByName(changes)
                        .dropDuplicates([key_col, ts_col, *attr_cols]))
        out = (scd2_build(affected_log, key_col, ts_col, attr_cols,
                          tiebreak_cols=attr_cols)
               .unionByName(untouched))
    staging = dim_path.rstrip("/") + ".staging"
    out.write.mode("overwrite").parquet(staging)
    if os.path.isdir(dim_path):
        shutil.rmtree(dim_path)
    os.rename(staging, dim_path)
    n_rows = spark.read.parquet(dim_path).count()
    return {"n_changes": changes.count(), "n_affected_keys": n_keys,
            "n_dim_rows": n_rows}


def scd2_apply_stream(stream: DataFrame, dim_path: str, key_col: str,
                      ts_col: str, attr_cols: list[str], *,
                      checkpoint: str, available_now: bool = True):
    """Drive :func:`scd2_apply_batch` from a streaming CDC source via
    foreachBatch — each micro-batch is one atomic affected-key rebuild."""

    def apply(batch: DataFrame, _batch_id: int) -> None:
        scd2_apply_batch(batch, dim_path, key_col, ts_col, attr_cols)

    writer = (stream.writeStream.foreachBatch(apply)
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def bloom_dedup_batch(batch: DataFrame, bits_dir: str, *,
                      key_col: str = "event_id", k: int = 3,
                      m_bits: int = 65536) -> DataFrame:
    """One micro-batch of bloom-gated EXACTLY-ONCE-ish ingest: probe each
    arriving key against the persisted bloom bit set (see
    operators/sketches), tag rows 'dup' whose keys are maybe-present,
    'new' otherwise, and fold the new keys' bits back into the store.

    The deliberate tradeoff (why a stream would choose this over
    dropDuplicates state): the state is a FIXED m_bits-row set however
    many keys have ever been seen — no per-key state store growth, no
    watermark eviction — at the price of a measured false-positive rate
    (a 'dup' tag can be wrong, a 'new' tag cannot). Everything is the
    engine-reproducible integer hashing of bloom_positions, so the batch
    face is exactly oracle-checkable.

    Returns the batch with a ``status`` column; the caller routes 'new'
    rows downstream (dedup_ingest_batch pattern)."""
    import os

    from pyspark.sql import functions as F

    from vivace_graph_v3_spark.operators.sketches import (
        bloom_build, bloom_probe)

    spark = batch.sparkSession
    path = f"{bits_dir}/bits"
    if os.path.exists(path):
        bits = spark.read.parquet(path)
    else:
        bits = spark.createDataFrame([], "pos long")
    probed = bloom_probe(bits, batch, key_col, k=k, m_bits=m_bits,
                         id_cols=[key_col])
    out = (batch.join(probed, key_col)
           .withColumn("status", F.when(F.col("maybe"), F.lit("dup"))
                       .otherwise(F.lit("new")))
           .drop("maybe"))
    # materialize BEFORE the state swap: the tagged frame's lineage reads
    # the current bits parquet, which the swap below replaces — a lazy
    # return would hit FILE_NOT_EXIST when the caller finally writes it
    with materialized() as m:
        out, _ = m.checkpoint(out)
        new_bits = bloom_build(
            out.filter(F.col("status") == "new").select(key_col),
            key_col, k=k, m_bits=m_bits)
        merged = bits.unionByName(new_bits).distinct()
        merged.write.mode("overwrite").parquet(f"{bits_dir}/bits_next")
        # atomic-enough swap for the local test harness; a deployment uses a
        # transactional table (the txn-log pattern of mvcc.py) for the state
        spark.read.parquet(f"{bits_dir}/bits_next").write \
            .mode("overwrite").parquet(path)
        return m.keep(out)


def bloom_dedup_stream(stream: DataFrame, bits_dir: str, out_dir: str, *,
                       key_col: str = "event_id",
                       checkpoint: str | None = None, k: int = 3,
                       m_bits: int = 65536):
    """Streaming face: foreachBatch(bloom_dedup_batch), appending tagged
    rows to ``out_dir``. State is the fixed-size bloom parquet — the
    unbounded-key dedup-ingest shape where a state store would grow
    without bound."""
    def _apply(batch, batch_id):
        out = bloom_dedup_batch(batch, bits_dir, key_col=key_col,
                                k=k, m_bits=m_bits)
        out.write.mode("append").parquet(out_dir)

    writer = stream.writeStream.foreachBatch(_apply).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


# -- incremental connected-components maintenance ------------------------------


def cc_apply_batch(edges: DataFrame, labels_path: str, *,
                   src_col: str = "src", dst_col: str = "dst") -> dict:
    """Apply one edge micro-batch to a persisted connected-components
    label store (operators/graph_algorithms.cc_incremental is the
    merge kernel; this is the streaming face). Per batch:

    1. vertices never seen before are appended as singleton labels
       (``comp = id``) — an anti-join of the batch's endpoint set;
    2. the batch-bounded label-graph merge repairs the labels;
    3. the store is rewritten via a staging-dir swap (object-store
       deployments: MERGE INTO keyed on the touched components only —
       the repair map is component-bounded, see cc_incremental).

    Cost per batch scales with the batch and the touched components,
    never the graph."""
    import os
    import shutil

    from pyspark.errors import AnalysisException

    from vivace_graph_v3_spark.operators.graph_algorithms import (
        cc_incremental)

    spark = edges.sparkSession
    e = (edges.select(F.col(src_col).alias("src"),
                      F.col(dst_col).alias("dst"))
         .dropDuplicates())
    # crash recovery (ADVICE r6): a crash BETWEEN the two renames of the
    # swap below leaves the live path absent with the data intact only
    # at the .old aside — restore the aside before reading, so the next
    # batch self-heals instead of restarting from an empty store
    old = labels_path.rstrip("/") + ".old"
    if not os.path.isdir(labels_path) and os.path.isdir(old):
        os.rename(old, labels_path)
    try:
        labels = spark.read.parquet(labels_path)
    except AnalysisException:  # first batch: empty store
        labels = None
    endpoints = (e.select(F.col("src").alias("id"))
                 .unionByName(e.select(F.col("dst").alias("id")))
                 .dropDuplicates())
    if labels is None:
        labels = endpoints.withColumn("comp", F.col("id"))
        n_new = endpoints.count()
    else:
        fresh = endpoints.join(labels, "id", "left_anti")
        n_new = fresh.count()
        labels = labels.unionByName(
            fresh.withColumn("comp", F.col("id")))
    out = cc_incremental(labels, e)
    staging = labels_path.rstrip("/") + ".staging"
    out.write.mode("overwrite").parquet(staging)
    # crash-safe swap: rename the live store ASIDE first, then rename
    # staging in, then delete the old copy — a crash between any two
    # steps leaves either the old or the new store intact on disk
    # (rmtree-then-rename had a window that lost the whole label store)
    shutil.rmtree(old, ignore_errors=True)
    if os.path.isdir(labels_path):
        os.rename(labels_path, old)
    os.rename(staging, labels_path)
    shutil.rmtree(old, ignore_errors=True)
    n_rows = spark.read.parquet(labels_path).count()
    return {"n_edges": e.count(), "n_new_vertices": n_new,
            "n_vertices": n_rows}


def cc_apply_stream(stream: DataFrame, labels_path: str, *,
                    checkpoint: str, src_col: str = "src",
                    dst_col: str = "dst", available_now: bool = True):
    """Drive :func:`cc_apply_batch` from a streaming edge source via
    foreachBatch — each micro-batch is one atomic label repair."""

    def apply(batch: DataFrame, _batch_id: int) -> None:
        cc_apply_batch(batch, labels_path, src_col=src_col,
                       dst_col=dst_col)

    writer = (stream.writeStream.foreachBatch(apply)
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
