"""MVCC write path: transactions, txn log (WAL), time travel, snapshot/replay.

Reference semantics reproduced (citations into /root/reference):

- ``with-transaction`` -> ``%commit``: mutations collect into a write-set and
  apply atomically with a fresh commit epoch (transactions.lisp:255-266,
  1906-1952).
- OCC stale-revision detection on ``copy -> mutate -> save``
  (interface.lisp:3-38, transactions.lisp:1582-1630): a save whose carried
  ``revision`` is no longer current raises :class:`ConflictError`.
- WAL: every commit is persisted as an append to the txn log before it is
  visible (``persist-tx`` transactions.lisp:1382-1424).
- MVCC visibility: readers resolve "newest version with commit-epoch <=
  snapshot epoch" (transactions.lisp:395-462) — :meth:`VersionedGraph.read`
  with ``as_of``.
- Version retention honoring per-type ``keep-revisions``
  (transactions.lisp:470-599, schema.lisp:46-49) — :meth:`compact`.
- ``snapshot`` / ``replay``: dump all live nodes as replayable txn-log rows;
  rebuild a graph from them (txn-log.lisp:3-38).

Spark-first reinterpretation (SURVEY.md §7.2): there is no per-row OCC or TM
lock — a commit is one atomic batch append of parquet files to the log
directory, and the driver is the single writer (the analog of the reference's
transaction-manager lock). Current state is **merge-on-read**: a compacted
base snapshot plus the (small) delta log, resolved with
latest-(epoch, revision)-per-id-wins. The window function runs only over log
rows touching changed ids — never over the 100 TB base, which contributes via
a broadcast-able anti-join of changed ids. ``compact()`` folds deltas into the
base copy-on-write so the delta window stays bounded. While the log fits the
driver bound, each handle holds it as Arrow tables (:class:`_LogTail`), with
each logged type's rows decoded once, when their file is first read for that
type. The epoch and point probes of logged ids then run no Spark job, and a
scan (``read``) hands Spark the base without the logged ids plus the logged
winners as a local frame of typed rows: no log scan, window or payload
decode per read — what a long-lived server's requests need. Past the bound,
the windowed log scan above is the read.

The log row schema is fixed across node types: declared slots are carried as a
JSON payload (the columnar analog of the reference serializing the slot plist
onto the heap, serialize.lisp:162-183) and decoded back to typed columns via
the schema registry at read time. Base tables stay fully typed parquet.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import threading
import time
from functools import reduce

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import (DataFrame, Row, SparkSession, Window, functions as F,
                         types as T)
from pyspark.sql.pandas.types import to_arrow_schema

from vivace_graph_v3_spark import util
from vivace_graph_v3_spark.graph import GraphStore
from vivace_graph_v3_spark.schema import SYSTEM_COLUMNS, SchemaRegistry

LOG_SCHEMA = T.StructType([
    T.StructField("commit_epoch", T.LongType(), False),
    T.StructField("kind", T.StringType(), False),       # 'vertex' | 'edge'
    T.StructField("type", T.StringType(), False),
    T.StructField("op", T.StringType(), False),         # 'insert'|'update'|'delete'
    T.StructField("id", T.StringType(), False),
    T.StructField("revision", T.LongType(), False),
    T.StructField("deleted", T.BooleanType(), False),
    T.StructField("src", T.StringType(), True),
    T.StructField("dst", T.StringType(), True),
    T.StructField("weight", T.DoubleType(), True),
    T.StructField("payload", T.StringType(), True),     # JSON of declared slots
    T.StructField("committed_at", T.DoubleType(), True),
])
_LOG_ARROW = to_arrow_schema(LOG_SCHEMA)
_ID_SCHEMA = T.StructType([T.StructField("id", T.StringType())])
_PAYLOAD_SCHEMA = T.StructType([T.StructField("payload", T.StringType())])


class ConflictError(Exception):
    """Stale-revision write detected at commit (OCC validate analog,
    transactions.lisp:236-246)."""


def _slot_struct(nt) -> T.StructType:
    return T.StructType([T.StructField(n, t, True) for n, t in nt.slots.items()])


class _LogTail:
    """The txn log's rows held on the driver as Arrow, with the part-file
    names they were read from: the long-lived server's copy of the log,
    so a request reads the log without a Spark job. Each logged type's
    rows are also kept decoded to typed node rows (:meth:`typed`), so a
    payload is decoded once, not once per read.

    :meth:`rows` refreshes it from one directory listing. Every commit
    adds part files and nothing but ``compact()`` removes them, so a new
    name means some writer committed (this process, another one, or
    ``replay()``) and only the new files are read, each appended as its
    own chunk; a name that vanished means a compaction cleared the log,
    and the raw and decoded rows are dropped and everything is read
    again. Refreshes take a lock, because the REST server runs handlers
    on several threads."""

    def __init__(self, log_path: str, decode) -> None:
        self._path = log_path
        self._decode = decode     # (nt, log rows of nt) -> typed rows
        self._lock = threading.Lock()
        self._reset()

    def rows(self) -> pa.Table | None:
        """Every log row in ``LOG_SCHEMA``, or None when the log holds
        more rows than ``util.fits_driver`` allows."""
        with self._lock:
            return self._current()

    def typed(self, nt) -> pa.Table | None:
        """The log rows of type ``nt`` as ``decode`` made them, in log
        order, or None past the driver bound. Only the rows that arrived
        since the last call are decoded, and from the same refresh that
        the returned rows reflect."""
        with self._lock:
            rows = self._current()
            if rows is None:
                return None
            seen, typed = self._typed.get((nt.kind, nt.name), (0, None))
            if typed is None or seen < rows.num_rows:
                new = rows.slice(seen)
                new = new.filter(pc.and_(pc.equal(new["kind"], nt.kind),
                                         pc.equal(new["type"], nt.name)))
                if typed is None:
                    typed = self._decode(nt, new)
                elif new.num_rows:
                    typed = pa.concat_tables([typed, self._decode(nt, new)])
                self._typed[nt.kind, nt.name] = (rows.num_rows, typed)
            return typed

    def _current(self) -> pa.Table | None:
        while True:
            try:
                return self._refresh()
            except FileNotFoundError:   # compact() raced the listing
                self._reset()

    def _reset(self) -> None:
        self._counts: dict[str, int] = {}   # part file -> rows
        self._read: set[str] = set()        # part files held in _rows
        self._rows = _LOG_ARROW.empty_table()
        # (kind, type) -> (rows of _rows decoded, typed rows)
        self._typed: dict[tuple[str, str], tuple[int, pa.Table]] = {}

    def _refresh(self) -> pa.Table | None:
        try:
            names = {f for f in os.listdir(self._path)
                     if f.startswith("part-")}
        except FileNotFoundError:           # compact() between two steps
            names = set()
        if not names >= self._counts.keys():
            self._reset()
        for f in names - self._counts.keys():
            self._counts[f] = pq.read_metadata(
                os.path.join(self._path, f)).num_rows
        if not util.fits_driver(sum(self._counts.values())):
            return None
        new = sorted(names - self._read)
        if new:
            # one chunk per file, no copy of the rows already held
            self._rows = pa.concat_tables([self._rows] + [
                pq.read_table(os.path.join(self._path, f))
                .select(_LOG_ARROW.names).cast(_LOG_ARROW)
                for f in new])
            self._read.update(new)
        return self._rows


def _raise_conflict(op: str, type_name: str, missing, missing_id, stale,
                    stale_id) -> None:
    """OCC's verdict on one op from the counts of unknown ids and stale
    saves and the least non-null id of each: an unknown id wins over a
    stale save. A null id is unknown, so it is named None unless a
    non-null unknown id is named instead."""
    if missing:
        raise ConflictError(f"{op} on unknown {type_name} id {missing_id!r}")
    if stale:
        raise ConflictError(f"stale save of {type_name} id {stale_id!r}: "
                            f"carried revision is no longer current")


def _is_local(df: DataFrame) -> bool:
    """Does ``df`` plan as a JVM ``LocalRelation`` (rows held by the
    driver, collected without a job)?"""
    return (df._jdf.queryExecution().optimizedPlan().getClass()
            .getSimpleName() == "LocalRelation")


def _head_columns(nt) -> dict[str, str]:
    """Current-state column -> the ``__cur_*`` name an update or delete
    row carries it under into ``VersionedGraph._to_log_rows``."""
    cols = {"revision": "__cur_rev"}
    if nt.kind == "edge":
        cols.update(src="__cur_src", dst="__cur_dst", weight="__cur_w")
    return cols


def _latest(rows: pa.Table, *, ids=None, as_of: int | None = None
            ) -> pa.Table:
    """``read()``'s rule over driver-held rows of one type (optionally
    only ``ids``, and only commits at or before ``as_of``): per id, the
    row with the highest ``(commit_epoch, revision)``."""
    if ids is not None:
        rows = rows.filter(pc.is_in(rows["id"],
                                    value_set=pa.array(ids, pa.string())))
    if as_of is not None:
        rows = rows.filter(pc.less_equal(rows["commit_epoch"], as_of))
    rows = rows.sort_by([("id", "ascending"), ("commit_epoch", "descending"),
                         ("revision", "descending")])
    key = rows["id"].combine_chunks()
    first = np.ones(len(key), dtype=bool)
    first[1:] = pc.not_equal(key[1:], key[:-1]).to_numpy(
        zero_copy_only=False)
    return rows.filter(pa.array(first))


def _with_slots(df: DataFrame, nt, *cols) -> DataFrame:
    """``cols`` of ``df`` and its ``payload`` decoded to the declared slot
    columns of ``nt``."""
    return (df.withColumn("__p", F.from_json("payload", _slot_struct(nt)))
            .select(*cols, *[F.col(f"__p.{c}").alias(c) for c in nt.slots]))


def _typed_schema(nt) -> T.StructType:
    """The rows ``read()`` takes from the log: the declared columns, every
    one nullable, since a log row may leave an edge's endpoints and weight
    and any slot null."""
    return T.StructType([T.StructField(f.name, f.dataType, True)
                         for f in nt.struct_type()])


def _slots_json(cols) -> F.Column:
    """Slot columns -> the log's JSON payload. Timestamps keep their
    microseconds (``to_json``'s default format writes milliseconds);
    ``from_json``'s default parser reads either."""
    return F.to_json(F.struct(*cols), {
        "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
        "timestampNTZFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"})


class Transaction:
    """Collects a write-set of DataFrame mutations; applied atomically by
    :meth:`VersionedGraph.commit` (the ``with-transaction`` body analog)."""

    def __init__(self, graph: "VersionedGraph") -> None:
        self.graph = graph
        self.ops: list[tuple[str, str, DataFrame]] = []  # (op, type, rows)

    def create(self, type_name: str, df: DataFrame) -> "Transaction":
        """``make-vertex`` / ``make-edge`` (vertex.lisp:105-146,
        edge.lisp:191-245): insert rows. ``df`` carries ``id`` + declared
        slots (+ ``src``/``dst``[/``weight``] for edges)."""
        self.ops.append(("insert", type_name, df))
        return self

    def save(self, type_name: str, df: DataFrame) -> "Transaction":
        """copy -> mutate -> save (interface.lisp:3-38). ``df`` carries ``id``,
        the full slot set, and the ``revision`` the caller read; commit
        validates it is still current and bumps it."""
        self.ops.append(("update", type_name, df))
        return self

    def mark_deleted(self, type_name: str, ids) -> "Transaction":
        """Soft delete (interface.lisp:15-25): tombstone rows."""
        if not isinstance(ids, DataFrame):
            ids = util.local_frame(self.graph.spark, [(i,) for i in ids],
                                   _ID_SCHEMA)
        self.ops.append(("delete", type_name, ids.select("id")))
        return self


class VersionedGraph:
    """An on-disk, mutable, versioned graph: ``path/base/<kind>_<type>``
    typed parquet + ``path/log`` append-only txn log."""

    def __init__(self, spark: SparkSession, registry: SchemaRegistry,
                 path: str, name: str = "graph") -> None:
        self.spark = spark
        self.registry = registry
        self.path = path
        self.name = name
        os.makedirs(self.log_path, exist_ok=True)
        self._tail = _LogTail(self.log_path, self._decode_rows)

    # -- paths ---------------------------------------------------------------

    @property
    def log_path(self) -> str:
        return os.path.join(self.path, "log")

    def _base_path(self, nt) -> str:
        return os.path.join(self.path, "base", f"{nt.kind}_{nt.name}")

    @property
    def _epoch_mark_path(self) -> str:
        return os.path.join(self.path, "epoch_mark")

    # -- epoch bookkeeping ---------------------------------------------------

    def _log(self) -> DataFrame:
        return self.spark.read.schema(LOG_SCHEMA).parquet(self.log_path)

    def current_epoch(self) -> int:
        """Newest committed epoch: the log's maximum, or the high-water
        mark ``compact()`` recorded before it cleared the log, whichever
        is larger — epochs never repeat across a compaction. The maximum
        comes from the driver-held log tail without a Spark job, or from
        one aggregate job when the log is past the driver bound."""
        tail = self._tail.rows()
        if tail is not None:
            logged = pc.max(tail["commit_epoch"]).as_py() or 0
        else:
            row = self._log().agg(F.max("commit_epoch")).first()
            logged = int(row[0]) if row and row[0] is not None else 0
        try:
            with open(self._epoch_mark_path) as f:
                return max(logged, int(f.read()))
        except FileNotFoundError:
            return logged

    @contextlib.contextmanager
    def _commit_lock(self):
        """The reference's transaction-manager lock
        (transactions.lisp:1803-1810) as a file lock on the graph
        directory: one writer (a commit or a compaction) per graph across
        processes; readers never take it."""
        import fcntl

        with open(os.path.join(self.path, ".commit.lock"), "w") as lk:
            fcntl.flock(lk, fcntl.LOCK_EX)
            try:
                yield
            finally:
                fcntl.flock(lk, fcntl.LOCK_UN)

    # -- write path ----------------------------------------------------------

    def begin(self) -> Transaction:
        return Transaction(self)

    def commit(self, tx: Transaction) -> int:
        """Apply the write-set atomically under a fresh epoch: validate
        revisions (OCC), serialize to log rows, append to the WAL
        (transactions.lisp:1906-1952 -> 1382-1424).

        Commit-time mutual exclusion is :meth:`_commit_lock`, shared with
        :meth:`compact`.

        A write-set whose update and delete frames are local relations
        (a request's write) is validated by point probe
        (:meth:`_probe_heads`) while the log tail fits the driver, before
        anything is written, then appended as one write. For every other
        write-set, OCC validation is FUSED into the serialization job: each
        update/delete op carries an Observation whose aggregates are
        computed on the rows as they stream into a staging write; the
        staged files are promoted into the log only after every
        observation validates. Either way a conflicting commit leaves
        the log untouched — for the fused path, atomicity is the
        promote-after-validate rename, the same protocol a distributed
        committer uses."""
        with self._commit_lock():
            epoch = self.current_epoch() + 1
            ops = [(op, self.registry.get(t), df) for op, t, df in tx.ops]
            if not ops:
                return epoch
            probed = self._probe_heads(ops)
            if probed is not None:
                # validated (or insert-only): append directly; coalesce
                # keeps the one-file-per-commit log layout
                out = reduce(DataFrame.unionByName, [
                    self._to_log_rows(op, nt, df, epoch)
                    for op, nt, df in probed])
                out.coalesce(1).write.mode("append").parquet(self.log_path)
                return epoch
            frames, checks = [], []
            for op, nt, df in ops:
                if op != "insert":
                    df, check = self._observe_heads(op, nt, df)
                    checks.append(check)
                frames.append(self._to_log_rows(op, nt, df, epoch))
            out = reduce(DataFrame.unionByName, frames)
            staging = os.path.join(
                self.path, f".staging-{epoch}-{os.getpid()}-{time.time_ns()}")
            try:
                # no coalesce here: the validation join / merge-on-read
                # window keep their parallelism inside this one job and
                # AQE's partition coalescing sizes the output files
                out.write.mode("overwrite").parquet(staging)
                for obs, op, name, check_stale in checks:
                    row = obs.get
                    _raise_conflict(op, name, row["missing"],
                                    row["missing_id"], check_stale
                                    and row["stale"], row["stale_id"])
                for fname in os.listdir(staging):
                    if fname.startswith("part-"):
                        os.rename(os.path.join(staging, fname),
                                  os.path.join(self.log_path, fname))
            finally:
                shutil.rmtree(staging, ignore_errors=True)
            return epoch

    def _heads(self, nt, typed: pa.Table, ids: set) -> dict:
        """id -> current ``(revision[, src, dst, weight])`` of the ids in
        ``read(nt, include_deleted=True)``: from the log tail's ``typed``
        rows of ``nt`` where they hold the id, else from one base probe
        (:func:`util.filter_keys`)."""
        cols = list(_head_columns(nt))
        heads = {r["id"]: tuple(r[c] for c in cols) for r in
                 _latest(typed, ids=list(ids)).to_pylist()}
        rest = ids - heads.keys()
        if rest:
            base = util.filter_keys(self._base(nt), "id", sorted(rest))
            heads.update((r["id"], tuple(r[c] for c in cols))
                         for r in base.select("id", *cols).collect())
        return heads

    def _probe_heads(self, ops: list) -> list | None:
        """OCC by point probe, for write-sets whose update and delete
        frames are local relations — what a request builds with
        :func:`util.local_frame`, so collecting them runs no job. Look up
        each id's current state with :meth:`_heads`, raise
        :class:`ConflictError` for an unknown id or a stale carried
        revision, and return ``ops`` with those frames rebuilt as local
        frames carrying the ``__cur_*`` columns. Returns None for any
        other write-set, or when the log is past the driver bound (the
        caller then fuses validation into its write)."""
        checked = [i for i, (op, _, _) in enumerate(ops) if op != "insert"]
        if not checked:
            return ops
        if not all(_is_local(ops[i][2]) for i in checked):
            return None
        typed = {nt.name: self._tail.typed(nt) for op, nt, _ in ops
                 if op != "insert"}
        if None in typed.values():
            return None
        out = list(ops)
        for i in checked:
            op, nt, df = ops[i]
            rows = df.collect()
            heads = self._heads(nt, typed[nt.name],
                                {r["id"] for r in rows} - {None})
            missing = [r["id"] for r in rows if r["id"] not in heads]
            stale = ([r["id"] for r in rows if r["id"] in heads
                      and r["revision"] is not None
                      and r["revision"] != heads[r["id"]][0]]
                     if op == "update" and "revision" in df.columns else [])
            _raise_conflict(op, nt.name, len(missing),
                            min((m for m in missing if m is not None),
                                default=None),
                            len(stale), min(stale, default=None))
            declared = nt.struct_type()
            out[i] = (op, nt, util.local_frame(
                self.spark, [tuple(r) + heads[r["id"]] for r in rows],
                T.StructType(df.schema.fields + [
                    T.StructField(alias, declared[c].dataType)
                    for c, alias in _head_columns(nt).items()])))
        return out

    def _observe_heads(self, op: str, nt, df: DataFrame):
        """OCC fused into the commit's write: join each row to its
        current state (the ``__cur_*`` columns) and observe, on the rows
        as they stream into the write, the count and least id of unknown
        ids and of stale saves. Returns ``(frame, check)`` with ``check``
        = ``(Observation, op, type_name, check_stale)``."""
        from pyspark.sql import Observation

        cur = self.read(nt.name, include_deleted=True).select(
            "id", *[F.col(c).alias(alias)
                    for c, alias in _head_columns(nt).items()])
        df = df.join(cur, "id", "left")
        check_stale = (op == "update" and "revision" in df.columns)
        obs = Observation()
        df = df.observe(
            obs,
            F.sum(F.when(F.col("__cur_rev").isNull(), 1).otherwise(0))
            .alias("missing"),
            (F.sum(F.when(F.col("revision") != F.col("__cur_rev"), 1)
                   .otherwise(0)) if check_stale else F.lit(0))
            .alias("stale"),
            F.min(F.when(F.col("__cur_rev").isNull(), F.col("id")))
            .alias("missing_id"),
            (F.min(F.when(F.col("revision") != F.col("__cur_rev"),
                          F.col("id"))) if check_stale
             else F.lit(None)).alias("stale_id"),
        )
        return df, (obs, op, nt.name, check_stale)

    def _to_log_rows(self, op: str, nt, df: DataFrame, epoch: int) -> DataFrame:
        """Serialize one op's rows to log-row shape. Update and delete rows
        carry their current state in the ``__cur_*`` columns: the
        revision is bumped from it, and an edge update keeps the current
        ``src``/``dst``/``weight`` where the row leaves them null."""
        slots = [c for c in nt.slots if c not in SYSTEM_COLUMNS]
        payload = (_slots_json([F.col(c) for c in slots if c in df.columns])
                   if any(c in df.columns for c in slots) else F.lit(None).cast("string"))
        src = F.col("src") if "src" in df.columns else F.lit(None).cast("string")
        dst = F.col("dst") if "dst" in df.columns else F.lit(None).cast("string")
        wgt = (F.col("weight").cast("double") if "weight" in df.columns
               else (F.lit(1.0) if nt.kind == "edge" and op == "insert"
                     else F.lit(None).cast("double")))

        if op == "insert":
            revision = F.lit(0).cast("long")
            deleted = F.lit(False)
        else:
            revision = (F.col("__cur_rev") + 1).cast("long")
            deleted = F.lit(op == "delete")
            if nt.kind == "edge":
                src = F.coalesce(src, F.col("__cur_src"))
                dst = F.coalesce(dst, F.col("__cur_dst"))
                wgt = F.coalesce(wgt, F.col("__cur_w"))

        return df.select(
            F.lit(epoch).cast("long").alias("commit_epoch"),
            F.lit(nt.kind).alias("kind"),
            F.lit(nt.name).alias("type"),
            F.lit(op).alias("op"),
            F.col("id"),
            revision.alias("revision"),
            deleted.alias("deleted"),
            src.alias("src"), dst.alias("dst"), wgt.alias("weight"),
            payload.alias("payload"),
            F.lit(time.time()).alias("committed_at"),
        )

    # -- read path -----------------------------------------------------------

    def _decode(self, nt, log: DataFrame) -> DataFrame:
        """Log rows -> typed node rows (payload JSON -> declared slot columns)."""
        sys_cols = [F.col("id"), F.lit(nt.name).alias("type"), F.col("deleted"),
                    F.col("revision"), F.col("commit_epoch")]
        if nt.kind == "edge":
            sys_cols += [F.col("src"), F.col("dst"), F.col("weight")]
        return _with_slots(log, nt, *sys_cols)

    def _decode_rows(self, nt, rows: pa.Table) -> pa.Table:
        """Driver-held log rows of ``nt`` -> ``_typed_schema(nt)`` rows,
        for the log tail. The system columns are taken as logged; the
        payloads go through :meth:`_decode`'s own ``from_json`` over a
        local frame, so the slots decode exactly as a Spark read decodes
        them, and the collect of that LocalRelation runs no job."""
        payloads = (_with_slots(util.local_frame(
            self.spark, rows.select(["payload"]), _PAYLOAD_SCHEMA), nt)
            .collect() if nt.slots and rows.num_rows else [])
        slots = util.arrow_rows(payloads, _slot_struct(nt))
        schema = to_arrow_schema(_typed_schema(nt))
        return pa.Table.from_arrays([
            pa.array([nt.name] * rows.num_rows, pa.string()) if c == "type"
            else slots[c] if c in nt.slots else rows[c]
            for c in schema.names], schema=schema)

    def _base(self, nt) -> DataFrame:
        p = self._base_path(nt)
        # crash recovery: a compact() interrupted between its two swap
        # renames leaves the base only at the .old aside — restore it
        # (same self-healing rule as the streaming stores, ADVICE r6)
        if not os.path.exists(p) and os.path.isdir(p + ".old"):
            os.rename(p + ".old", p)
        if os.path.exists(p):
            # the declared schema, not inference: inferring costs one
            # Spark job per read, and read()'s union already requires the
            # base columns to be the declared ones
            return self.spark.read.schema(nt.struct_type()).parquet(p)
        return util.local_frame(self.spark, [], nt.struct_type())

    def read(self, type_name: str, *, as_of: int | None = None,
             include_deleted: bool = False) -> DataFrame:
        """Current (or ``as_of`` snapshot) state of one type: newest version
        with commit_epoch <= snapshot epoch per id (transactions.lisp:444-462).

        Any log row of an id supersedes its base row. While the log fits
        the driver bound, the log tail's decoded rows of the type give
        each logged id's winner on the driver, and the plan is the base
        without those ids (:func:`util.filter_keys`), unioned with the
        winners as a local frame: no log scan, window or ``from_json``.
        A type with no log rows (at or before ``as_of``) reads its base
        alone. Past the bound, the per-id window runs over the type's
        log rows and the base joins in by anti-join on the changed-id set
        (broadcast-able: the delta is small relative to the base between
        compactions).
        """
        nt = self.registry.get(type_name)
        base = self._base(nt)
        if as_of is not None:
            base = base.filter(F.col("commit_epoch") <= as_of)
        typed = self._tail.typed(nt)
        if typed is None:
            log = self._log().filter((F.col("kind") == nt.kind) &
                                     (F.col("type") == nt.name))
            if as_of is not None:
                log = log.filter(F.col("commit_epoch") <= as_of)
            w = Window.partitionBy("id").orderBy(F.desc("commit_epoch"),
                                                F.desc("revision"))
            latest = self._decode(nt, log.withColumn(
                "__rn", F.row_number().over(w)).filter(F.col("__rn") == 1))
            cur = (base.join(F.broadcast(latest.select("id")), "id",
                             "left_anti").unionByName(latest))
        else:
            won = _latest(typed, as_of=as_of)
            cur = base if not won.num_rows else (
                util.filter_keys(base, "id", won["id"], anti=True)
                .unionByName(util.local_frame(self.spark, won,
                                              _typed_schema(nt))))
        if not include_deleted:
            cur = cur.filter(~F.col("deleted"))
        return cur

    def history(self, type_name: str) -> DataFrame:
        """Every retained version of every node (MVCC chain walk analog)."""
        nt = self.registry.get(type_name)
        log = self._log().filter((F.col("kind") == nt.kind) &
                                 (F.col("type") == nt.name))
        return self._base(nt).unionByName(self._decode(nt, log))

    # -- point access --------------------------------------------------------

    def _id_log(self, kind: str, node_id: str) -> DataFrame:
        return self._log().filter((F.col("kind") == kind) &
                                  (F.col("id") == node_id))

    def locate(self, kind: str, node_id: str) -> str | None:
        """The first ``kind`` type in registry order that holds ``node_id``,
        tombstoned or not, or None: the store-wide ``lookup-vertex`` /
        ``lookup-edge`` probe (vertex.lisp:84-91).

        No merge-on-read: an id is in ``read(t, include_deleted=True)``
        iff it is in t's base or in t's log rows. The log tail answers
        for the log, so one Spark job probes only the bases of the types
        ahead of the first logged one (none when that is the first
        type); past the driver bound the same job also probes the log."""
        types = self.registry.types(kind)
        tail = self._tail.rows()
        if tail is None:
            logged = set()
            probes = [self._id_log(kind, node_id).select("type")]
        else:
            hit = tail.filter(pc.and_(pc.equal(tail["kind"], kind),
                                      pc.equal(tail["id"], node_id)))
            logged, probes = set(hit["type"].to_pylist()), []
        for nt in types:
            if nt.name in logged:   # no later type can come first
                break
            probes.append(self._base(nt).filter(F.col("id") == node_id)
                          .select(F.lit(nt.name).alias("type")))
        found = logged | ({r["type"] for r in
                           reduce(DataFrame.union, probes).collect()}
                          if probes else set())
        return next((nt.name for nt in types if nt.name in found), None)

    def get(self, type_name: str, node_id: str) -> Row | None:
        """The current version of one node, tombstone included, or None:
        the row ``read(type_name, include_deleted=True)`` holds for the id.

        The winner is read()'s: any log row supersedes the base row (the
        anti-join), and among log rows the highest ``(commit_epoch,
        revision)`` wins (the window). When the log tail holds the id,
        its winner comes from the tail's decoded rows, the ones ``read()``
        takes, through a local frame, and no Spark job runs; otherwise
        one job probes the base. Past the driver bound, one job collects
        the id's base row and decoded log rows."""
        nt = self.registry.get(type_name)
        typed = self._tail.typed(nt)
        if typed is not None:
            won = _latest(typed, ids=[node_id])
            if won.num_rows:
                return util.local_frame(self.spark, won,
                                        _typed_schema(nt)).first()
            rows = self._base(nt).filter(F.col("id") == node_id).collect()
            return max(rows, key=lambda r: (r["commit_epoch"], r["revision"]),
                       default=None)
        log = self._id_log(nt.kind, node_id).filter(F.col("type") == nt.name)
        rows = (self._base(nt).filter(F.col("id") == node_id)
                .withColumn("__log", F.lit(False))
                .unionByName(self._decode(nt, log)
                             .withColumn("__log", F.lit(True)))
                .collect())
        if not rows:
            return None
        best = max(rows, key=lambda r: (r["__log"], r["commit_epoch"],
                                        r["revision"])).asDict()
        del best["__log"]
        return Row(**best)

    def store(self, *, as_of: int | None = None) -> GraphStore:
        """A :class:`GraphStore` view (optionally a snapshot read, the
        ``:snapshot t`` analog, prologc.lisp:1024-1031) for querying. Each
        type's merge-on-read is planned when a query first reads it, so a
        query pays only for the types it touches."""
        g = GraphStore(self.spark, self.registry, name=self.name,
                       has_tombstones=True)

        def plan(type_name: str) -> DataFrame:
            return self.read(type_name, as_of=as_of, include_deleted=True)

        g._vertices = _LazyTables(
            [nt.name for nt in self.registry.types("vertex")], plan)
        g._edges = _LazyTables(
            [nt.name for nt in self.registry.types("edge")], plan)
        return g

    def incident_edges(self, node_id: str) -> DataFrame:
        """The rows of ``store().active_edges()`` with ``node_id`` as
        ``src`` or ``dst``, by probe: one job collects every edge type's
        read filtered on ``src``/``dst``, and one more finds which of the
        endpoints those rows name are live vertices (each vertex type's
        read narrowed to them: the log tail answers for logged ids, a
        base probe for the rest). The answer is a local frame. Past the
        driver bound, the ``active_edges()`` filter."""
        store = self.store()
        touching = (F.col("src") == node_id) | (F.col("dst") == node_id)
        edges = store.scan_edges().filter(touching)
        # toArrow runs a limit as one job; collect() would take it in
        # rounds of partitions
        rows = edges.limit(util.DRIVER_ROWS + 1).toArrow()
        if not util.fits_driver(rows.num_rows):
            return store.active_edges().filter(touching)
        ends = pc.unique(pa.chunked_array(
            rows["src"].chunks + rows["dst"].chunks, pa.string())).drop_null()
        live = pa.array([r["id"] for r in util.filter_keys(
            store.scan_vertices(columns=["id"]), "id", ends).collect()]
            if len(ends) else [], pa.string())
        return util.local_frame(self.spark, rows.filter(pc.and_(
            pc.is_in(rows["src"], value_set=live),
            pc.is_in(rows["dst"], value_set=live))), edges.schema)

    # -- bootstrap / snapshot / replay / compact ------------------------------

    def init_from_store(self, store: GraphStore) -> None:
        """Seed base tables from an existing GraphStore projection."""
        for nt in self.registry.types():
            tables = store._vertices if nt.kind == "vertex" else store._edges
            if nt.name in tables:
                tables[nt.name].write.mode("overwrite").parquet(self._base_path(nt))

    def snapshot(self, out_path: str, *, include_deleted: bool = False) -> None:
        """Dump all live nodes as replayable txn-log rows (txn-log.lisp:3-36)."""
        frames = []
        for nt in self.registry.types():
            cur = self.read(nt.name, include_deleted=include_deleted)
            frames.append(self._to_snapshot_rows(nt, cur))
        out = frames[0]
        for fdf in frames[1:]:
            out = out.unionByName(fdf)
        out.write.mode("overwrite").parquet(out_path)

    def _to_snapshot_rows(self, nt, cur: DataFrame) -> DataFrame:
        slots = [c for c in nt.slots if c not in SYSTEM_COLUMNS]
        return cur.select(
            F.lit(1).cast("long").alias("commit_epoch"),
            F.lit(nt.kind).alias("kind"),
            F.lit(nt.name).alias("type"),
            F.lit("insert").alias("op"),
            F.col("id"),
            F.lit(0).cast("long").alias("revision"),
            F.col("deleted"),
            (F.col("src") if nt.kind == "edge" else F.lit(None).cast("string")).alias("src"),
            (F.col("dst") if nt.kind == "edge" else F.lit(None).cast("string")).alias("dst"),
            (F.col("weight").cast("double") if nt.kind == "edge"
             else F.lit(None).cast("double")).alias("weight"),
            (_slots_json(slots) if slots
             else F.lit(None).cast("string")).alias("payload"),
            F.lit(time.time()).alias("committed_at"),
        )

    @classmethod
    def replay(cls, spark: SparkSession, registry: SchemaRegistry,
               txn_dir: str, path: str, name: str = "graph") -> "VersionedGraph":
        """Rebuild a graph from snapshot/txn-log rows (txn-log.lisp:38-...)."""
        g = cls(spark, registry, path, name=name)
        rows = spark.read.schema(LOG_SCHEMA).parquet(txn_dir)
        rows.write.mode("append").parquet(g.log_path)
        return g

    def compact(self) -> None:
        """Fold the delta log into the base (copy-on-write), retaining at most
        ``keep_revisions`` superseded versions per id in ``path/history``
        (the epoch-gated reaper analog, transactions.lisp:470-599).

        Holds the commit lock throughout, so no commit lands in a log that
        is about to be removed, and records the epoch high-water mark
        before removing the log, so :meth:`current_epoch` never goes
        back."""
        with self._commit_lock():
            epoch = self.current_epoch()
            self._fold_log()
            tmp = self._epoch_mark_path + ".tmp"
            with open(tmp, "w") as f:
                f.write(str(epoch))
            os.replace(tmp, self._epoch_mark_path)
            shutil.rmtree(self.log_path)
            os.makedirs(self.log_path, exist_ok=True)

    def _fold_log(self) -> None:
        hist_path = os.path.join(self.path, "history")
        # the logged types: from the driver-held tail, or past the
        # driver bound one distinct collect
        tail = self._tail.rows()
        if tail is not None:
            logged = set(zip(tail["kind"].to_pylist(),
                             tail["type"].to_pylist()))
        else:
            logged = {(r["kind"], r["type"]) for r in
                      self._log().select("kind", "type").distinct().collect()}
        for nt in self.registry.types():
            if (nt.kind, nt.name) not in logged:
                continue
            cur = self.read(nt.name, include_deleted=True)
            keep = nt.keep_revisions
            if keep is None or keep > 0:
                w = Window.partitionBy("id").orderBy(F.desc("commit_epoch"),
                                                    F.desc("revision"))
                old = (self.history(nt.name)
                       .withColumn("__rn", F.row_number().over(w))
                       .filter(F.col("__rn") > 1))
                if keep is not None:
                    old = old.filter(F.col("__rn") <= keep + 1)
                (old.drop("__rn").write.mode("append")
                 .parquet(os.path.join(hist_path, f"{nt.kind}_{nt.name}")))
            tmp = self._base_path(nt) + ".compacting"
            cur.write.mode("overwrite").parquet(tmp)
            final = self._base_path(nt)
            # rename-aside swap (never rmtree-then-rename a live store —
            # the ADVICE r6 rule): a crash between any two steps leaves
            # old or new base intact; and with the log still present,
            # merge-on-read over either base is identical (the per-id
            # window re-derives the same latest rows), so the swap is
            # crash-idempotent end to end
            old = final + ".old"
            shutil.rmtree(old, ignore_errors=True)
            if os.path.exists(final):
                os.rename(final, old)
            os.rename(tmp, final)
            shutil.rmtree(old, ignore_errors=True)

    # -- prolog-side mutation (retract) ---------------------------------------

    def retract_node(self, type_name: str, node_id: str) -> int:
        """``retract``/1 (prolog-functors.lisp:859-877): delete one node."""
        tx = self.begin().mark_deleted(type_name, [node_id])
        return self.commit(tx)

    def retract_edges(self, edge_type: str, src: str | None = None,
                      dst: str | None = None) -> int:
        """``retract``/3 (prolog-functors.lisp:879-913): delete matching
        active edges of a type."""
        df = self.read(edge_type)
        if src is not None:
            df = df.filter(F.col("src") == src)
        if dst is not None:
            df = df.filter(F.col("dst") == dst)
        tx = self.begin().mark_deleted(edge_type, df.select("id"))
        return self.commit(tx)


class _LazyTables(dict):
    """Type name -> DataFrame, planned by ``plan(name)`` on first ``[]``.
    :class:`GraphStore` reaches its tables only by ``[]`` and key
    iteration, so the types a query never touches are never planned."""

    def __init__(self, names: list[str], plan) -> None:
        super().__init__(dict.fromkeys(names))
        self._plan = plan

    def __getitem__(self, name: str) -> DataFrame:
        df = super().__getitem__(name)
        if df is None:
            df = self[name] = self._plan(name)
        return df


def revision_diff(log: DataFrame, epoch_a: int, epoch_b: int, *,
                  id_cols: tuple = ("kind", "type", "id")) -> DataFrame:
    """Time-travel diff straight off the txn log: which entities were
    added / removed / updated between the committed states AS OF
    ``epoch_a`` and AS OF ``epoch_b`` (a <= b) — the "what changed since
    the last snapshot" question replication, cache invalidation, and
    incremental-export consumers ask (visibility rule of
    transactions.lisp:444-462: latest op at commit_epoch <= E wins, a
    winning delete hides the id).

    Two bounded window passes over the SAME id-partitioned shuffle (the
    log is filtered to epoch <= b once; the as-of-a state is the same
    window with the epoch predicate pushed into the ranking), then one
    full outer join on the id. Returns (*id_cols, change, rev_a, rev_b)
    with change in added|removed|updated; unchanged ids are dropped."""
    def state(epoch: int) -> DataFrame:
        w = Window.partitionBy(*[F.col(c) for c in id_cols]) \
                  .orderBy(F.col("commit_epoch").desc())
        return (log.filter(F.col("commit_epoch") <= epoch)
                .withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .filter(F.col("op") != "delete")
                .select(*id_cols,
                        F.col("commit_epoch").alias("rev")))

    a = state(epoch_a).withColumnRenamed("rev", "rev_a")
    b = state(epoch_b).withColumnRenamed("rev", "rev_b")
    j = a.join(b, list(id_cols), "full_outer")
    change = (F.when(F.col("rev_a").isNull(), "added")
              .when(F.col("rev_b").isNull(), "removed")
              .when(F.col("rev_b") > F.col("rev_a"), "updated"))
    return (j.withColumn("change", change)
            .filter(F.col("change").isNotNull())
            .select(*id_cols, "change", "rev_a", "rev_b"))
