"""Small shared utilities."""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Spread a narrow input across the cluster before CPU-heavy per-row
    work (k-hash signatures, pandas UDFs). Small tables often arrive as one
    parquet file -> one partition, which would serialize the computation onto
    a single core; at real scale the input already has >= parallelism
    partitions and this is a no-op (no shuffle added)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df


_scopes = threading.local()   # each thread's stack of open scopes


class materialized:
    """The one owner of intermediate state: ``with materialized() as m:``,
    ``m.persist`` / ``m.checkpoint``, then ``return m.keep(result)``. On
    exit it unpersists what it persisted and releases, by each one's own
    RDD handle (threads share the context), the checkpoints no kept
    frame reads; all of them on an exception. A nested scope hands its
    kept checkpoints to the enclosing one; the outermost leaves them to
    Spark's context cleaner. Without materializing, a scope costs no
    Spark job and no JVM call."""

    def __enter__(self) -> "materialized":
        self._frames, self._rdds, self._kept = [], [], []
        _scopes.__dict__.setdefault("stack", []).append(self)
        return self

    def __exit__(self, exc_type, *_) -> None:
        _scopes.stack.pop()
        for df in self._frames:
            df.unpersist()
        read = () if exc_type or not self._rdds else _rdds_read_by(self._kept)
        for rdd in self._rdds:
            if rdd.id() not in read:
                # the context's call: RDD.unpersist logs a warning for
                # every local checkpoint it releases
                rdd.context().unpersistRDD(rdd.id(), False)
            elif _scopes.stack:
                _scopes.stack[-1]._rdds.append(rdd)

    def persist(self, df: DataFrame) -> DataFrame:
        self._frames.append(df.persist())
        return df

    def checkpoint(self, df: DataFrame, *,
                   rebase: bool = False) -> tuple[DataFrame, int]:
        """Eager local checkpoint of ``df`` and its row count, observed in
        the same job. ``rebase`` drops the inherited size estimate, which
        Catalyst multiplies across the joins of a loop until planning
        stalls (graph_bowtie hung past the broadcast timeout): private
        JVM handles rewrap the rows as a fresh ``LogicalRDD``; without
        them (Spark Connect) the plain checkpoint is returned."""
        from pyspark.sql import Observation, functions as F

        ob = Observation()
        ck = (df.observe(ob, F.count(F.lit(1)).alias("n"))
              .localCheckpoint(eager=True))
        n = int(ob.get["n"])
        jdf = getattr(ck, "_jdf", None)
        if jdf is None:
            return ck, n
        self._rdds.append(jdf.queryExecution().logical().rdd())
        jspark = getattr(ck.sparkSession, "_jsparkSession", None)
        if rebase and hasattr(jspark, "internalCreateDataFrame"):
            try:
                return DataFrame(jspark.internalCreateDataFrame(
                    jdf.queryExecution().toRdd(), jdf.schema(), False),
                    ck.sparkSession), n
            except Exception:  # future-Spark signature drift: stay correct
                pass
        return ck, n

    def keep(self, df):
        self._kept.append(df)
        return df


def _rdds_read_by(frames) -> set:
    """Ids of the RDDs the plans of ``frames`` read: each ``LogicalRDD``
    leaf's RDD (subqueries included) and its dependencies."""
    def seq(s):
        return [s.apply(i) for i in range(s.size())]

    rdds, ids = [], set()
    for df in frames:
        plan = df._jdf.queryExecution().logical()
        for p in [plan] + seq(plan.subqueriesAll()):
            rdds += [leaf.rdd() for leaf in seq(p.collectLeaves())
                     if leaf.nodeName() == "LogicalRDD"]
    while rdds:
        r = rdds.pop()
        if r.id() not in ids:
            ids.add(r.id())
            rdds += [d.rdd() for d in seq(r.dependencies())]
    return ids


# The one driver bound: how many rows the driver may collect (a bounded
# local finish) or ship as a broadcast (bounded iteration state or rule
# relations). Every bounded-vs-distributed choice reads it at call time
# through fits_driver, or collect_bounded (which finish_locally uses):
# a capped collect is the bound check, so no operator counts, persists
# or checkpoints its input to decide. Setting it to 0 forces every
# operator onto its distributed path. Size it to driver memory: ~100
# bytes per collected edge row, so 2M rows is a few hundred MB.
DRIVER_ROWS = 2_000_000


def fits_driver(n: int, *, scale: int = 1) -> bool:
    """May the driver hold or broadcast ``n`` rows? ``scale`` widens the
    bound for frames whose rows are lighter than one edge (an undirected
    arc list carries each edge twice)."""
    return n <= DRIVER_ROWS * scale


def collect_bounded(df: DataFrame, *, scale: int = 1):
    """``df`` collected over Arrow as a pandas frame when its rows fit
    the driver (``scale`` as in :func:`fits_driver`), else None. One job
    and nothing persisted: the collect is capped one row past the
    bound, so a frame too big for the driver costs at most that many
    rows before the caller takes its distributed path, and nothing has
    to count ``df`` first."""
    pdf = df.limit(DRIVER_ROWS * scale + 1).toPandas()
    return pdf if fits_driver(len(pdf), scale=scale) else None


def local_frame(spark, rows, schema) -> DataFrame:
    """A driver-built frame as a JVM ``LocalRelation``: ``rows`` (tuples
    in ``schema`` field order, or a pyarrow Table already in that shape)
    go over Arrow, and ``collect()`` on the result runs no Spark job.
    That holds up to the session's
    ``spark.sql.execution.arrow.localRelationThreshold`` (1 MB, set in
    ``session.py``); a bigger frame becomes an Arrow RDD, which tasks
    scan in parallel and which takes one job to collect.

    Request paths must never call ``spark.createDataFrame(list)``
    instead: PySpark parallelizes the list and re-maps it through a
    Python RDD, so every job over that frame runs Python-worker tasks
    (about 0.5 CPU s more per small write, and one job to collect what
    the driver already held). The optimizer folds projections, filters
    and limits over a ``LocalRelation`` into a new one, so plans stay
    local until they meet a scan.

    Values are converted with the schema's own ``toInternal``, so every
    type reads back exactly as ``createDataFrame(rows, schema)`` would
    give it (naive datetimes as local time, dates, decimals, arrays)."""
    import pyarrow as pa

    if not isinstance(rows, pa.Table):
        rows = arrow_rows(rows, schema)
    return spark.createDataFrame(rows, schema)


def arrow_rows(rows, schema):
    """``rows`` (tuples or Rows in ``schema`` field order) as a pyarrow
    Table in ``schema``'s Arrow shape, each value converted with the
    schema's own ``toInternal``: the table :func:`local_frame` hands
    Spark, so a collected row goes back into a local frame unchanged."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    internal = [schema.toInternal(r) for r in rows]
    return pa.Table.from_arrays(
        [pa.array([r[i] for r in internal], type=f.type)
         for i, f in enumerate(arrow_schema)], schema=arrow_schema)


def finish_locally(df: DataFrame, kernel, schema, *,
                   scale: int = 1) -> DataFrame | None:
    """Bounded local finish for an iterative operator: ``df`` through
    :func:`collect_bounded`, ``kernel(pdf)`` on the driver, and the
    kernel's rows (tuples in ``schema`` order) as a :func:`local_frame`.

    Returns None when ``df`` does not fit the driver, or when the
    kernel returns None to decline (e.g. a memory cap inside it); the
    caller then materializes what its distributed loop needs."""
    pdf = collect_bounded(df, scale=scale)
    rows = None if pdf is None else kernel(pdf)
    return None if rows is None else local_frame(df.sparkSession, rows,
                                                 schema)


# Up to this many driver-held keys narrow a frame as an IN list, which
# the scan filters and which runs no job; more go in as a broadcast join
# against a local frame of them: one job more (the broadcast collects the
# frame), but planned in constant time, while an IN list costs ~0.15 ms
# per key to build over py4j (on a 4-core host the two cost about the
# same at 1000 keys).
IN_LIST_KEYS = 1000


def filter_keys(df: DataFrame, key, keys, *, anti: bool = False) -> DataFrame:
    """The rows of ``df`` whose ``key`` (a column name or Column) is among
    the non-null string ``keys`` (an iterable or a pyarrow array), or with
    ``anti`` is not among them: an IN list up to :data:`IN_LIST_KEYS`
    keys, past that a broadcast semi/anti join against a
    :func:`local_frame` of them."""
    import pyarrow as pa
    from pyspark.sql import functions as F, types as T

    col = F.col(key) if isinstance(key, str) else key
    if not hasattr(keys, "to_pylist"):
        keys = pa.array(list(keys), pa.string())
    if len(keys) <= IN_LIST_KEYS:
        hit = col.isin(keys.to_pylist())
        return df.filter(~hit if anti else hit)
    probe = local_frame(df.sparkSession, pa.table({"__key": keys}),
                        T.StructType([T.StructField("__key",
                                                    T.StringType())]))
    return (df.withColumn("__key", col)
            .join(F.broadcast(probe), "__key",
                  "left_anti" if anti else "left_semi")
            .drop("__key"))


def union_find_min(edge_rows) -> dict:
    """Driver-local connected components of an undirected edge list:
    id -> min member id of its component. Union by min root with path
    compression, so every root is already its component's minimum (by
    the ids' Python order, which for strings is the code-point order
    Spark's min uses)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_rows:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {x: find(x) for x in parent}


def rows_to_json(df, *, col: str = "json"):
    """One JSON object per row — the REST layer's NDJSON/JSON encoding of
    nodes (rest.lisp:101-146, 249-291) as a single JVM expression."""
    from pyspark.sql import functions as F

    return df.select(F.to_json(F.struct(*df.columns)).alias(col))


def salted_join(left, right, key: str, *, salt: int = 16, how: str = "inner"):
    """Skew-resistant equi-join: replicate the (small-ish) right side ``salt``
    ways and scatter the left side's hot keys across the replicas, so one hot
    key becomes ``salt`` balanced tasks instead of one straggler.

    AQE's skew-join splitting handles sort-merge skew automatically; this
    explicit form is for the cases AQE can't fix (aggregation-feeding joins,
    deliberate repartitioning) and as the documented pattern for hot vertices
    (celebrity nodes) in adjacency joins.
    """
    from pyspark.sql import functions as F

    lft = left.withColumn("__lsalt", F.floor(F.rand(seed=7) * salt).cast("int"))
    rgt = (right.withColumnRenamed(key, "__rkey")
           .withColumn("__rsalt",
                       F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))))
    out = lft.join(rgt, (F.col(key) == F.col("__rkey"))
                   & (F.col("__lsalt") == F.col("__rsalt")), how)
    return out.drop("__lsalt", "__rsalt", "__rkey")


def normalize_event_ts(df: DataFrame, *, col: str = "ts") -> DataFrame:
    """Normalize the events table's ``ts`` column to epoch NANOSECONDS
    (bigint), whatever the physical parquet type was written as.

    The testdata generator has shipped ``ts`` both as parquet
    TIMESTAMP(NANOS) (which Spark only reads via
    ``spark.sql.legacy.parquet.nanosAsLong`` -> bigint nanos) and as
    TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ). All downstream time
    arithmetic is integer-based on nanos — timezone- and engine-independent
    — so both layouts converge here. NTZ wall time is by convention the UTC
    instant (the session timezone is pinned to UTC in session.py), matching
    DuckDB's ``epoch_ns(ts)`` on the same file."""
    from pyspark.sql import functions as F

    dtype = dict(df.dtypes).get(col)
    if dtype in ("timestamp", "timestamp_ntz"):
        return df.withColumn(
            col, F.unix_micros(F.col(col).cast("timestamp")) * F.lit(1000))
    return df
