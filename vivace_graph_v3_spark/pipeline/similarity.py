"""Similarity search over an embedding column (``array<float>``).

- ``cosine_topk_bruteforce``: exact top-k per query — on the driver while
  |queries| * |corpus| fits the driver bound, else broadcast the (small)
  query set against the corpus, windowed rank. The correctness baseline and
  perfectly adequate whenever |queries| * |corpus| per partition fits compute
  (it's one broadcast join: no shuffle of the corpus at all).
- ``ivf_ann_topk``: the scale path — IVF (inverted-file) partitioning:
  k-means-lite centroids from a deterministic sample, corpus assigned to
  nearest centroid once (a write-time step at 100 TB), queries probe only the
  ``nprobe`` nearest centroid cells.

All vector math is JVM expressions (zip_with/aggregate), no Python.
"""

from __future__ import annotations

import pyarrow.compute as pc
from pyspark.sql import DataFrame, Observation, Window, functions as F

from vivace_graph_v3_spark import util
from vivace_graph_v3_spark.pipeline.dedup import cosine


def cosine_topk_bruteforce(corpus: DataFrame, queries: DataFrame, k: int, *,
                           vec_col: str = "embedding", id_col: str = "vec_id",
                           q_vec_col: str | None = None,
                           q_id_col: str | None = None,
                           broadcast_corpus: bool = False) -> DataFrame:
    """Exact top-k neighbors per query by cosine. Returns
    (query_id, neighbor_id, cosine, rank). Self-matches excluded when ids
    collide.

    Within the driver bound (|queries| x |corpus| pairs up to
    ``util.DRIVER_ROWS``) both sides are collected with caps that count
    pairs, not rows (:func:`_collect_pairs_bounded`; with
    ``broadcast_corpus`` the seed, then the queries capped at
    ``DRIVER_ROWS // |seed|`` + 1), and the top-k runs on the driver
    (:func:`_topk_local`): the numpy fold of
    :func:`_cosine_topk_seed_scan`, rounding in Spark over a local frame
    (no job), the rank on the driver. No Python worker starts and
    nothing is persisted. A null id or vector, vectors of different
    lengths, or id types that differ between the sides take the Spark
    plans, which keep their own semantics for those.

    Past the bound, two plan shapes by which side is small:

    - default (``broadcast_corpus=False``): broadcast the QUERY set
      against the corpus scan — right when queries are the bounded side
      (the ANN-recall / ad-hoc lookup case).
    - ``broadcast_corpus=True``: the corpus is the bounded side (e.g. a
      labeled SEED set spread over a huge unlabeled side): collect the
      seed matrix once and scan the queries with an Arrow-vectorized
      exact scan (:func:`_cosine_topk_seed_scan`) — each query row's
      top-k completes inside its own Arrow batch, no pair rows ever
      materialize. The per-pair JVM expression evaluator is NOT viable
      on this path: a 64-term dot chain exceeds the JIT method budget
      and falls back to interpreted bytecode (~14 µs/pair measured);
      the numpy fold is ~100x faster and bit-identical (same fold
      order, IEEE doubles both sides)."""
    q_vec_col = q_vec_col or vec_col
    q_id_col = q_id_col or id_col
    if broadcast_corpus:
        return _cosine_topk_seed_scan(corpus, queries, k, vec_col=vec_col,
                                      id_col=id_col, q_vec_col=q_vec_col,
                                      q_id_col=q_id_col)
    q = queries.select(F.col(q_id_col).alias("query_id"),
                       F.col(q_vec_col).alias("qv"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("cv"))
    if q.schema["query_id"].dataType == c.schema["neighbor_id"].dataType:
        qt, ct = _collect_pairs_bounded(q, c)
        if qt is not None:
            local = _topk_local(q.sparkSession, qt, ct, k)
            if local is not None:
                return local
    joined = (c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
              .withColumn("cosine", F.round(cosine(F.col("qv"), F.col("cv")), 6)))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (joined.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank"))


def _collect_pairs_bounded(q: DataFrame, c: DataFrame):
    """The default top-k's queries ``q`` (query_id, qv) and corpus ``c``
    (neighbor_id, cv) as pyarrow Tables when their |Q| x |C| pairs fit
    ``util.DRIVER_ROWS``, else ``(None, None)``. A capped collect counts
    rows, not pairs, so the caps follow the pairs: one collect of both
    sides capped at 2·isqrt(DRIVER_ROWS) + 1 rows settles the common
    small case in one job; when it overflows, the queries are collected
    capped at DRIVER_ROWS + 1 and then the corpus capped at
    DRIVER_ROWS // |Q| + 1. A call past the bound so collects at most
    2·isqrt(DRIVER_ROWS) + |Q| + DRIVER_ROWS // |Q| + 3 rows."""
    import math

    probe = 2 * math.isqrt(util.DRIVER_ROWS) + 1
    both = (q.select(F.lit(True).alias("is_q"), "query_id", "qv")
            .union(c.select(F.lit(False), "neighbor_id", "cv"))
            .limit(probe + 1).toArrow())
    if both.num_rows <= probe:
        is_q = both["is_q"]
        qt = both.filter(is_q).drop(["is_q"])
        ct = both.filter(pc.invert(is_q)).drop(["is_q"]) \
            .rename_columns(["neighbor_id", "cv"])
    else:
        qt = q.limit(util.DRIVER_ROWS + 1).toArrow()
        if not util.fits_driver(qt.num_rows):
            return None, None
        ct = c.limit(util.DRIVER_ROWS // max(qt.num_rows, 1) + 1).toArrow()
    if not util.fits_driver(qt.num_rows * ct.num_rows):
        return None, None
    return qt, ct


def _fold_dot(A, B):
    """All-pairs dot products in the exact left-fold order per element:
    acc starts at 0.0 like the expression path's F.lit(0.0) seed."""
    import numpy as np

    acc = np.zeros((A.shape[0], B.shape[0]))
    for i in range(A.shape[1]):
        acc = acc + np.multiply.outer(A[:, i], B[:, i])
    return acc


def _fold_norm(A):
    import numpy as np

    acc = np.zeros(A.shape[0])
    for i in range(A.shape[1]):
        acc = acc + A[:, i] * A[:, i]
    return np.sqrt(acc)


def _topk_candidates(qids, Q, cids, C, cnorm, k: int, qlabels=None,
                     clabels=None):
    """(query index, corpus index, raw cosine) of every pair whose raw
    cosine can still reach its query's rounded top-k: the kth largest
    non-NaN raw minus a 2.5e-6 margin (wider than one rounding step),
    plus every NaN (a zero vector's), which the callers' Arrow hand-off
    turns into a null cosine that ranks last. Pairs with equal ids are
    excluded, and with labels (SQL ``la != lb``) pairs with equal labels
    or a null on either side."""
    import numpy as np
    import pandas as pd

    with np.errstate(invalid="ignore", divide="ignore"):
        S = _fold_dot(Q, C) / np.multiply.outer(_fold_norm(Q), cnorm)
    mask = qids[:, None] == cids[None, :]
    if clabels is not None:
        mask = (mask | (qlabels[:, None] == clabels[None, :])
                | pd.isna(qlabels)[:, None] | pd.isna(clabels)[None, :])
    nan = np.isnan(S)
    Sm = np.where(mask | nan, -np.inf, S)
    n_cand, kk = Sm.shape[1], min(k, C.shape[0])
    if n_cand > kk:
        kth = np.partition(Sm, n_cand - kk, axis=1)[:, n_cand - kk]
    else:
        kth = np.full(len(qids), -np.inf)
    keep = (~mask) & ((Sm >= kth[:, None] - 2.5e-6) | nan)
    qi, ci = np.nonzero(keep)
    return qi, ci, S[qi, ci]


def _matrix(vectors):
    """An Arrow list column as a float64 matrix (one row per vector), or
    None when a vector or an element is null or the lengths differ."""
    import numpy as np

    arr = vectors.combine_chunks()
    if arr.null_count or not len(arr):
        return None if arr.null_count else np.zeros((0, 0))
    lengths = pc.list_value_length(arr).to_numpy()
    flat = arr.flatten()
    if flat.null_count or (lengths != lengths[0]).any():
        return None
    return (flat.to_numpy(zero_copy_only=False).astype(np.float64)
            .reshape(len(arr), int(lengths[0])))


def _topk_local(spark, qt, ct, k: int, *,
                labels: bool = False) -> DataFrame | None:
    """Exact top-k on the driver: ``qt`` (query_id, qv[, qlabel]) against
    ``ct`` (neighbor_id, cv[, nlabel]), both pyarrow Tables, with
    ``labels`` meaning the label mask of :func:`_topk_candidates`.
    Candidates come from :func:`_topk_candidates`; their raw cosines go
    into a local frame as the Spark plans' Arrow hand-off has them (NaN
    as null) and are rounded by Spark's ``F.round``, which the optimizer
    folds into the ``LocalRelation`` (so ``collect()`` runs no job); the
    rank, ``(cosine desc, nulls last; neighbor_id asc)``, is the Spark
    window's, taken on the driver. None when an id or vector is null,
    the vector lengths differ or the id types do: the caller's Spark
    plan decides those."""
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import from_arrow_type

    qids, cids = qt["query_id"], ct["neighbor_id"]
    Q, C = _matrix(qt["qv"]), _matrix(ct["cv"])
    if (qids.null_count or cids.null_count or qids.type != cids.type
            or Q is None or C is None
            or (len(Q) and len(C) and Q.shape[1] != C.shape[1])):
        return None
    id_type = from_arrow_type(qids.type)
    out_schema = T.StructType([T.StructField("query_id", id_type),
                               T.StructField("neighbor_id", id_type),
                               T.StructField("cosine", T.DoubleType()),
                               T.StructField("rank", T.IntegerType(),
                                             False)])
    if not len(Q) or not len(C):
        return util.local_frame(spark, [], out_schema)
    qn = qids.to_numpy(zero_copy_only=False)
    cn = cids.to_numpy(zero_copy_only=False)
    lab = ({} if not labels else
           {"qlabels": qt["qlabel"].to_numpy(zero_copy_only=False),
            "clabels": ct["nlabel"].to_numpy(zero_copy_only=False)})
    qi, ci, raw = _topk_candidates(qn, Q, cn, C, _fold_norm(C), k, **lab)
    cand = util.local_frame(spark, pa.table({
        "query_id": qids.take(pa.array(qi)),
        "neighbor_id": cids.take(pa.array(ci)),
        "raw": pa.array(raw, pa.float64(), from_pandas=True)}),
        T.StructType([T.StructField("query_id", id_type),
                      T.StructField("neighbor_id", id_type),
                      T.StructField("raw", T.DoubleType())]))
    by_query: dict = {}
    for qid, nid, cos in cand.select(
            "query_id", "neighbor_id",
            F.round("raw", 6).alias("cosine")).collect():
        by_query.setdefault(qid, []).append((nid, cos))
    rows = []
    for qid, cands in by_query.items():
        cands.sort(key=lambda r: (1, 0.0, r[0]) if r[1] is None
                   else (0, -r[1], r[0]))
        rows.extend((qid, nid, cos, rank)
                    for rank, (nid, cos) in enumerate(cands[:k], 1))
    return util.local_frame(spark, rows, out_schema)


def _cosine_topk_seed_scan(corpus: DataFrame, queries: DataFrame, k: int, *,
                           vec_col: str, id_col: str, q_vec_col: str,
                           q_id_col: str, label_col: str | None = None,
                           q_label_col: str | None = None) -> DataFrame:
    """Exact top-k against a BOUNDED corpus (seed). Bit-exactness
    contract: numpy reproduces the JVM expression fold
    ``((0.0 + q0*c0) + q1*c1) + ...`` per element (IEEE-754 doubles on
    both sides, sqrt correctly rounded), so the raw cosines equal the
    expression path's; ROUNDING STAYS IN SPARK (F.round's BigDecimal
    half-up is not numpy's banker's round). Python pre-selects per query
    every candidate whose raw cosine can still reach the rounded top-k
    (:func:`_topk_candidates`), so the rank runs over ~k+eps rows per
    query.

    Scale shape: seed collect is |seed| x dims floats, one collect
    capped at the driver bound (``util.DRIVER_ROWS``; a larger seed
    raises ValueError). When |seed| x |queries| fits the bound too, the
    queries are collected (capped at ``DRIVER_ROWS // |seed|`` + 1 rows)
    and the top-k finishes on the driver (:func:`_topk_local`). Past
    that, the query side streams through mapInPandas Arrow batches
    partition-parallel with zero shuffle before the final
    (queries x ~k)-row rank in a Spark window.

    ``label_col``/``q_label_col`` (both or neither): additionally
    exclude candidates whose label EQUALS the query row's, or where
    either label is null (SQL ``la != lb`` semantics) — the
    hard-negative-mining constraint (rank among different-label vectors
    only). The mask composes with the self-id mask before the kth-raw
    pre-selection, so excluded candidates can never displace a kept
    one."""
    import numpy as np
    import pandas as pd

    seed_cols = [F.col(id_col).alias("neighbor_id"),
                 F.col(vec_col).alias("cv")]
    if label_col is not None:
        seed_cols.append(F.col(label_col).alias("nlabel"))
    # Arrow keeps null labels as None; a limit runs as one job there
    seed = corpus.select(*seed_cols).limit(util.DRIVER_ROWS + 1).toArrow()
    if not util.fits_driver(seed.num_rows):
        raise ValueError(
            f"seed corpus is larger than the driver bound "
            f"(util.DRIVER_ROWS = {util.DRIVER_ROWS} rows)")
    q_cols = [F.col(q_id_col).alias("query_id"),
              F.col(q_vec_col).alias("qv")]
    if q_label_col is not None:
        q_cols.append(F.col(q_label_col).alias("qlabel"))
    q = queries.select(*q_cols)
    qid_type = q.schema["query_id"].dataType.simpleString()
    nid_type = corpus.select(F.col(id_col).alias("nid")) \
        .schema["nid"].dataType.simpleString()

    if not seed.num_rows:
        empty = queries.sparkSession.createDataFrame(
            [], f"query_id {qid_type}, neighbor_id {nid_type}, "
                f"cosine double, rank int")
        return empty

    m = seed.num_rows
    qt = q.limit(util.DRIVER_ROWS // m + 1).toArrow()
    if util.fits_driver(qt.num_rows * m):
        local = _topk_local(q.sparkSession, qt, seed, k,
                            labels=label_col is not None)
        if local is not None:
            return local

    seed_rows = seed.to_pylist()
    cids = np.array([r["neighbor_id"] for r in seed_rows])
    C = np.array([r["cv"] for r in seed_rows], dtype=np.float64)
    clabels = (np.array([r["nlabel"] for r in seed_rows])
               if label_col is not None else None)
    cnorm = _fold_norm(C)

    def scan(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            Q = np.array([list(v) for v in pdf["qv"]], dtype=np.float64)
            qids = pdf["query_id"].to_numpy()
            qi, ci, raw = _topk_candidates(
                qids, Q, cids, C, cnorm, k,
                qlabels=(pdf["qlabel"].to_numpy() if clabels is not None
                         else None), clabels=clabels)
            yield pd.DataFrame({"query_id": qids[qi],
                                "neighbor_id": cids[ci],
                                "raw_cosine": raw})

    cand = q.mapInPandas(
        scan, schema=f"query_id {qid_type}, neighbor_id {nid_type}, "
                     f"raw_cosine double")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (cand.withColumn("cosine", F.round(F.col("raw_cosine"), 6))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank"))


def _cent_lit(cv) -> "F.Column":
    """A centroid vector as a plan-time array literal."""
    return F.array(*[F.lit(float(x)) for x in cv])


def _cell_sims_expr(vec, centroids) -> "F.Column":
    """Expression-form per-centroid sims (kept as the semantic spec and
    regression-test reference for the vectorized path below)."""
    from vivace_graph_v3_spark.pipeline.dedup import _cosine_fold_expr

    return F.array(*[
        F.struct(_cosine_fold_expr(vec, _cent_lit(cv)).alias("sim"),
                 F.lit(-cid).alias("negid"))
        for cid, cv in enumerate(centroids)])


def _cent_sims_udf(centroids):
    """Arrow-vectorized cosine against every centroid literal in ONE
    kernel pass: bit-identical to ``_cell_sims_expr`` (same per-index
    left-fold rounding), but one ArrowEvalPython node instead of
    |centroids| interpreted folds per row (guide §4.2). The centroid
    matrix is closed over — nothing ships per row."""
    import numpy as np
    import pandas as pd

    C = np.array([[float(x) for x in cv] for cv in centroids])

    def sims(v):
        n = len(v)
        if n == 0:
            return pd.Series([], dtype=object)
        A = np.array([np.asarray(x, dtype=np.float64) for x in v])
        acc = np.zeros((len(A), C.shape[0]))
        na = np.zeros(len(A))
        cn = np.zeros(C.shape[0])
        for i in range(C.shape[1]):
            acc = acc + A[:, i, None] * C[None, :, i]
            na = na + A[:, i] * A[:, i]
            cn = cn + C[:, i] * C[:, i]
        S = acc / (np.sqrt(na)[:, None] * np.sqrt(cn)[None, :])
        return pd.Series(list(S))

    sims.__annotations__ = {"v": pd.Series, "return": pd.Series}
    return F.pandas_udf(sims, "array<double>")


def _cell_sims(vec, centroids) -> "F.Column":
    """array<struct<sim, negid>> of cosine(vec, centroid) per centroid —
    one Arrow kernel pass per row (see _cent_sims_udf), zero joins, zero
    shuffle. negid makes struct-max/sort break sim ties toward the
    LOWEST centroid_id."""
    sims = _cent_sims_udf(centroids)(vec)
    return F.array(*[
        F.struct(F.element_at(sims, cid + 1).alias("sim"),
                 F.lit(-cid).alias("negid"))
        for cid in range(len(centroids))])


def nearest_centroid(vec, centroids) -> "F.Column":
    """Expression argmax over the centroid literals: array_max on
    (sim, -centroid_id) structs. Replaces the old broadcast-join +
    row_number window (which fanned every corpus row out x num_centroids
    and shuffled it back) with a per-row expression — zero fan-out,
    zero shuffle, stays inside whole-stage codegen."""
    return (-F.array_max(_cell_sims(vec, centroids))["negid"]).cast("int")


def train_centroids(corpus: DataFrame, num_centroids: int, *,
                    vec_col: str = "embedding", id_col: str = "vec_id",
                    iterations: int = 2) -> list[list[float]]:
    """k-means-lite, an INGEST-time step: deterministic seed sample (lowest
    ids) + Lloyd iterations. Returns the centroids as a driver-side list
    (num_centroids x dim floats — bytes, not data) so downstream assignment
    and probing are pure plan-time literals.

    Each Lloyd step is one groupBy with ``dim`` per-position means,
    accumulated in DECIMAL so the result is independent of partition/merge
    order (a float sum would make the trained centroids — and therefore the
    measured recall of a fixture — vary with cluster parallelism)."""
    seeds = (corpus.orderBy(F.col(id_col)).limit(num_centroids)
             .select(F.col(vec_col).alias("cv")).collect())
    cents = [list(r["cv"]) for r in seeds]
    dim = len(cents[0])
    for _ in range(iterations):
        means = (corpus
                 .select(nearest_centroid(F.col(vec_col), cents).alias("cid"),
                         F.col(vec_col).alias("v"))
                 .groupBy("cid")
                 .agg(*[F.avg(F.col("v")[i].cast("decimal(28,12)"))
                        .cast("double").alias(f"x{i}") for i in range(dim)])
                 .collect())
        by_cid = {r["cid"]: [r[f"x{i}"] for i in range(dim)] for r in means}
        # empty cells keep their previous centroid
        cents = [by_cid.get(cid, cv) for cid, cv in enumerate(cents)]
    return [[float(x) for x in cv] for cv in cents]


def ivf_index(corpus: DataFrame, num_centroids: int = 16, *,
              vec_col: str = "embedding", id_col: str = "vec_id",
              iterations: int = 1) -> tuple[DataFrame, list[list[float]]]:
    """INGEST-time half of IVF: train centroids and stamp every corpus row
    with its nearest centroid_id (a per-row expression — no join, no
    shuffle). At 100 TB the returned frame is written out partitioned by
    ``centroid_id`` so each probe is a partition-pruned scan; the centroid
    list (KB) ships in the query plan."""
    cents = train_centroids(corpus, num_centroids, vec_col=vec_col,
                            id_col=id_col, iterations=iterations)
    indexed = corpus.withColumn(
        "centroid_id", nearest_centroid(F.col(vec_col), cents))
    return indexed, cents


def ivf_probe(indexed: DataFrame, centroids: list[list[float]],
              queries: DataFrame, k: int, *, nprobe: int = 4,
              vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """QUERY-time half of IVF: rank centroid cells per query with the same
    literal-expression sims (query side only — the corpus is never
    expanded), explode the top-``nprobe`` cells, equi-join on centroid_id
    (partition-pruned against an indexed corpus), exact re-rank."""
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("qv"))
    # top-nprobe cells: sort the per-centroid sim structs descending
    # (struct order: sim asc, negid asc -> reverse = sim desc, cid asc)
    probes = (q.select(
        "query_id", "qv",
        F.explode(F.slice(F.reverse(F.array_sort(
            _cell_sims(F.col("qv"), centroids))), 1, nprobe)).alias("cell"))
        .select("query_id", "qv",
                (-F.col("cell.negid")).cast("int").alias("centroid_id")))

    cells = indexed.select(F.col(id_col).alias("neighbor_id"),
                           F.col(vec_col).alias("cv2"), "centroid_id")
    cand = (probes.join(cells, "centroid_id")
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .withColumn("cosine",
                        F.round(cosine(F.col("qv"), F.col("cv2")), 6)))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                               F.col("neighbor_id").asc())
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank"))


def ivf_ann_topk(corpus: DataFrame, queries: DataFrame, k: int, *,
                 num_centroids: int = 16, nprobe: int = 4,
                 vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Convenience wrapper: ``ivf_index`` (ingest-time at scale) then
    ``ivf_probe``. Kept for tests/small jobs; scale deployments call the
    halves separately and persist the indexed corpus between them."""
    indexed, cents = ivf_index(corpus, num_centroids, vec_col=vec_col,
                               id_col=id_col, iterations=1)
    return ivf_probe(indexed, cents, queries, k, nprobe=nprobe,
                     vec_col=vec_col, id_col=id_col)


def _lsh_buckets_expr(vec_col: str, planes):
    """Expression-form packed sign buckets (kept as the semantic spec and
    regression-test reference for the vectorized path below)."""
    num_tables, num_bits, _dim = planes.shape
    tables = []
    for t in range(num_tables):
        bucket = F.lit(0)
        for b in range(num_bits):
            r = F.array(*[F.lit(float(x)) for x in planes[t, b]])
            dot = F.aggregate(
                F.zip_with(F.col(vec_col), r, lambda x, y: x * y),
                F.lit(0.0), lambda acc, x: acc + x)
            bucket = bucket + F.when(dot >= 0, F.lit(1 << b)).otherwise(F.lit(0))
        tables.append(bucket.cast("int"))
    return F.array(*tables)


def _lsh_buckets_udf(planes):
    """Arrow-vectorized LSH bucket signatures: bit-identical to
    ``_lsh_buckets_expr`` (same per-index left-fold rounding, same
    ``dot >= 0`` sign convention), one kernel pass for all
    tables x bits instead of that many interpreted folds per row
    (guide §4.2). Returns array<int> of the per-table buckets."""
    import numpy as np
    import pandas as pd

    num_tables, num_bits, dim = planes.shape
    W = np.array([[float(x) for x in planes[t, b]]
                  for t in range(num_tables)
                  for b in range(num_bits)])       # (tables*bits, dim)

    def buckets(v):
        n = len(v)
        if n == 0:
            return pd.Series([], dtype=object)
        A = np.array([np.asarray(x, dtype=np.float64) for x in v])
        acc = np.zeros((len(A), W.shape[0]))
        for i in range(dim):
            acc = acc + A[:, i, None] * W[None, :, i]
        bits = acc >= 0
        out = np.zeros((len(A), num_tables), dtype=np.int32)
        for t in range(num_tables):
            for b in range(num_bits):
                out[:, t] |= (bits[:, t * num_bits + b]
                              .astype(np.int32) << b)
        return pd.Series(list(out))

    buckets.__annotations__ = {"v": pd.Series, "return": pd.Series}
    return F.pandas_udf(buckets, "array<int>")


def _lsh_buckets(df: DataFrame, planes, *, vec_col: str, id_col: str,
                 out_id: str) -> DataFrame:
    """(id, table, bucket) per input row: bucket = packed sign bits of the
    row's dot products with that table's hyperplanes (one Arrow kernel
    pass per row, see _lsh_buckets_udf). Plane coefficients are closed
    over driver-side — no Python hashing per row beyond the vector
    passes, no shuffle added."""
    return (df.select(F.col(id_col).alias(out_id), F.col(vec_col).alias("__v"),
                      F.posexplode(_lsh_buckets_udf(planes)(F.col(vec_col)))
                      .alias("table", "bucket"))
            .select(out_id, "__v", "table", "bucket"))


def lsh_ann_topk(corpus: DataFrame, queries: DataFrame, k: int, *,
                 num_tables: int = 12, num_bits: int = 6, multiprobe: int = 1,
                 seed: int = 42,
                 vec_col: str = "embedding", id_col: str = "vec_id",
                 dim: int | None = None) -> DataFrame:
    """Random-hyperplane (sign) LSH ANN — the bucketed alternative to IVF:
    two rows collide in a table iff all ``num_bits`` sign bits agree
    (P = (1 - theta/pi)^bits per table), so candidate generation is a hash
    EQUI-join on (table, bucket) — at 100 TB, corpus bucket columns are
    stamped at ingest and the corpus is bucketed by (table, bucket), making
    each query a partition-local probe with no corpus shuffle (the same
    write-time trade as IVF's centroid assignment). ``multiprobe=r`` also
    probes every bucket within r sign-flips (query-side only — the corpus
    is never expanded), trading probe fan-out for recall exactly like
    classic multi-probe LSH; 0 disables probing."""
    import itertools

    import numpy as np

    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    planes = np.random.RandomState(seed).normal(size=(num_tables, num_bits, dim))

    c = _lsh_buckets(corpus, planes, vec_col=vec_col, id_col=id_col,
                     out_id="neighbor_id").withColumnRenamed("__v", "cv2")
    q = _lsh_buckets(queries, planes, vec_col=vec_col, id_col=id_col,
                     out_id="query_id").withColumnRenamed("__v", "qv")
    if multiprobe > 0:
        # all perturbation masks with <= multiprobe bits set (plan-time
        # literals: C(num_bits, <=r) masks, e.g. 22 for 6 bits at r=2)
        masks = [0] + [
            sum(1 << b for b in combo)
            for r in range(1, multiprobe + 1)
            for combo in itertools.combinations(range(num_bits), r)]
        flips = F.array(*[F.lit(m) for m in masks])
        q = (q.select("query_id", "qv", "table",
                      F.explode(F.transform(
                          flips, lambda m: F.col("bucket").bitwiseXOR(m)))
                      .alias("bucket")))

    cand = (q.join(c, ["table", "bucket"])
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "qv", "neighbor_id", "cv2")
            .dropDuplicates(["query_id", "neighbor_id"])
            .withColumn("cosine", F.round(cosine(F.col("qv"), F.col("cv2")), 6)))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                               F.col("neighbor_id").asc())
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank"))


def label_centroid_outliers(emb: DataFrame, *, vec_col: str = "embedding",
                            id_col: str = "vec_id",
                            label_col: str = "label",
                            outlier_pct: int = 5) -> DataFrame:
    """Per-class embedding outlier pruning — the semantic-curation pass
    that drops mislabeled / off-distribution vectors before training
    (the prototype-distance heuristic of SemDeDup-class pipelines,
    Abbas et al. 2023; Sorscher et al. 2022 prototypicality): each
    vector's squared L2 distance to its label centroid, with the top
    ``outlier_pct`` percent most distant per label flagged. Returns
    (vec_id, label, dist2, is_outlier).

    Engine-stable numerics: the centroid is an exact DECIMAL(38,12)
    per-dimension sum divided once in double; per-element squared diffs
    are pure IEEE doubles; the per-vector sum re-accumulates in decimal
    (order-independent), so both engines compute bit-identical distances.
    The flag is all-integer: rank*100 <= count*pct over the ROUNDED
    distance with id tie-break.

    Scale shape: centroids are |labels| x dims rows (tiny) and broadcast
    back; the per-vector re-aggregate shuffles on vec_id with map-side
    combine. The flag window hash-partitions by label — the exact
    formulation; at extreme per-label cardinality swap the rank for an
    approx_percentile threshold broadcast (the flag then tolerates sketch
    error at the boundary), keeping everything else unchanged."""
    e = emb.select(F.col(id_col).alias("vec_id"),
                   F.col(label_col).alias("label"),
                   F.posexplode(F.col(vec_col)).alias("pos", "x"))
    cent = (e.groupBy("label", "pos")
            .agg((F.sum(F.col("x").cast("decimal(38,12)")).cast("double")
                  / F.count(F.lit(1))).alias("c")))
    diff = F.col("x").cast("double") - F.col("c")
    # dist2 rounds to 4 decimals (the pagerank convention), not 6: the
    # per-element double->decimal casts can land a float that is an odd
    # multiple of 2^-13 on an EXACT half at scale 12, where engines'
    # rounding modes legitimately disagree by 1e-12 — coarse rounding
    # puts the comparison far from any such boundary, and the outlier
    # rank orders on the ROUNDED value (id tie-break), so both engines
    # rank identically
    dists = (e.join(F.broadcast(cent), ["label", "pos"])
             .select("vec_id", "label",
                     (diff * diff).cast("decimal(38,12)").alias("sq"))
             .groupBy("vec_id", "label")
             .agg(F.round(F.sum("sq").cast("double"), 4).alias("dist2")))
    w = Window.partitionBy("label").orderBy(F.col("dist2").desc(),
                                            F.col("vec_id").asc())
    cnt = Window.partitionBy("label")
    return (dists
            .withColumn("is_outlier",
                        F.row_number().over(w) * 100
                        <= F.count(F.lit(1)).over(cnt) * outlier_pct)
            .select("vec_id", "label", "dist2", "is_outlier"))


def quantize_embeddings(emb: DataFrame, *, vec_col: str = "embedding",
                        id_col: str = "vec_id") -> DataFrame:
    """Symmetric per-vector int8 scalar quantization audit — the standard
    compression step before shipping an embedding corpus to an ANN
    service (scale = max|x|/127, q_j = round(x_j/scale) clamped to
    [-127, 127]) — reporting, per vector, the scale and the
    reconstruction MSE in integer NANO-units so the output is
    engine-exact (no float render at all). Returns
    (id, scale_nano, mse_nano); all-zero vectors report (0, 0).

    Scale shape: a single map-only expression fold per row; no shuffle,
    no UDF — quantizing 100 TB of vectors runs at scan speed.

    Exactness: the per-dimension residual d is quantized to integer
    nano units BEFORE squaring (d_nano = floor(d*1e9 + 0.5), a chain of
    correctly-rounded double ops both engines share), and everything
    downstream is exact BIGINT arithmetic:
    mse_nano = (2·Σ d_nano² + dim·1e9) div (2·dim·1e9). The earlier
    formulation summed (d·d)::DECIMAL(38,12) — but a double→decimal
    cast is NOT cross-engine stable in the last place (Spark converts
    via the shortest decimal repr, DuckDB via the exact binary
    expansion), and the accumulated 1-ulp dust flipped 4 vectors'
    floor(·+0.5) at sf0.1 (caught by the r7 sf0.1 oracle sweep).
    Rounding is floor(x + 0.5) (half-up, IEEE-deterministic in every
    engine) rather than round(), whose half-even vs half-up
    conventions differ across engines."""
    xs = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    amax = F.array_max(F.transform(xs, F.abs))
    scale = amax / F.lit(127.0)

    def term(x):
        q = F.least(F.greatest(F.floor(x / scale + F.lit(0.5))
                               .cast("double"),
                               F.lit(-127.0)), F.lit(127.0))
        d = x - q * scale
        dn = F.floor(d * F.lit(1e9) + F.lit(0.5)).cast("long")
        return dn * dn

    # |d| <= scale/2 < amax: for unit-norm-ish embeddings d_nano stays
    # ~1e7, so dim terms of d_nano^2 sit far below int64 — exact
    errsum = F.aggregate(xs, F.lit(0).cast("long"),
                         lambda acc, x: acc + term(x))
    sc = F.when(amax > 0, scale).otherwise(F.lit(0.0))
    base = emb.select(
        F.col(id_col),
        F.floor(sc * F.lit(1e9) + F.lit(0.5)).cast("long")
        .alias("scale_nano"),
        F.when(amax > 0, errsum).otherwise(F.lit(0)).alias("__es"),
        F.size(xs).cast("long").alias("__dim"))
    # true integer div — a double quotient cast to long would lose
    # exactness once 2*errsum passes 2^53
    return base.select(
        id_col, "scale_nano",
        F.expr("(2 * __es + __dim * 1000000000) div "
               "(2 * __dim * 1000000000)").cast("long")
        .alias("mse_nano"))


def hard_negatives(emb: DataFrame, *, k: int = 3,
                   vec_col: str = "embedding", id_col: str = "vec_id",
                   label_col: str = "label") -> DataFrame:
    """Contrastive hard-negative mining: for every anchor, the ``k`` most
    cosine-similar vectors carrying a DIFFERENT label — the pairs that
    actually move a contrastive/metric-learning loss (easy random
    negatives are near-zero gradient). Returns
    (anchor_id, negative_id, cosine, rank) with deterministic
    (cosine desc, id) tie-break; cosines 6-dp rounded.

    This is the EXACT formulation for bounded inputs (the corpus side is
    collected as the seed matrix — the same bounded-input contract the
    all-pairs join carried); the 100 TB path swaps the pair generator for
    the sign-LSH candidate join (embedding_dup_pairs' blocking) and ranks
    within candidates: same downstream ranking, pair volume bounded by
    bucket collisions instead of n².

    Shape: one label-masked Arrow seed scan (_cosine_topk_seed_scan) —
    each anchor's top-k resolves inside its Arrow batch; no n² pair rows
    ever materialize, where the previous nested-loop join streamed every
    pair through the cosine kernel and a full per-anchor window sort.
    Values bit-identical: same fold-order raw cosines, rounding and the
    (cosine desc, id asc) rank stay in Spark."""
    out = _cosine_topk_seed_scan(emb, emb, k, vec_col=vec_col,
                                 id_col=id_col, q_vec_col=vec_col,
                                 q_id_col=id_col, label_col=label_col,
                                 q_label_col=label_col)
    return out.select(F.col("query_id").alias("anchor_id"),
                      F.col("neighbor_id").alias("negative_id"),
                      "cosine", "rank")


# -- product quantization -------------------------------------------------------

def pq_encode(corpus: DataFrame, *, vec_col: str = "embedding",
              id_col: str = "vec_id", num_blocks: int = 4,
              codebook: list[list[float]] | None = None,
              codebook_size: int = 16) -> DataFrame:
    """Product quantization (Jégou, Douze, Schmid 2011, "Product
    Quantization for Nearest Neighbor Search"): split the D-dim vector
    into ``num_blocks`` contiguous sub-vectors and replace each with the
    id of its nearest codeword — a 64-dim float32 vector compresses to
    ``num_blocks`` bytes, the standard memory layout under IVF at
    billion-vector scale (IVF-PQ).

    ``codebook`` is a list of full-dim codeword vectors (each block uses
    its slice). Default: the vectors of the first ``codebook_size`` ids —
    a deterministic sample; deployments swap in per-block k-means
    codewords through the same mechanism (train once at ingest, inline as
    plan-time literals at encode, exactly the ivf_index seam).

    Scale shape: encoding is a pure per-row argmin over the codeword
    literals (one Arrow kernel pass, see _pq_encode_udf) — zero joins,
    zero shuffle, map-only over the corpus (the write-time pass at
    100 TB). Squared-L2 distances fold left-to-right per sub-vector, so
    the doubles are bit-determined cross-engine. Returns (id, code_0..code_{B-1}, err) with err = total
    squared reconstruction error, 6-dp floor(x*1e6+0.5) rounded."""
    if codebook is None:
        rows = (corpus.filter(F.col(id_col) < codebook_size)
                .orderBy(id_col).select(vec_col).collect())
        codebook = [list(r[0]) for r in rows]
    dim = len(codebook[0])
    if dim % num_blocks:
        raise ValueError(f"dim {dim} not divisible into {num_blocks} blocks")
    blen = dim // num_blocks

    return corpus.select(
        F.col(id_col),
        _pq_encode_udf(codebook, num_blocks, blen)(F.col(vec_col))
        .alias("__pq")).select(id_col, "__pq.*")


def _pq_encode_expr(vec_col: str, codebook, num_blocks: int, blen: int):
    """Expression-form PQ encode (kept as the semantic spec and
    regression-test reference for the vectorized kernel): per block an
    array_min over (left-fold squared-L2, code) structs, err = the
    sequential block-distance sum, 6-dp floor-half-up rounded. Returns
    the list of (code_0..code_{B-1}, err) columns."""
    def _sq_dist(sub, lit_vals):
        lit_arr = F.array(*[F.lit(float(x)) for x in lit_vals])
        return F.aggregate(
            F.zip_with(sub, lit_arr, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, x: acc + x)

    out_cols = []
    err = F.lit(0.0)
    for b in range(num_blocks):
        sub = F.transform(F.slice(F.col(vec_col), b * blen + 1, blen),
                          lambda x: x.cast("double"))
        cands = F.array(*[
            F.struct(_sq_dist(sub, cw[b * blen:(b + 1) * blen]).alias("d"),
                     F.lit(code).alias("code"))
            for code, cw in enumerate(codebook)])
        best = F.array_min(cands)     # struct order: dist asc, code asc
        out_cols.append(best.getField("code").alias(f"code_{b}"))
        err = err + best.getField("d")
    err6 = (F.floor(err * F.lit(1000000.0) + F.lit(0.5)).cast("double")
            / F.lit(1000000.0))
    return out_cols + [err6.alias("err")]


def _pq_encode_udf(codebook, num_blocks: int, blen: int):
    """Arrow-vectorized PQ encode: bit-identical to ``_pq_encode_expr``
    — same per-index (a-b)^2 left folds, first-minimum argmin (== the
    struct-min lowest-code tie-break), sequential err accumulation and
    floor-half-up rounding (np.floor of a LONG-ranged double equals
    Spark's floor-then-cast) — but one kernel pass instead of
    blocks x codebook interpreted folds per row (guide §4.2). Returns
    struct<code_0..code_{B-1} int, err double>."""
    import numpy as np
    import pandas as pd

    CB = np.array([[float(x) for x in cw] for cw in codebook])

    def enc(v):
        n = len(v)
        cols = {f"code_{b}": np.zeros(0, dtype=np.int32)
                for b in range(num_blocks)}
        if n == 0:
            return pd.DataFrame({**cols, "err": np.zeros(0)})
        A = np.array([np.asarray(x, dtype=np.float64) for x in v])
        codes = np.zeros((len(A), num_blocks), dtype=np.int32)
        err = np.zeros(len(A))
        for b in range(num_blocks):
            sub = A[:, b * blen:(b + 1) * blen]
            cw = CB[:, b * blen:(b + 1) * blen]
            d = np.zeros((len(A), CB.shape[0]))
            for i in range(blen):
                t = sub[:, i, None] - cw[None, :, i]
                d = d + t * t
            code = np.argmin(d, axis=1)      # first min = lowest code
            codes[:, b] = code
            err = err + d[np.arange(len(A)), code]
        err6 = np.floor(err * 1000000.0 + 0.5) / 1000000.0
        return pd.DataFrame({**{f"code_{b}": codes[:, b]
                                for b in range(num_blocks)}, "err": err6})

    enc.__annotations__ = {"v": pd.Series, "return": pd.DataFrame}
    fields = ", ".join(f"code_{b} int" for b in range(num_blocks))
    return F.pandas_udf(enc, f"{fields}, err double")


def dim_truncation_recall(emb: DataFrame, *, n_queries: int = 20, k: int = 10,
                          dims: int = 16, vec_col: str = "embedding",
                          id_col: str = "vec_id") -> DataFrame:
    """Matryoshka-style truncation evaluation (Kusupati et al. 2022): how
    much of the exact full-dimension cosine top-k survives when vectors
    are truncated to their first ``dims`` coordinates — the measurement a
    pipeline runs before switching storage/recall tiers to shorter
    vectors. Returns one row per query (query_id, n_overlap) with
    n_overlap in [0, k].

    Exactness: both rankings use the round-6 cosine + id tie-break
    discipline of cosine_topk_bruteforce, so an SQL oracle reproduces
    them bit-for-bit; the overlap count is a pure set intersection.

    Scale shape: two broadcast-query brute-force passes (the corpus never
    shuffles) + a k-row-per-query join. At 100 TB the same measurement
    runs on a deterministic corpus sample — the estimate needs thousands
    of rows, not the corpus."""
    queries = emb.filter(F.col(id_col) < n_queries)
    full = cosine_topk_bruteforce(emb, queries, k=k,
                                  vec_col=vec_col, id_col=id_col)
    tcorp = emb.withColumn(vec_col, F.slice(F.col(vec_col), 1, dims))
    tq = queries.withColumn(vec_col, F.slice(F.col(vec_col), 1, dims))
    trunc = (cosine_topk_bruteforce(tcorp, tq, k=k,
                                    vec_col=vec_col, id_col=id_col)
             .select("query_id", "neighbor_id", F.lit(1).alias("hit")))
    return (full.select("query_id", "neighbor_id")
            .join(trunc, ["query_id", "neighbor_id"], "left")
            .groupBy("query_id")
            .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long")
                 .alias("n_overlap")))


def knn_classify(labeled: DataFrame, unlabeled: DataFrame, *, k: int = 5,
                 vec_col: str = "embedding", id_col: str = "vec_id",
                 label_col: str = "label") -> DataFrame:
    """Semi-supervised kNN label propagation: classify each unlabeled
    embedding by MAJORITY VOTE of its k nearest labeled neighbors by
    cosine — the standard silver-labeling step when a small hand-labeled
    seed set must be spread over a large unlabeled corpus (and the eval
    harness for embedding quality: label agreement of held-out points).

    Votes tie-break deterministically: higher count first, then the
    lexicographically smaller label. Exactness: cosine rounded to 6
    (the cross-engine recipe), rank ties by neighbor id.

    Scale shape: the LABELED side is the bounded one (a hand-labeled
    seed), so this uses cosine_topk_bruteforce's seed-broadcast Arrow
    scan — the unlabeled corpus streams through partition-parallel
    batches with zero shuffle before the k-row-per-query rank; for
    seed sets too big to broadcast, run the same vote fold over
    lsh_ann_topk/ivf_probe candidates instead — the vote aggregation
    below is generator-agnostic (k rows per query either way)."""
    nn = cosine_topk_bruteforce(labeled, unlabeled, k,
                                vec_col=vec_col, id_col=id_col,
                                broadcast_corpus=True)
    lab = labeled.select(F.col(id_col).alias("neighbor_id"),
                         F.col(label_col).alias("nl"))
    votes = (nn.join(lab, "neighbor_id")
             .groupBy("query_id", "nl")
             .agg(F.count(F.lit(1)).alias("votes")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("nl").asc())
    return (votes.withColumn("r", F.row_number().over(w))
            .filter(F.col("r") == 1)
            .select(F.col("query_id").alias(id_col),
                    F.col("nl").alias("pred_label"),
                    F.col("votes").cast("long").alias("votes")))


def centroid_drift(emb: DataFrame, *, vec_col: str = "embedding",
                   id_col: str = "vec_id",
                   label_col: str = "label") -> DataFrame:
    """Per-label embedding centroid drift between two deterministic
    halves of the corpus (even vs odd ids): cosine similarity of the
    two mean vectors — the embedding-space stability monitor (a label
    whose halves disagree marks a drifting / heterogeneous class, the
    check run before trusting per-label centroids for outlier pruning
    or IVF seeding).

    Exactness: per-dimension sums accumulate in DECIMAL(38,12) over a
    posexplode (order-independent), means divide in doubles, and the
    closing cosine folds the (label x dim)-bounded mean table with one
    more decimal accumulation, rounded to 6 — the cross-engine recipe.

    Scale shape: ONE corpus pass to (label, half, dim) sums —
    map-side-combined, dims-bounded state; everything downstream is
    |labels| x dims rows."""
    half = (F.col(id_col) % 2 == 0)
    exploded = (emb.select(F.col(label_col).alias("lbl"),
                           half.alias("even"),
                           F.posexplode(F.col(vec_col))
                           .alias("dim", "x")))
    # float -> DOUBLE first (exact widening), THEN decimal: a direct
    # float->decimal cast could round differently across engines
    sums = (exploded.groupBy("lbl", "even", "dim")
            .agg(F.sum(F.col("x").cast("double").cast("decimal(38,12)"))
                 .alias("s"),
                 F.count(F.lit(1)).alias("c")))
    means = sums.select("lbl", "even", "dim",
                        (F.col("s").cast("double") / F.col("c"))
                        .alias("m"))
    a = (means.filter(F.col("even")).select(
        "lbl", "dim", F.col("m").alias("ma")))
    b = (means.filter(~F.col("even")).select(
        "lbl", "dim", F.col("m").alias("mb")))
    j = a.join(b, ["lbl", "dim"])
    agg = (j.groupBy("lbl")
           .agg(F.sum((F.col("ma") * F.col("mb")).cast("decimal(38,12)"))
                .cast("double").alias("dot"),
                F.sum((F.col("ma") * F.col("ma")).cast("decimal(38,12)"))
                .cast("double").alias("na"),
                F.sum((F.col("mb") * F.col("mb")).cast("decimal(38,12)"))
                .cast("double").alias("nb")))
    cos = F.round(F.col("dot") / (F.sqrt("na") * F.sqrt("nb")), 6)
    return (agg.select(F.col("lbl").alias(label_col),
                       cos.alias("centroid_cosine"))
            .filter(F.col("centroid_cosine").isNotNull()))


def embedding_dim_stats(emb: DataFrame, *, vec_col: str = "embedding",
                        var_floor_micro: int = 100) -> DataFrame:
    """Per-dimension embedding health: n, mean, population variance, and
    a degenerate flag for near-zero-variance dimensions (a collapsed or
    constant dimension wastes index capacity and distorts cosine — the
    standard pre-index whitening/pruning check).

    Exactness: float values widen to DOUBLE (exact) before
    DECIMAL(38,12) accumulation of sum and sum-of-squares
    (order-independent); mean and var = E[x^2] - E[x]^2 fold in doubles
    and round to 6 — the cross-engine recipe. One corpus pass,
    dims-bounded state."""
    exploded = emb.select(F.posexplode(F.col(vec_col)).alias("dim", "x"))
    xd = F.col("x").cast("double")
    sums = (exploded.groupBy("dim")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(xd.cast("decimal(38,12)")).alias("s"),
                 F.sum((xd * xd).cast("decimal(38,12)")).alias("ss")))
    mean = F.col("s").cast("double") / F.col("n")
    var = F.col("ss").cast("double") / F.col("n") - mean * mean
    return (sums.select(F.col("dim").cast("long").alias("dim"),
                        F.col("n").cast("long").alias("n"),
                        F.round(mean, 6).alias("mean"),
                        F.round(var, 6).alias("var"))
            .withColumn("degenerate",
                        F.col("var") * 1_000_000 < F.lit(var_floor_micro)))


def embedding_covariance(emb: DataFrame, *, vec_col: str = "embedding",
                         dims: int = 8) -> DataFrame:
    """Covariance matrix of the first ``dims`` embedding dimensions
    (upper triangle incl. the variance diagonal) — the input to
    whitening / ZCA and the correlated-dimension audit that
    embedding_dim_stats' per-dim marginals can't see.

    Exactness: float values widen to DOUBLE (exact); each per-row
    product x_i*x_j is one correctly-rounded double op; products and
    marginals accumulate in DECIMAL(38,12) (order-independent);
    cov = E[xy] - E[x]E[y] folds in pinned doubles, rounded to 6.

    Scale shape: ONE map-only expansion to dims*(dims+1)/2 terms per row
    followed by a map-side-combined aggregate to a dims^2-bounded frame;
    no joins, no windows."""
    pairs = [(i, j) for i in range(dims) for j in range(i, dims)]
    terms = F.array(*[
        F.struct(F.lit(i).alias("i"), F.lit(j).alias("j"),
                 F.col(vec_col)[i].cast("double").alias("x"),
                 F.col(vec_col)[j].cast("double").alias("y"))
        for i, j in pairs])
    e = emb.select(F.explode(terms).alias("t")).select(
        F.col("t.i").alias("i"), F.col("t.j").alias("j"),
        F.col("t.x").alias("x"), F.col("t.y").alias("y"))
    sums = (e.groupBy("i", "j")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("x").cast("decimal(38,12)")).alias("sx"),
                 F.sum(F.col("y").cast("decimal(38,12)")).alias("sy"),
                 F.sum((F.col("x") * F.col("y")).cast("decimal(38,12)"))
                 .alias("sxy")))
    nd = F.col("n").cast("double")
    cov = (F.col("sxy").cast("double") / nd
           - (F.col("sx").cast("double") / nd)
           * (F.col("sy").cast("double") / nd))
    return sums.select(F.col("i").cast("long").alias("i"),
                       F.col("j").cast("long").alias("j"),
                       F.col("n").cast("long").alias("n"),
                       F.round(cov, 6).alias("cov"))


def ivfpq_probe(indexed_codes: DataFrame, centroids: list[list[float]],
                codebook: list[list[float]], queries: DataFrame, k: int, *,
                nprobe: int = 4, num_blocks: int = 4, rerank: int = 32,
                vec_col: str = "embedding",
                id_col: str = "vec_id") -> DataFrame:
    """IVF-PQ query path (Jégou et al. 2011, the billion-vector layout):
    probe the top-``nprobe`` IVF cells, score candidates by ASYMMETRIC
    DISTANCE (query sub-vectors against the plan-time codeword literals
    of each candidate's PQ codes — the classic ADC lookup, here an
    element_at into a per-block distance array computed once per row),
    keep the best ``rerank`` per query, then exact-cosine re-rank the
    survivors only.

    This is the memory story at scale: the candidate join touches ONLY
    (id, centroid_id, code_0..code_{B-1}) — num_blocks bytes of payload
    per corpus row, never the float vectors; full vectors are fetched
    (id-equi-join) for just ``rerank`` rows per query. Codebook and
    centroids ship as plan-time literals (KBs).

    ``indexed_codes`` = ivf_index output joined with pq_encode output
    (both ingest-time, persisted partitioned by centroid_id in a
    deployment). Returns (query_id, neighbor_id, cosine, rank)."""
    dim = len(codebook[0])
    blen = dim // num_blocks

    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("qv"))
    probes = (q.select(
        "query_id", "qv",
        F.explode(F.slice(F.reverse(F.array_sort(
            _cell_sims(F.col("qv"), centroids))), 1, nprobe)).alias("cell"))
        .select("query_id", "qv",
                (-F.col("cell.negid")).cast("int").alias("centroid_id")))

    def _sq_dist(sub, lit_vals):
        lit_arr = F.array(*[F.lit(float(x)) for x in lit_vals])
        return F.aggregate(
            F.zip_with(sub, lit_arr, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, x: acc + x)

    # per-block ADC lookup tables: dist(query sub-vector, codeword j)
    # for every codeword — one array expression per block, evaluated
    # once per (query, cell) row, then element_at by the candidate's code
    luts = []
    for b in range(num_blocks):
        sub = F.transform(F.slice(F.col("qv"), b * blen + 1, blen),
                          lambda x: x.cast("double"))
        luts.append(F.array(*[
            _sq_dist(sub, cw[b * blen:(b + 1) * blen])
            for cw in codebook]).alias(f"lut_{b}"))
    probes = probes.select("query_id", "qv", "centroid_id", *luts)

    code_cols = [f"code_{b}" for b in range(num_blocks)]
    cands = (probes.join(
        indexed_codes.select(F.col(id_col).alias("neighbor_id"),
                             "centroid_id", *code_cols),
        "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id")))
    adc = None
    for b in range(num_blocks):
        term = F.element_at(F.col(f"lut_{b}"), F.col(f"code_{b}") + 1)
        adc = term if adc is None else adc + term
    # 6-dp half-up rounding + id tiebreak: the ADC ranking (and therefore
    # the rerank candidate set) is engine- and partitioning-exact
    adc6 = F.floor(adc * 1e6 + F.lit(0.5)).cast("long")
    wa = Window.partitionBy("query_id").orderBy(
        adc6.asc(), F.col("neighbor_id").asc())
    short = (cands.withColumn("adc_rank", F.row_number().over(wa))
             .filter(F.col("adc_rank") <= rerank)
             .select("query_id", "qv", "neighbor_id"))
    full = indexed_codes.select(F.col(id_col).alias("neighbor_id"),
                                F.col(vec_col).alias("cv"))
    rer = (short.join(full, "neighbor_id")
           .withColumn("cosine",
                       F.round(cosine(F.col("qv"), F.col("cv")), 6)))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (rer.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank"))


def pair_cosine_audit(emb: DataFrame, *, strides: tuple = (1, 8, 64),
                      id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """Embedding-geometry audit: cosine similarity over DETERMINISTIC
    id-stride pairs (i, i+s) for each stride — a cheap isotropy /
    collapse check (a healthy embedding table shows near-zero mean
    pairwise cosine at every stride; a collapsed or duplicated one shows
    mass near 1; cf. the anisotropy analyses of Ethayarajh 2019). The
    fixed strides replace random sampling so the audit is reproducible
    and oracle-checkable.

    One self-equi-join per stride on id+s (union via a stride explode —
    a single join keyed on the shifted id, never all-pairs). Returns
    (stride, vec_id, cos) with the 6-dp rounding every embedding
    contract uses."""
    from vivace_graph_v3_spark.pipeline.dedup import cosine

    a = emb.select(F.col(id_col).alias("vec_id"),
                   F.col(vec_col).alias("va"))
    a = a.select("vec_id", "va",
                 F.explode(F.array(*[F.lit(s) for s in strides]))
                 .alias("stride"))
    b = emb.select(F.col(id_col).alias("bid"),
                   F.col(vec_col).alias("vb"))
    return (a.join(b, a["vec_id"] + a["stride"] == b["bid"])
            .select("stride", "vec_id",
                    F.round(cosine(F.col("va"), F.col("vb")), 6)
                    .alias("cos")))


def embedding_isotropy(emb: DataFrame, *, vec_col: str = "embedding",
                       id_col: str = "vec_id") -> DataFrame:
    """Isotropy diagnostic of an embedding space (Ethayarajh 2019;
    Mu & Viswanath 2018 'All-but-the-Top'): the norm of the mean UNIT
    vector. Isotropic spaces have mean-unit-norm near 0; a large value
    marks a dominant common direction (the usual cause of cosine
    saturation and poor retrieval contrast). Returns one row:
    (n_vectors, dims, mean_unit_norm, isotropy = 1 - mean_unit_norm).

    Exactness: per-row norms are the cosine fold (left fold of squared
    elements, sqrt); unit components accumulate per dim in
    DECIMAL(38,12) (order-free); the closing norm folds the dims-bounded
    mean table in dim order. Scale: ONE corpus pass to dims-bounded
    state."""
    exploded = (emb.select(F.col(id_col).alias("id"),
                           F.posexplode(F.col(vec_col)).alias("dim", "x"),
                           F.col(vec_col).alias("v")))
    norm = F.sqrt(F.aggregate(
        F.col("v"), F.lit(0.0),
        lambda acc, e: acc + e.cast("double") * e.cast("double")))
    unit = (exploded
            .select("id", "dim",
                    (F.col("x").cast("double") / norm).alias("u")))
    sums = (unit.groupBy("dim")
            .agg(F.sum(F.col("u").cast("decimal(38,12)")).alias("s"),
                 F.count(F.lit(1)).alias("c")))
    means = sums.select("dim", (F.col("s").cast("double")
                                / F.col("c").cast("double")).alias("m"))
    n = emb.agg(F.count(F.lit(1)).alias("n_vectors"),
                F.max(F.size(F.col(vec_col))).alias("dims"))
    fold = F.sqrt(F.aggregate(F.col("ms"), F.lit(0.0),
                              lambda acc, s: acc + s["m"] * s["m"]))
    mean_norm = (means.agg(F.sort_array(
        F.collect_list(F.struct("dim", "m"))).alias("ms"))
        .select(F.round(fold, 6).alias("mean_unit_norm")))
    return (n.crossJoin(mean_norm)
            .select(F.col("n_vectors").cast("long").alias("n_vectors"),
                    F.col("dims").cast("long").alias("dims"),
                    "mean_unit_norm",
                    F.round(F.lit(1.0) - F.col("mean_unit_norm"), 6)
                    .alias("isotropy")))


def knn_shapley_values(emb: DataFrame, *, vec_col: str = "embedding",
                       id_col: str = "vec_id", label_col: str = "label",
                       k: int = 5, n_test: int = 5,
                       top_out: int = 20) -> DataFrame:
    """EXACT data valuation for a KNN classifier (Jia et al. VLDB 2019,
    "Efficient Task-Specific Data Valuation for Nearest Neighbor
    Algorithms"): the Shapley value of every training point has a CLOSED
    FORM for KNN — sort training points by distance to a test point,
    then fold credits from the farthest in:

        s_(N) = 1[y_(N) = y] / N
        s_(i) = s_(i+1) + (1[y_(i)=y] - 1[y_(i+1)=y])/K * min(K, i)/i

    so the usually-intractable Shapley computation becomes one
    sort + one suffix sum per test point — O(N log N), not O(2^N).

    Relationally: ``n_test`` deterministic test points (md5 order), one
    distance join (|test| x |train| rows — linear in the corpus for
    fixed n_test), a rank window per test point (distance, id
    tiebreak), and the suffix sum as a window over per-rank delta terms
    CAST to DECIMAL(38,12) (order-independent accumulation, the
    bigram_logprob discipline) — every double op a fixed mirrored
    expression, so an external engine reproduces each value bit-for-bit.
    Distances are ordered-fold squared L2 on double-cast vectors.

    Returns the ``top_out`` most valuable training points by total
    Shapley value over the test set: (vec_id, label, total_value, rank)
    — the "which training docs matter" table a data-curation loop reads."""
    from vivace_graph_v3_spark.pipeline.dedup import md5_hash64

    e = emb.select(F.col(id_col).alias("id"),
                   F.transform(F.col(vec_col),
                               lambda x: x.cast("double")).alias("v"),
                   F.col(label_col).alias("y"))
    h = md5_hash64(F.col("id").cast("string"))
    ranked = e.withColumn("__h", h)
    test = (ranked.orderBy(F.col("__h").asc(), F.col("id").asc())
            .limit(int(n_test))
            .select(F.col("id").alias("tid"), F.col("v").alias("tv"),
                    F.col("y").alias("ty")))
    train = (ranked.join(test.select(F.col("tid").alias("id")), "id",
                         "left_anti")
             .select("id", "v", "y"))
    dist = F.aggregate(
        F.zip_with(F.col("v"), F.col("tv"),
                   lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x)
    pairs = (train.crossJoin(F.broadcast(test))
             .select("tid", "ty", "id", "y", dist.alias("d")))
    w_rank = Window.partitionBy("tid").orderBy(F.col("d").asc(),
                                               F.col("id").asc())
    r = (pairs.withColumn("i", F.row_number().over(w_rank))
         .withColumn("a", F.when(F.col("y") == F.col("ty"), 1)
                     .otherwise(0)))
    w_n = Window.partitionBy("tid")
    r = (r.withColumn("n", F.max("i").over(w_n))
         .withColumn("a_next", F.lead("a").over(w_rank)))
    # delta_(i) for i < N; the farthest point's base term rides rank N
    delta = ((F.col("a") - F.col("a_next")).cast("double") / F.lit(float(k))
             * (F.least(F.lit(k), F.col("i")).cast("double")
                / F.col("i").cast("double")))
    base = F.col("a").cast("double") / F.col("n").cast("double")
    term = F.when(F.col("i") == F.col("n"), base).otherwise(delta) \
        .cast("decimal(38,12)")
    w_suf = (Window.partitionBy("tid").orderBy("i")
             .rowsBetween(Window.currentRow, Window.unboundedFollowing))
    s = r.withColumn("s", F.sum(term).over(w_suf))
    out = (s.groupBy("id", "y")
           .agg(F.round(F.sum("s").cast("double"), 6).alias("total_value")))
    w_top = Window.orderBy(F.col("total_value").desc(), F.col("id").asc())
    return (out.withColumn("rank", F.row_number().over(w_top))
            .filter(F.col("rank") <= int(top_out))
            .select(F.col("id").alias("vec_id"),
                    F.col("y").cast("long").alias("label"),
                    "total_value",
                    F.col("rank").cast("long").alias("rank")))


def facility_location_select(emb: DataFrame, *, vec_col: str = "embedding",
                             id_col: str = "vec_id", k: int = 10,
                             ground: int = 200) -> DataFrame:
    """Representative-subset selection by greedy FACILITY LOCATION
    (Nemhauser et al. 1978 — the (1 - 1/e)-approximate submodular
    maximizer; the classic coreset/exemplar selection objective:
    maximize sum over the ground set of its best-representative cosine).
    Each greedy round adds the candidate with the largest marginal
    coverage gain sum_t max(sim(c, t) - best(t), 0) — diminishing
    returns make the greedy pick near-optimal, and the gain table makes
    the selection AUDITABLE (why this exemplar, how much coverage it
    added).

    Relational iteration, third paradigm next to the two DPs: a
    ``ground``-size md5-deterministic sample anchors the objective (the
    standard sketch — the ground set bounds ALL state at
    ground^2 pair sims, volume-independent), then k rounds of
    (gain aggregate -> argmax -> coverage update) over that pair frame.
    Gain terms CAST to DECIMAL(38,12) (order-independent sums); cosine
    is the Arrow kernel pinned bit-identical to the ordered-fold
    expression form (dedup.cosine); argmax ties break on id — every
    round is engine-exact, so a SQL oracle replays the greedy
    trajectory bit-for-bit.

    Returns one row per round: (round, vec_id, gain, coverage) with
    coverage the objective value after the pick (6-dp)."""
    from vivace_graph_v3_spark.pipeline.dedup import md5_hash64

    e = emb.select(F.col(id_col).alias("id"),
                   F.transform(F.col(vec_col),
                               lambda x: x.cast("double")).alias("v"))
    g = (e.withColumn("__h", md5_hash64(F.col("id").cast("string")))
         .orderBy(F.col("__h").asc(), F.col("id").asc()).limit(int(ground))
         .select("id", "v"))
    a = g.select(F.col("id").alias("cid"), F.col("v").alias("cv"))
    b = g.select(F.col("id").alias("tid"), F.col("v").alias("tv"))
    # pair sims through the Arrow cosine kernel (dedup.cosine — the same
    # left-fold index order as the expression form, bit-identical doubles;
    # guide §4.2): the old aggregate(zip_with()) dot/norm folds here were
    # CodegenFallback, interpreted per element over ground^2 * dim terms —
    # the dominant cost of the whole selection at any dim
    with util.materialized() as m:
        sims, _ = m.checkpoint(
            a.crossJoin(b)
            .select("cid", "tid", cosine(F.col("cv"), F.col("tv")).alias("sim"))
            .coalesce(1))
        best, _ = m.checkpoint(
            g.select(F.col("id").alias("tid"), F.lit(0.0).alias("best"))
            .coalesce(1))
        picked: list = []
        out_rows = []
        spark = emb.sparkSession
        for rnd in range(1, int(k) + 1):
            cand = sims
            if picked:
                sel = spark.createDataFrame([(p,) for p in picked],
                                            "cid long")
                cand = sims.join(F.broadcast(sel), "cid", "left_anti")
            gains = (cand.join(F.broadcast(best), "tid")
                     .select("cid",
                             F.greatest(F.col("sim") - F.col("best"),
                                        F.lit(0.0))
                             .cast("decimal(38,12)").alias("t"))
                     .groupBy("cid").agg(F.sum("t").alias("gain")))
            top = (gains.orderBy(F.col("gain").desc(), F.col("cid").asc())
                   .limit(1)
                   .select("cid", "gain",
                           F.round(F.col("gain").cast("double"), 6)
                           .alias("gain_r"))
                   .collect()[0])
            picked.append(top["cid"])
            upd = (sims.filter(F.col("cid") == top["cid"])
                   .select("tid", F.col("sim").alias("new")))
            # the coverage sum rides the best-update checkpoint as an
            # observation (fires on the eager checkpoint — same value:
            # the DECIMAL(38,12) sum is order-independent over the same rows),
            # replacing the separate per-round aggregate job: 2 jobs per
            # greedy round instead of 3 (guide §1.2 step 1 / §5)
            ob = Observation()
            best, _ = m.checkpoint(
                best.join(upd, "tid", "left")
                .select("tid",
                        F.greatest(F.col("best"),
                                   F.coalesce(F.col("new"), F.lit(0.0)))
                        .alias("best"))
                .coalesce(1)
                .observe(ob, F.round(F.sum(F.col("best")
                                           .cast("decimal(38,12)"))
                                     .cast("double"), 6).alias("cov")))
            cov = ob.get["cov"]
            out_rows.append((rnd, int(top["cid"]), float(top["gain_r"]),
                             float(cov)))
        return spark.createDataFrame(
            out_rows, "round long, vec_id long, gain double, coverage double")


def binary_signatures(df: DataFrame, *, vec_col: str = "embedding",
                      id_col: str = "vec_id",
                      dims: int = 64) -> DataFrame:
    """Sign-bit binary quantization of an embedding column (the 1-bit
    representation used for Hamming-distance retrieval — 32x smaller
    than float32, distances via XOR+popcount): bit j = vec[j] > 0.
    Packs ``dims`` (<= 64) dimensions into two BIGINT halves using bits
    0..31 of each (bit 63 of one word would need unsigned shifts that
    not every engine spells the same; two halves keep the packing pure
    integer arithmetic everywhere). dims > 64 raises — bits past 63
    would silently wrap in the shift. Both halves are LongType at every
    dims so signature frames built at different widths union cleanly.
    Map-only, expression-only."""
    if not 1 <= dims <= 64:
        raise ValueError(
            f"binary_signatures packs at most 64 dims into two BIGINT "
            f"halves; got dims={dims}")

    def half(lo: int, hi: int) -> F.Column:
        return F.expr(
            f"aggregate(sequence({lo}, {hi - 1}), 0L, (a, i) -> "
            f"a + IF(element_at({vec_col}, i + 1) > 0, "
            f"shiftleft(1L, i - {lo}), 0L))")

    mid = min(32, dims)
    return df.select(
        F.col(id_col).alias("id"),
        half(0, mid).alias("sig_lo"),
        (half(32, dims) if dims > 32
         else F.lit(0).cast("long")).alias("sig_hi"))


def hamming_topk(corpus: DataFrame, queries: DataFrame, k: int, *,
                 vec_col: str = "embedding",
                 id_col: str = "vec_id") -> DataFrame:
    """Exact top-k by Hamming distance over sign-bit binary signatures:
    the binary-embedding retrieval baseline (1-bit quantization, e.g.
    Jegou et al.'s binary codes / modern binary-embedding search).
    Distance = popcount(xor) over the two packed halves — pure integer,
    engine-exact, deterministic ties by neighbor id. The query side
    broadcasts (it is the bounded side); the corpus scan stays pruned
    to (id, two longs) — at 100 TB this is the cheap first-stage filter
    in front of a float rerank."""
    csig = binary_signatures(corpus, vec_col=vec_col, id_col=id_col)
    qsig = binary_signatures(queries, vec_col=vec_col, id_col=id_col) \
        .select(F.col("id").alias("query_id"),
                F.col("sig_lo").alias("q_lo"), F.col("sig_hi").alias("q_hi"))
    d = F.expr("bit_count(sig_lo ^ q_lo) + bit_count(sig_hi ^ q_hi)")
    pairs = (csig.crossJoin(F.broadcast(qsig))
             .filter(F.col("id") != F.col("query_id"))
             .select("query_id", F.col("id").alias("neighbor_id"),
                     d.cast("long").alias("hamming")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col("neighbor_id").asc())
    return (pairs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", "hamming"))


def embedding_top_eigen(emb: DataFrame, *, vec_col: str = "embedding",
                        dims: int = 8, n_iter: int = 60) -> DataFrame:
    """Top eigenpair of the embedding covariance by power iteration
    (von Mises iteration) — the spectral audit behind whitening/PCA
    decisions: lambda_top / trace is how much variance one direction
    hoards (isotropy's complement), and the eigenvector is the
    direction to project out (the common-discourse removal of
    Arora et al. 2017's SIF pipeline).

    Two-stage by design: the DISTRIBUTED stage is
    :func:`embedding_covariance` (map-only expansion + one map-side-
    combined aggregate to a dims^2 grid); the iteration then runs
    driver-side over the collected dims*(dims+1)/2 <= 36 cells — the
    documented constant-bounded driver-step class (PQ-codebook
    convention), NOT a per-row loop. Determinism: the 6-decimal-rounded
    covariance cells are identical in both engines, and every fold
    (matvec, norm, Rayleigh quotient) is a PINNED left-to-right chain
    of correctly-rounded double ops starting from v0 = e_0, so the
    oracle's unrolled-SQL iteration reproduces the floats bit-for-bit.
    Returns one row: (dims, n_iter, lambda_top, trace, top_share_ppm,
    v0..v{dims-1})."""
    spark = emb.sparkSession
    cells = embedding_covariance(emb, vec_col=vec_col, dims=dims).collect()
    cov = {(r["i"], r["j"]): float(r["cov"]) for r in cells}
    C = [[cov[(min(i, j), max(i, j))] for j in range(dims)]
         for i in range(dims)]

    def matvec(v: list[float]) -> list[float]:
        out = []
        for i in range(dims):
            acc = 0.0
            for j in range(dims):
                acc = acc + C[i][j] * v[j]
            out.append(acc)
        return out

    import math

    v = [1.0] + [0.0] * (dims - 1)
    for _ in range(n_iter):
        w = matvec(v)
        nrm = 0.0
        for x in w:
            nrm = nrm + x * x
        nrm = math.sqrt(nrm)
        v = [x / nrm for x in w]
    w = matvec(v)
    lam = 0.0
    for i in range(dims):
        lam = lam + v[i] * w[i]
    trace = 0.0
    for i in range(dims):
        trace = trace + C[i][i]
    row = {"dims": dims, "n_iter": n_iter,
           "lambda_top": round(lam, 6), "trace": round(trace, 6),
           # multiply-divide-floor, the exact op order the oracle's
           # floor(lam * 1e6 / trace) compiles to (float // would take
           # a different rounding path)
           "top_share_ppm": int(math.floor(lam * 1_000_000 / trace))
           if trace > 0 else None}
    for i in range(dims):
        row[f"v{i}"] = round(v[i], 6)
    schema = ("dims long, n_iter long, lambda_top double, trace double, "
              "top_share_ppm long, "
              + ", ".join(f"v{i} double" for i in range(dims)))
    return spark.createDataFrame([row], schema)
