"""Spatial queries: geohash filter/refine — Spark analogs of
spatial-index.lisp + spatial-query.lisp.

The reference keeps a skip list of fixed-precision geohash cells -> node ids
(spatial-index.lisp:3-18, 98-160) and answers radius/bbox/polygon/knn queries
by (1) computing the covering cells, (2) pulling candidates per cell, and
(3) refining with exact predicates (spatial-query.lisp:41-159). Spark-first:

- the "index" is a ``geohash`` column (``with_geohash``) — at 100 TB the
  table is *partitioned or z-ordered by geohash prefix* so the cell filter
  becomes partition pruning, not a scan;
- the filter stage is ``isin(covering_cells)`` (a pushed-down IN filter) or,
  for coverings past ``util.IN_LIST_KEYS`` cells, a broadcast semi-join
  against a local frame of them (``util.filter_keys``);
- the refine stage is an all-JVM haversine/bbox expression; polygon refine is
  a vectorized pandas UDF over the (small) candidate set.

``find_nearest_k`` reproduces the doubling-radius search
(spatial-query.lisp:122-148) semantics: exact k nearest by geodesic distance,
cap at max_radius. We run one covering at max_radius then orderBy(distance)
LIMIT k — one scan instead of log(r) scans; identical results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from vivace_graph_v3_spark.functions.geohash import (
    covering_for_radius, geohash_covering, _pick_precision)
from vivace_graph_v3_spark.functions.geometry import (
    haversine_m, point_in_polygon_udf, polygon_bbox)
from vivace_graph_v3_spark.util import filter_keys, materialized

DEFAULT_PRECISION = 7  # ~150 m cells; the reference's spatial opt-in default


def with_geohash(df: DataFrame, lat_col: str = "lat", lon_col: str = "lon",
                 precision: int = DEFAULT_PRECISION,
                 out_col: str = "geohash") -> DataFrame:
    """Stamp a geohash cell column at write time (the analog of the write-path
    spatial-index maintenance, transactions.lisp:716-741). Vectorized pandas
    UDF; at scale this runs once in the ingest job, never per query."""

    @pandas_udf(StringType())
    def _gh(lat, lon):
        import pandas as pd

        from vivace_graph_v3_spark.functions.geohash import geohash_encode

        return pd.Series([
            geohash_encode(la, lo, precision) if la == la and lo == lo else None
            for la, lo in zip(lat, lon)])

    from vivace_graph_v3_spark.util import ensure_parallelism
    return ensure_parallelism(df).withColumn(
        out_col, _gh(F.col(lat_col), F.col(lon_col)))


def _cell_filter(df: DataFrame, cells: list[str], precision: int,
                 gh_col: str) -> DataFrame:
    """Filter stage: candidates in covering cells. Cells are compared at
    ``precision`` via prefix (the stored hash may be finer)."""
    return filter_keys(df, F.substring(F.col(gh_col), 1, precision), cells)


def find_nodes_near(df: DataFrame, lat: float, lon: float, radius_m: float, *,
                    lat_col: str = "lat", lon_col: str = "lon",
                    gh_col: str = "geohash",
                    precision: int | None = None) -> DataFrame:
    """Radius query (find-nodes-near, spatial-query.lisp:41-76): geohash
    filter then exact haversine refine; returns rows + ``distance_m``."""
    use_prec = precision
    cells = covering_for_radius(lat, lon, radius_m, use_prec)
    if use_prec is None:
        use_prec = len(cells[0])
    out = _cell_filter(df, cells, use_prec, gh_col)
    dist = haversine_m(F.col(lat_col), F.col(lon_col), F.lit(lat), F.lit(lon))
    return out.withColumn("distance_m", dist).filter(
        F.col("distance_m") <= radius_m)


def find_nearest_k(df: DataFrame, lat: float, lon: float, k: int, *,
                   max_radius_m: float = 100_000.0, lat_col: str = "lat",
                   lon_col: str = "lon", gh_col: str = "geohash",
                   precision: int | None = None) -> DataFrame:
    """k-NN by geodesic distance, capped at max_radius
    (find-nearest-k, spatial-query.lisp:122-148)."""
    near = find_nodes_near(df, lat, lon, max_radius_m, lat_col=lat_col,
                           lon_col=lon_col, gh_col=gh_col, precision=precision)
    return near.orderBy(F.col("distance_m").asc(), F.col("id").asc()).limit(k)


def find_nodes_within(df: DataFrame, polygon: list[list[tuple[float, float]]],
                      *, lat_col: str = "lat", lon_col: str = "lon",
                      gh_col: str = "geohash",
                      precision: int | None = None) -> DataFrame:
    """Polygon containment (find-nodes-within, spatial-query.lisp:78-120):
    bbox covering-cell filter + ray-casting refine. Polygon rings are
    [(lon, lat), ...]; first ring outer, rest holes."""
    lat_min, lat_max, lon_min, lon_max = polygon_bbox(polygon)
    use_prec = precision or _pick_precision(
        max(lat_max - lat_min, lon_max - lon_min))
    cells = geohash_covering(lat_min, lat_max, lon_min, lon_max, use_prec)
    out = _cell_filter(df, cells, use_prec, gh_col)
    # cheap bbox refine first (all-JVM), exact ray-cast only on survivors
    out = out.filter((F.col(lat_col) >= lat_min) & (F.col(lat_col) <= lat_max)
                     & (F.col(lon_col) >= lon_min) & (F.col(lon_col) <= lon_max))
    pip = point_in_polygon_udf(polygon)
    return out.filter(pip(F.col(lat_col), F.col(lon_col)))


def geo_within(df: DataFrame, lat: float, lon: float, radius_m: float,
               lat_col: str = "lat", lon_col: str = "lon") -> DataFrame:
    """Pure predicate over bound coords (geo-within, prolog-functors.lisp:
    929-954) — no index, straight filter. For indexed access use
    find_nodes_near."""
    dist = haversine_m(F.col(lat_col), F.col(lon_col), F.lit(lat), F.lit(lon))
    return df.filter(dist <= radius_m)


# -- polygon-polygon operators (exact kernel refine) --------------------------------

def polygon_intersect_pairs(polys: DataFrame, *, id_col: str = "id",
                            xs_col: str = "xs", ys_col: str = "ys",
                            cell_deg: float = 0.25) -> DataFrame:
    """All pairs of intersecting polygons: grid-cell equi-join prefilter +
    EXACT kernel refine (functions/geometry_exact.polygon_intersects — the
    working replacement for the reference's no-GEOS bbox approximation,
    geometry-ops.lisp:94-113).

    Input: one row per polygon — (id, xs: array<double>, ys: array<double>)
    for the outer ring. Scale shape: each polygon emits the grid cells its
    bbox covers (``cell_deg`` degrees); candidates equi-join on the cell —
    never an all-pairs theta join — then dedup, bbox check (all-JVM), and
    the exact pandas-UDF refine runs only on bbox survivors. At 100 TB the
    cell column is stamped at ingest and the table bucketed by cell, making
    this a co-located join (the same write-time trade as the geohash point
    index above)."""
    import pandas as pd
    from pyspark.sql.types import BooleanType

    base = (polys.select(
        F.col(id_col).alias("id"), F.col(xs_col).alias("xs"),
        F.col(ys_col).alias("ys"))
        .withColumn("xmin", F.array_min("xs"))
        .withColumn("xmax", F.array_max("xs"))
        .withColumn("ymin", F.array_min("ys"))
        .withColumn("ymax", F.array_max("ys")))
    inv = 1.0 / cell_deg
    cells = base.select(
        "id", "xs", "ys", "xmin", "xmax", "ymin", "ymax",
        F.explode(F.flatten(F.transform(
            F.sequence(F.floor(F.col("xmin") * inv),
                       F.floor(F.col("xmax") * inv)),
            lambda cx: F.transform(
                F.sequence(F.floor(F.col("ymin") * inv),
                           F.floor(F.col("ymax") * inv)),
                lambda cy: F.struct(cx.alias("cx"), cy.alias("cy")))))
        ).alias("cell"))
    a = cells.alias("a")
    b = cells.alias("b")
    cand = (a.join(b, (F.col("a.cell") == F.col("b.cell"))
                   & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id_a"), F.col("a.xs").alias("xsa"),
                    F.col("a.ys").alias("ysa"), F.col("b.id").alias("id_b"),
                    F.col("b.xs").alias("xsb"), F.col("b.ys").alias("ysb"),
                    F.col("a.xmin").alias("axmin"), F.col("a.xmax").alias("axmax"),
                    F.col("a.ymin").alias("aymin"), F.col("a.ymax").alias("aymax"),
                    F.col("b.xmin").alias("bxmin"), F.col("b.xmax").alias("bxmax"),
                    F.col("b.ymin").alias("bymin"), F.col("b.ymax").alias("bymax"))
            .dropDuplicates(["id_a", "id_b"])
            .filter((F.col("axmax") >= F.col("bxmin"))
                    & (F.col("bxmax") >= F.col("axmin"))
                    & (F.col("aymax") >= F.col("bymin"))
                    & (F.col("bymax") >= F.col("aymin"))))

    @pandas_udf(BooleanType())
    def _refine(xsa, ysa, xsb, ysb):
        from vivace_graph_v3_spark.functions.geometry_exact import (
            polygon_intersects)

        return pd.Series([
            polygon_intersects([list(zip(xa, ya))], [list(zip(xb, yb))])
            for xa, ya, xb, yb in zip(xsa, ysa, xsb, ysb)])

    return (cand.filter(_refine("xsa", "ysa", "xsb", "ysb"))
            .select("id_a", "id_b"))


def polygon_metrics(polys: DataFrame, *, id_col: str = "id",
                    xs_col: str = "xs", ys_col: str = "ys") -> DataFrame:
    """Shoelace area + planar perimeter per polygon row via the exact
    kernel (geometry-ops.lisp:186-190 surface), Arrow-batched."""
    import pandas as pd
    from pyspark.sql.types import DoubleType

    @pandas_udf(DoubleType())
    def _area(xs, ys):
        from vivace_graph_v3_spark.functions.geometry_exact import (
            polygon_area)

        return pd.Series([polygon_area([list(zip(x, y))])
                          for x, y in zip(xs, ys)])

    @pandas_udf(DoubleType())
    def _perim(xs, ys):
        from vivace_graph_v3_spark.functions.geometry_exact import (
            polygon_perimeter)

        return pd.Series([polygon_perimeter([list(zip(x, y))])
                          for x, y in zip(xs, ys)])

    return polys.select(
        F.col(id_col).alias("id"),
        _area(F.col(xs_col), F.col(ys_col)).alias("area"),
        _perim(F.col(xs_col), F.col(ys_col)).alias("perimeter"))


def grid_dbscan(df: DataFrame, *, eps: float, min_pts: int,
                id_col: str = "id", x_col: str = "x",
                y_col: str = "y") -> DataFrame:
    """Exact DBSCAN (Ester et al., KDD'96) over planar points with
    CELL-BLOCKED neighbor generation — the distributed formulation.

    The epsilon-neighbor join never goes all-pairs: points land in
    eps-wide grid cells, candidate pairs come from a 9-offset equi-join
    on adjacent cells (any two points within eps are at most one cell
    apart), then the exact distance predicate refines. At 100 TB the
    pair join shuffles on cell keys with fan-out bounded by local
    density x 9, independent of corpus volume — the same
    block-then-verify shape as the dedup family (pipeline/dedup.py).

    Semantics are textbook DBSCAN: core = |eps-neighborhood incl.
    self| >= min_pts; clusters = connected components of core-core
    eps-edges (via :func:`~vivace_graph_v3_spark.pipeline.dedup.
    dedup_clusters` — guarded driver union-find with distributed
    min-label fallback); border = non-core point adjacent to a core,
    labeled with its MIN adjacent core cluster (a deterministic tie
    rule; reference DBSCAN is arrival-order-dependent there); the rest
    is noise. Returns (id, cluster, role) with cluster = min member id
    of the cluster's cores, NULL for noise.

    With integer coordinates and integer eps, every comparison is exact
    integer arithmetic end to end: cells come from a pmod-based integer
    floor division (no double `/`), dist² is a LONG self-multiplication
    (never ``pow``, which returns DOUBLE), and the threshold is a LONG
    literal — exact at any coordinate magnitude. With fractional eps or
    non-integer coordinate columns the cell assignment and the refine
    fall back to DOUBLE and are exact only while squared deltas stay
    below 2^53 (documented caveat, not a claim).

    Coincident points collapse to POSITIONS before the pair join:
    points at one (x, y) share their eps-neighborhood, hence core-ness
    and cluster, so the neighbor join runs over distinct positions with
    multiplicities — without this, a corpus with heavy coincidence
    (multiplicity m) materializes m^2 point pairs per position pair and
    the pair frame OOMs exactly when the data gets interesting (found
    by the round-8 10x probe). Worst case (all points distinct) it
    degenerates to the point-level join, never worse."""
    from vivace_graph_v3_spark.pipeline.dedup import dedup_clusters

    pts = df.select(F.col(id_col).alias("id"), F.col(x_col).alias("x"),
                    F.col(y_col).alias("y"))
    int_types = {"tinyint", "smallint", "int", "bigint"}
    coord_t = dict(pts.dtypes)
    exact_int = (float(eps).is_integer() and eps > 0
                 and coord_t["x"] in int_types
                 and coord_t["y"] in int_types)
    if exact_int:
        e_i = int(eps)

        def cell(c: str) -> F.Column:
            # pmod(c, e) in [0, e) for e > 0, so (c - pmod) is the
            # largest multiple of e <= c and the div is exact — a true
            # floor even for negative coordinates (plain `div`
            # truncates toward zero and would mis-cell them)
            return F.expr(f"(CAST({c} AS BIGINT) - pmod({c}, {e_i})) "
                          f"div {e_i}")

        eps2 = F.lit(e_i * e_i).cast("long")
    else:
        def cell(c: str) -> F.Column:
            return F.floor(F.col(c) / F.lit(float(eps)))

        eps2 = F.lit(float(eps) * float(eps))
    pos = (pts.groupBy("x", "y")
           .agg(F.count(F.lit(1)).alias("mult"),
                F.min("id").alias("min_id"))
           .withColumn("cx", cell("x"))
           .withColumn("cy", cell("y"))
           .withColumn("pk", F.struct("x", "y")))
    offs = F.explode(F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx in (-1, 0, 1) for dy in (-1, 0, 1)])).alias("o")
    probe = (pos.select("pk", "x", "y", "cx", "cy", offs)
             .select("pk", "x", "y",
                     (F.col("cx") + F.col("o.dx")).alias("cx"),
                     (F.col("cy") + F.col("o.dy")).alias("cy")))
    b = pos.select(F.col("pk").alias("pkb"), F.col("x").alias("xb"),
                   F.col("y").alias("yb"), F.col("mult").alias("bmult"),
                   "cx", "cy")
    if exact_int:
        dx = (F.col("x").cast("long") - F.col("xb"))
        dy = (F.col("y").cast("long") - F.col("yb"))
    else:
        dx = F.col("x") - F.col("xb")
        dy = F.col("y") - F.col("yb")
    # self-multiplication keeps LongType; `** 2` compiles to pow() and
    # silently promotes to DOUBLE (exact only below 2^53)
    dist2 = dx * dx + dy * dy
    # position pairs within eps, INCLUDING self (own multiplicity counts
    # toward |N incl self|); bounded by occupied positions x local density
    with materialized() as m:
        pnbr, _ = m.checkpoint(probe.join(b, ["cx", "cy"])
                               .filter(dist2 <= eps2)
                               .select("pk", "pkb", "bmult"))
        deg = pnbr.groupBy("pk").agg(F.sum("bmult").alias("n_in"))
        core_pos = deg.filter(F.col("n_in") >= min_pts).select("pk")
        core_edges = (pnbr.join(core_pos, "pk")
                      .join(core_pos.withColumnRenamed("pk", "pkb"), "pkb")
                      .select(F.col("pk").alias("id_a"),
                              F.col("pkb").alias("id_b")))
        plab = dedup_clusters(core_edges)
        # cluster label = min POINT id over the cluster's core positions
        # (the label a point-level union-find would produce)
        pmin = pos.select("pk", "min_id")
        clab = (plab.join(pmin, plab["id"] == pmin["pk"])
                .groupBy("cluster").agg(F.min("min_id").alias("lbl")))
        core_lab = (core_pos.join(plab, core_pos["pk"] == plab["id"], "left")
                    .join(clab, "cluster", "left")
                    .join(pmin, "pk")
                    .select(core_pos["pk"].alias("pk"),
                            F.coalesce("lbl", F.col("min_id"))
                            .alias("cluster")))
        border = (pnbr.join(core_lab.withColumnRenamed("pk", "pkb")
                            .withColumnRenamed("cluster", "bc"), "pkb")
                  .join(core_pos, "pk", "left_anti")
                  .groupBy("pk").agg(F.min("bc").alias("cluster")))
        poslab = (core_lab.withColumn("role", F.lit("core"))
                  .unionByName(border.withColumn("role", F.lit("border"))))
        out = (pts.withColumn("pk", F.struct("x", "y"))
               .join(poslab, "pk", "left")
               .select("id",
                       F.col("cluster").cast(dict(pts.dtypes)["id"])
                       .alias("cluster"),
                       F.coalesce("role", F.lit("noise")).alias("role")))
        return m.keep(out)
