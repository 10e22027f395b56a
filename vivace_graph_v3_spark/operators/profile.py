"""One-pass table profiling — the data-quality summary a pipeline runs
before training on (or even ingesting) a new source: per-column row/null/
distinct counts, min/max, and mean.

Beyond the reference's surface (its integrity checker, backup.lisp:46-80,
validates structural invariants; this profiles VALUE distributions) and a
first-class need at 100 TB: you profile a petabyte source once before
deciding to curate it.

Scale shape: the non-distinct statistics are ONE aggregate over one scan;
exact ``count(distinct ...)`` columns ride a SECOND, separate aggregate
(crossJoined back — both are single-row), because Spark rewrites
multi-column distinct aggregates into an Expand of rows x (|cols|+1) and,
when the plain aggregates share the call, drags their inputs (the
DECIMAL(38,12) mean accumulators especially) through every expanded copy
— measured 7.7–16 s vs ~2 s split on a 600 k-row 5-column profile (r10).
Two column-pruned scans beat one 6x row blowup at any scale. The wide
single-row result is then exploded into the long (one-row-per-column)
report shape entirely in-plan. At extreme scale swap
``exact_distinct=False`` to HLL ``approx_count_distinct``, which needs no
Expand and keeps the single-scan shape. Means accumulate in
DECIMAL(38,12) so the report value-hashes identically across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import (DateType, NumericType, StringType,
                               TimestampNTZType, TimestampType)

from vivace_graph_v3_spark.util import materialized


def profile_table(df: DataFrame, columns: list[str] | None = None, *,
                  exact_distinct: bool = True) -> DataFrame:
    """Profile ``columns`` (default: all) of ``df`` in one plain
    aggregate pass plus (for ``exact_distinct``) one multi-distinct pass
    — see the module docstring for why the two must not share an
    aggregate call. Returns
    one row per column: (column, n_rows, n_null, n_distinct, min_num,
    max_num, mean, min_str, max_str) — numeric extremes/mean populate the
    ``_num``/``mean`` columns, string/date/timestamp extremes populate the
    ``_str`` columns (as their canonical cast-to-string form), the other
    family is NULL. Mean is rounded to 6 decimals via decimal
    accumulation."""
    fields = {f.name: f.dataType for f in df.schema.fields}
    cols = columns or list(fields)
    aggs, dist_aggs, structs = [], [], []
    n_rows = F.count(F.lit(1)).alias("__n")
    aggs.append(n_rows)
    for c in cols:
        dt = fields[c]
        numeric = isinstance(dt, NumericType)
        stringy = isinstance(dt, (StringType, DateType, TimestampType,
                                  TimestampNTZType))
        aggs.append(F.count(F.when(F.col(c).isNull(), 1)).alias(f"__null_{c}"))
        if exact_distinct:
            # kept OUT of the plain aggregate: see the module docstring
            # (the multi-distinct Expand rewrite must not carry the other
            # aggregates' inputs)
            dist_aggs.append(F.countDistinct(F.col(c)).alias(f"__dist_{c}"))
        else:
            aggs.append(F.approx_count_distinct(F.col(c))
                        .alias(f"__dist_{c}"))
        if numeric:
            aggs.append(F.min(F.col(c)).cast("double").alias(f"__min_{c}"))
            aggs.append(F.max(F.col(c)).cast("double").alias(f"__max_{c}"))
            aggs.append(
                (F.round(F.sum(F.col(c).cast("decimal(38,12)"))
                         .cast("double") / F.count(F.col(c)), 6))
                .alias(f"__mean_{c}"))
        elif stringy:
            aggs.append(F.min(F.col(c)).cast("string").alias(f"__min_{c}"))
            aggs.append(F.max(F.col(c)).cast("string").alias(f"__max_{c}"))
    wide = df.agg(*aggs)
    if dist_aggs:
        wide = wide.crossJoin(df.agg(*dist_aggs))
    for c in cols:
        dt = fields[c]
        numeric = isinstance(dt, NumericType)
        stringy = isinstance(dt, (StringType, DateType, TimestampType,
                                  TimestampNTZType))
        structs.append(F.struct(
            F.lit(c).alias("column"),
            F.col("__n").alias("n_rows"),
            F.col(f"__null_{c}").alias("n_null"),
            F.col(f"__dist_{c}").alias("n_distinct"),
            (F.col(f"__min_{c}") if numeric
             else F.lit(None).cast("double")).alias("min_num"),
            (F.col(f"__max_{c}") if numeric
             else F.lit(None).cast("double")).alias("max_num"),
            (F.col(f"__mean_{c}") if numeric
             else F.lit(None).cast("double")).alias("mean"),
            (F.col(f"__min_{c}") if stringy
             else F.lit(None).cast("string")).alias("min_str"),
            (F.col(f"__max_{c}") if stringy
             else F.lit(None).cast("string")).alias("max_str"),
        ))
    return (wide.select(F.explode(F.array(*structs)).alias("p"))
            .select("p.*"))


def histogram(df: DataFrame, col: str, bins: int = 20, *,
              lo: float | None = None, hi: float | None = None) -> DataFrame:
    """Equi-width histogram of a numeric column: (bin, lo, hi, n) for each
    NON-EMPTY bin. Bounds default to the column min/max (one extra
    aggregate pass); passing explicit ``lo``/``hi`` (e.g. from a profile
    run or write-time stats) makes it a single map-side-combined aggregate
    — the 100 TB shape. Values at the top edge clamp into the last bin.

    Determinism: bin width and edges are fixed-order IEEE double
    arithmetic (identical in any engine); edges are rounded to 6 decimals
    for a stable value hash."""
    x = F.col(col).cast("double")
    if lo is None or hi is None:
        b = df.agg(F.min(x).alias("__lo"), F.max(x).alias("__hi"))
        src = df.crossJoin(F.broadcast(b))
        lo_c, hi_c = F.col("__lo"), F.col("__hi")
    else:
        src = df
        lo_c, hi_c = F.lit(float(lo)), F.lit(float(hi))
    w = (hi_c - lo_c) / F.lit(float(bins))
    # degenerate range (constant column, or explicit lo == hi): width 0
    # makes (x - lo)/w NaN, which least() would silently clamp into bin
    # bins-1 — put everything in ONE bin 0 with lo == hi edges instead
    bin_ = (F.when(w == 0, F.lit(0))
            .otherwise(F.least(F.floor((x - lo_c) / w), F.lit(bins - 1)))
            .cast("long"))
    return (src.filter(x.isNotNull() & (x >= lo_c) & (x <= hi_c))
            .groupBy(bin_.alias("bin"),
                     F.round(lo_c + bin_ * w, 6).alias("lo"),
                     F.round(lo_c + (bin_ + 1) * w, 6).alias("hi"))
            .agg(F.count(F.lit(1)).alias("n")))


def distribution_drift(df: DataFrame, *, group_col: str, value_col: str,
                       bucket_width: int = 100) -> DataFrame:
    """Per-group distribution drift of an integer column against the
    whole-corpus distribution, as the chi-square statistic over
    fixed-width buckets — the standard data-quality monitor for "did this
    source/day start looking different" (a PSI/chi-square drift check).
    Returns (group, n_rows, chi2) with chi2 = sum over corpus-occupied
    buckets of (observed - expected)^2 / expected, where expected =
    n_group * bucket_share(corpus). High chi2 = the group's distribution
    diverges from the corpus mix.

    Determinism: bucketing is integer division; each bucket's term is a
    fixed-order IEEE expression of exact integer counts; the cross-bucket
    sum accumulates in DECIMAL(38,12) (order-independent), rounded to 6.

    Scale shape: one map-side-combined aggregate to (group, bucket)
    counts — the only corpus-sized pass; everything after operates on
    |groups| x |buckets| rows. The bucket-share frame is broadcast."""
    b = F.expr(f"`{value_col}` div {bucket_width}")
    gb = (df.select(F.col(group_col).alias("group"), b.alias("bucket"))
          .groupBy("group", "bucket").agg(F.count(F.lit(1)).alias("o")))
    corpus = gb.groupBy("bucket").agg(F.sum("o").alias("c"))
    totals = gb.groupBy("group").agg(F.sum("o").alias("n_rows"))
    n = corpus.agg(F.sum("c").alias("n_total"))
    # zero-fill: every group x every corpus-occupied bucket
    full = (totals.crossJoin(F.broadcast(corpus))
            .join(gb, ["group", "bucket"], "left")
            .crossJoin(F.broadcast(n))
            .select("group", "n_rows",
                    F.coalesce(F.col("o"), F.lit(0)).alias("o"),
                    "c", "n_total"))
    e = (F.col("n_rows").cast("double") * F.col("c")) / F.col("n_total")
    term = (F.col("o") - e) * (F.col("o") - e) / e
    return (full.groupBy("group", "n_rows")
            .agg(F.round(F.sum(term.cast("decimal(38,12)"))
                         .cast("double"), 6).alias("chi2"))
            .select("group", "n_rows", "chi2"))


def table_diff(old: DataFrame, new: DataFrame, key_cols: list[str], *,
               compare_cols: list[str] | None = None) -> DataFrame:
    """Snapshot diff — the CDC-style comparison between two versions of a
    keyed table: returns (key..., change) with change in
    {'added', 'removed', 'changed'}; unchanged rows are omitted. The
    basis of incremental replication audits and "what did this batch
    touch" reports (the relational face of the MVCC store's txn-log
    delta).

    Scale shape: one full-outer hash join on the key — the minimal cost
    of any exact diff; column comparison is null-safe eqNullSafe inside
    the join output (no second pass)."""
    cols = compare_cols or [c for c in old.columns if c not in key_cols]
    # presence markers survive all-null payload rows; ONE full-outer join
    # carries markers and both payloads
    o = old.select(*key_cols, F.lit(1).alias("__in_o"),
                   *[F.col(c).alias(f"__o_{c}") for c in cols])
    nw = new.select(*key_cols, F.lit(1).alias("__in_n"),
                    *[F.col(c).alias(f"__n_{c}") for c in cols])
    j = o.join(nw, key_cols, "full_outer")
    same = F.lit(True)
    for c in cols:
        same = same & F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
    change = (F.when(F.col("__in_o").isNull(), "added")
              .when(F.col("__in_n").isNull(), "removed")
              .when(~same, "changed"))
    return (j.withColumn("change", change)
            .filter(F.col("change").isNotNull())
            .select(*key_cols, "change"))


def ks_drift(df: DataFrame, *, group_col: str, value_col: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift of each group's ``value_col``
    distribution against the whole corpus: D = max over x of
    |ECDF_group(x) - ECDF_corpus(x)| — the distribution-shape companion to
    distribution_drift's chi-square (KS sees location/scale shifts that
    binned chi-square can blur). Returns (group, n_rows, ks), ks rounded
    half-up to 6 decimals.

    Exactness: D is computed as an INTEGER maximum —
    max |cum_g(x)·n_all − cum_all(x)·n_g| — then divided once via the
    integer round-half-up recipe, so the statistic is bit-identical in
    any engine (no floating ECDFs).

    Scale shape: the evaluation grid is (groups × distinct values) — a
    window cumsum per group over that grid, plus one corpus cumsum; the
    raw table is touched once for the per-(group, value) counts, which
    map-side combine. Groups are categories (sources/days), so the window
    partitions are value-cardinality-bounded, never row-bounded."""
    x = F.col(value_col)
    counts = (df.groupBy(F.col(group_col).alias("g"), x.alias("x"))
              .agg(F.count(F.lit(1)).alias("c")))
    allx = counts.select("x").dropDuplicates()
    groups = (counts.groupBy("g")
              .agg(F.sum("c").alias("n_g")))
    n_all_df = counts.agg(F.sum("c").alias("n_all"))
    grid = (groups.crossJoin(allx)
            .join(counts, ["g", "x"], "left")
            .withColumn("c", F.coalesce(F.col("c"), F.lit(0))))
    wg = (Window.partitionBy("g").orderBy("x")
          .rowsBetween(Window.unboundedPreceding, 0))
    cum_g = F.sum("c").over(wg)
    corpus = (counts.groupBy("x").agg(F.sum("c").alias("ca")))
    wa = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    corpus = corpus.withColumn("cum_all", F.sum("ca").over(wa))
    scored = (grid.withColumn("cum_g", cum_g)
              .join(corpus.select("x", "cum_all"), "x")
              .crossJoin(F.broadcast(n_all_df))
              .select("g", "n_g",
                      F.abs(F.col("cum_g") * F.col("n_all")
                            - F.col("cum_all") * F.col("n_g"))
                      .alias("num"),
                      (F.col("n_g") * F.col("n_all")).alias("den")))
    # num/den scale as n_g*n_all, so the *2000000 step must run in
    # DECIMAL(38,0): in BIGINT it overflows once n_g*n_all > ~4.6e12
    # (e.g. a 500k-row group in a 10M-row corpus) — silently wrong with
    # ANSI off, runtime error with ANSI on. The quotient itself is always
    # <= 2000001, so `div`'s BIGINT result is safe.
    ks = (F.expr("(CAST(max(num) AS DECIMAL(38,0)) * 2000000 "
                 " + any_value(den)) "
                 "div (CAST(any_value(den) AS DECIMAL(38,0)) * 2)")
          .cast("double") / 1e6)
    return (scored.groupBy(F.col("g").alias(group_col))
            .agg(F.any_value(F.col("n_g")).cast("long").alias("n_rows"),
                 ks.alias("ks")))


def delete_cascade_audit(seed: DataFrame, seed_key: str,
                         cascades: list[tuple[str, DataFrame, str, str]],
                         ) -> DataFrame:
    """Right-to-be-forgotten impact report: given a SEED set of keys to
    erase, walk the FK cascade and count the rows each table loses —
    the pre-flight every GDPR/CCPA deletion job runs before mutating
    anything; chains (customer -> orders -> lineitem) compose.

    Each cascade hop is ``(name, df, parent_name, fk, key_out)``:
    the hop's affected rows are those whose ``fk`` appears in the
    parent level's key set (``"__seed__"`` for the seed); ``key_out``
    (or None for a leaf) is the column its own children join on.
    Returns (table, n_rows) with the seed counted under ``__seed__``.

    Scale shape: one LEFT SEMI join per cascade level on the FK — the
    delete set broadcasts (it is human-sized relative to the tables);
    counts are 1-row aggregates; the union is |tables| rows."""
    keys: dict[str, DataFrame] = {
        "__seed__": seed.select(F.col(seed_key).alias("__k"))
        .dropDuplicates()}
    rows = [("__seed__", keys["__seed__"])]
    for name, df, parent_name, fk, key_out in cascades:
        parent = keys[parent_name]
        hit = df.join(F.broadcast(parent.select(F.col("__k").alias(fk))),
                      fk, "left_semi")
        if key_out is not None:
            keys[name] = (hit.select(F.col(key_out).alias("__k"))
                          .dropDuplicates())
        rows.append((name, hit))
    out = None
    for name, df in rows:
        c = df.agg(F.count(F.lit(1)).alias("n_rows")) \
            .select(F.lit(name).alias("table"), "n_rows")
        out = c if out is None else out.unionByName(c)
    return out


def k_anonymity(df: DataFrame, qi_cols: list[str], *,
                k: int = 10) -> DataFrame:
    """Data-governance audit (Sweeney 2002 k-anonymity): equivalence
    classes over the quasi-identifier columns with their sizes and an
    at_risk flag for classes smaller than k — the rows a release would
    have to generalize or suppress. A training-data pipeline runs this
    before exporting anything keyed on user-ish attributes.

    Returns (*qi_cols, class_size, at_risk) — all-integer/boolean, one
    hash aggregate with map-side combine; output is bounded by the QI
    domain product, not the row count, so the plan is a single shuffle
    at any corpus size."""
    return (df.groupBy(*qi_cols)
            .agg(F.count(F.lit(1)).alias("class_size"))
            .withColumn("at_risk", F.col("class_size") < k))


def l_diversity(df: DataFrame, qi_cols: list[str], sensitive_col: str, *,
                l: int = 3) -> DataFrame:
    """Distinct l-diversity audit (Machanavalhala et al. 2007), the
    companion check to :func:`k_anonymity`: a release is l-diverse when
    every quasi-identifier equivalence class contains at least ``l``
    distinct values of the sensitive attribute — k-anonymity alone
    cannot stop attribute disclosure when a class is homogeneous.

    Returns (*qi_cols, class_size, n_sensitive, at_risk) with at_risk =
    n_sensitive < l. Exact distinct (not approx) because the audit is a
    gate, not an estimate.

    Scale shape: one aggregation keyed on (QI..., sensitive) then one on
    (QI...) — Spark plans count(distinct) as exactly this two-phase
    expand, both phases map-side-combining; output bounded by the QI
    domain product."""
    return (df.groupBy(*qi_cols)
            .agg(F.count(F.lit(1)).alias("class_size"),
                 F.countDistinct(sensitive_col).alias("n_sensitive"))
            .withColumn("at_risk", F.col("n_sensitive") < l))


def winsorize_stats(df, value_col: str, group_col: str, *,
                    lo_pct: int = 5, hi_pct: int = 95):
    """Winsorized robust statistics per group: clip values outside the
    exact [lo_pct, hi_pct] percentile band and report the thresholds,
    clip counts, and winsorized sum — the outlier-taming step numeric
    feature pipelines run before scaling (Tukey/Dixon trimming, kept as
    clipping so row count is preserved).

    Values are half-up cents (BIGINT); percentiles use the VALUE-GRID
    exact-quantile recipe of pipeline/text.grid_quantile_gate (threshold
    = min value whose cumulative count reaches ceil(n*pct/100)), so the
    whole contract is integer arithmetic — no interpolation, no
    approx-percentile drift.

    Scale shape: one map-side-combined (group, value) count, a cumulative
    window over the value grid (domain-bounded, not row-bounded — safe
    when one group holds 1e10 rows), then one broadcast of the per-group
    thresholds back onto the rows for the clip aggregate.
    """
    from pyspark.sql import functions as F

    g = F.col(group_col)
    cents = F.floor(F.col(value_col) * 100.0 + 0.5).cast("long")
    rows = df.select(g.alias("g"), cents.alias("q"))
    counts = rows.groupBy("g", "q").agg(F.count(F.lit(1)).alias("c"))
    totals = counts.groupBy("g").agg(F.sum("c").alias("n"))
    wg = (Window.partitionBy("g").orderBy("q")
          .rowsBetween(Window.unboundedPreceding, 0))
    cum = counts.withColumn("cum", F.sum("c").over(wg)).join(totals, "g")
    thr = (cum.groupBy("g").agg(
        F.min(F.when(F.col("cum") * 100 >= F.col("n") * lo_pct,
                     F.col("q"))).alias("lo_thr"),
        F.min(F.when(F.col("cum") * 100 >= F.col("n") * hi_pct,
                     F.col("q"))).alias("hi_thr"),
        F.any_value("n").alias("n")))
    clipped = F.greatest(F.col("lo_thr"),
                         F.least(F.col("hi_thr"), F.col("q")))
    return (rows.join(F.broadcast(thr), "g")
            .groupBy("g", "lo_thr", "hi_thr", "n")
            .agg(F.sum(F.when(F.col("q") < F.col("lo_thr"), 1)
                       .otherwise(0)).cast("long").alias("n_clipped_lo"),
                 F.sum(F.when(F.col("q") > F.col("hi_thr"), 1)
                       .otherwise(0)).cast("long").alias("n_clipped_hi"),
                 F.sum(clipped).cast("long").alias("winsorized_sum_cents"))
            .select(F.col("g").alias(group_col),
                    F.col("n").cast("long").alias("n"),
                    "lo_thr", "hi_thr", "n_clipped_lo", "n_clipped_hi",
                    "winsorized_sum_cents"))


def roc_auc(df: DataFrame, *, score_col: str, label_col: str,
            group_col: str | None = None) -> DataFrame:
    """EXACT ROC AUC of a scoring column against a boolean label via the
    tie-aware Mann-Whitney rank-sum identity (Hanley & McNeil 1982):

        AUC = (R+ - P(P+1)/2) / (P * N)

    where R+ is the sum of AVERAGE ranks of the positives (ties share the
    mean of their rank span). This is the model-eval primitive of a
    quality-classifier pipeline (is the filter score actually ordering
    good docs above bad ones?) — exact, not a trapezoid approximation
    over thresholded points.

    Exact integer arithmetic throughout: scores are grouped to their
    VALUE GRID first (one map-side-combined aggregate — the winsorize
    convention), the cumulative-count window runs over distinct scores
    (domain-bounded, not row-bounded), and 2*R+ = sum over score groups
    of n_pos * (2*cum_below + n + 1) stays integral. Products scale as
    n^2, so they accumulate in DECIMAL(38,0) — BIGINT would wrap near
    n ~ 3e9 rows (the ks_drift lesson). AUC is emitted both as exact ppm
    (integer round-half-up) and as the equivalent double.

    Returns one row per group (or a single global row):
    (group?, n_pos, n_neg, auc_ppm, auc)."""
    g = [F.col(group_col).alias("group")] if group_col else []
    gnames = ["group"] if group_col else []
    pos = F.when(F.col(label_col), 1).otherwise(0)
    grid = (df.select(*g, F.col(score_col).alias("s"), pos.alias("p"))
            .groupBy(*gnames, "s")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("p").alias("np")))
    w = (Window.partitionBy(*gnames) if gnames else
         Window.partitionBy(F.lit(1)))
    cum = grid.withColumn(
        "below",
        F.coalesce(F.sum("n").over(
            w.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0)))
    two_rpos = (F.col("np").cast("decimal(38,0)")
                * (F.lit(2) * F.col("below") + F.col("n") + F.lit(1)))
    agg = (cum.groupBy(*gnames)
           .agg(F.sum(two_rpos).alias("two_rpos"),
                F.sum("np").cast("long").alias("n_pos"),
                (F.sum("n") - F.sum("np")).cast("long").alias("n_neg")))
    p_, n_ = F.col("n_pos").cast("decimal(38,0)"), \
        F.col("n_neg").cast("decimal(38,0)")
    num = F.col("two_rpos") - p_ * (p_ + F.lit(1))   # = 2 * (R+ - P(P+1)/2)
    den = F.lit(2) * p_ * n_
    ppm = F.expr("(num * 2000000 + den) div (den * 2)").cast("long")
    return (agg.withColumn("num", num).withColumn("den", den)
            .filter((F.col("n_pos") > 0) & (F.col("n_neg") > 0))
            .withColumn("auc_ppm", ppm)
            .select(*gnames, "n_pos", "n_neg", "auc_ppm",
                    (F.col("auc_ppm").cast("double") / 1e6).alias("auc")))


def rater_agreement(df: DataFrame, *, a_col: str, b_col: str) -> DataFrame:
    """Cohen's kappa between two categorical labelers (two quality gates,
    a model vs a heuristic, two annotation passes) — the standard
    chance-corrected agreement check before trusting a silver-label
    column. kappa = (po - pe) / (1 - pe) is computed as the EXACT
    rational (n*agree - S) / (n*n - S) with S = sum over classes of
    (a-marginal * b-marginal), then emitted as integer ppm (round
    half-up, negative-safe) plus the equivalent double.

    Scale shape: one map-side-combined aggregate to the (a, b) confusion
    grid; marginals and the kappa fold operate on |classes|^2 rows.
    Products scale as n^2 -> DECIMAL(38,0). Returns one row:
    (n, n_agree, kappa_ppm, kappa)."""
    grid = (df.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
            .groupBy("a", "b").agg(F.count(F.lit(1)).alias("c")))
    am = grid.groupBy("a").agg(F.sum("c").alias("ca"))
    bm = grid.groupBy("b").agg(F.sum("c").alias("cb"))
    s = (am.crossJoin(bm)
         .filter(F.col("a") == F.col("b"))
         .agg(F.sum(F.col("ca").cast("decimal(38,0)") * F.col("cb"))
              .alias("s")))
    tot = grid.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.when(F.col("a") == F.col("b"), F.col("c"))
              .otherwise(0)).cast("long").alias("n_agree"))
    n_, s_ = F.col("n").cast("decimal(38,0)"), F.col("s")
    num = n_ * F.col("n_agree") - s_
    den = n_ * n_ - s_
    # symmetric round-half-up for possibly-negative kappa: fold on |num|
    # and reapply the sign, so Spark's truncating `div` and an oracle's
    # floor `//` cannot disagree on negative inputs. den = 0 (both
    # raters constant -> pe = 1) leaves kappa undefined: NULL, not a
    # divide-by-zero (which some engines raise on integral division)
    ppm = F.expr("CASE WHEN den = 0 THEN NULL"
                 " WHEN num < 0 THEN -((-num * 2000000 + den)"
                 " div (den * 2)) ELSE (num * 2000000 + den)"
                 " div (den * 2) END").cast("long")
    return (tot.crossJoin(F.broadcast(s))
            .withColumn("num", num).withColumn("den", den)
            .withColumn("kappa_ppm", ppm)
            .select("n", "n_agree", "kappa_ppm",
                    (F.col("kappa_ppm").cast("double") / 1e6)
                    .alias("kappa")))


def psi_drift(df: DataFrame, *, group_col: str, value_col: str,
              bucket_width: int = 100) -> DataFrame:
    """Population Stability Index per group against the whole corpus —
    the monitoring metric credit/risk and data-quality teams alarm on
    (PSI > 0.25 = major shift):

        PSI = sum_b (p_b - q_b) * ln(p_b / q_b)

    over fixed-width integer buckets, where p is the group's bucket
    share and q the corpus's, both Laplace-smoothed by +1 count per
    corpus-occupied bucket so empty group buckets stay finite. The
    companion of ks_drift (worst-point metric) and distribution_drift
    (chi-square): PSI weights by log-odds so it is the one that ranks
    "mass moved between tails" highest.

    Determinism: shares are exact rationals of integer counts evaluated
    in fixed-order IEEE doubles; ln per bucket; the cross-bucket sum
    accumulates in DECIMAL(38,12), rounded to 6 (the bigram_logprob
    convention). Scale shape identical to distribution_drift: ONE
    corpus-sized map-side-combined aggregate to (group, bucket); the
    zero-fill grid and fold are |groups| x |buckets|."""
    b = F.expr(f"`{value_col}` div {bucket_width}")
    gb = (df.select(F.col(group_col).alias("group"), b.alias("bucket"))
          .groupBy("group", "bucket").agg(F.count(F.lit(1)).alias("o")))
    corpus = gb.groupBy("bucket").agg(F.sum("o").alias("c"))
    totals = gb.groupBy("group").agg(F.sum("o").alias("n_rows"))
    nb = corpus.agg(F.count(F.lit(1)).alias("n_buckets"),
                    F.sum("c").alias("n_total"))
    full = (totals.crossJoin(F.broadcast(corpus))
            .join(gb, ["group", "bucket"], "left")
            .crossJoin(F.broadcast(nb))
            .select("group", "n_rows",
                    F.coalesce(F.col("o"), F.lit(0)).alias("o"),
                    "c", "n_buckets", "n_total"))
    p = ((F.col("o") + 1).cast("double")
         / (F.col("n_rows") + F.col("n_buckets")))
    q = ((F.col("c") + 1).cast("double")
         / (F.col("n_total") + F.col("n_buckets")))
    term = (p - q) * F.log(p / q)
    return (full.groupBy("group", "n_rows")
            .agg(F.round(F.sum(term.cast("decimal(38,12)"))
                         .cast("double"), 6).alias("psi"))
            .select("group", F.col("n_rows").cast("long").alias("n_rows"),
                    "psi"))


def js_divergence(df: DataFrame, *, group_col: str, value_col: str,
                  bucket_width: int = 100) -> DataFrame:
    """Jensen-Shannon divergence (Lin 1991) per group against the whole
    corpus, in bits, over fixed-width integer buckets:

        JSD = 0.5 * KL(p || m) + 0.5 * KL(q || m),  m = (p + q) / 2

    Symmetric, bounded in [0, 1] with log2, and finite without
    smoothing (m > 0 wherever either side has mass) — the divergence
    training-mix dashboards prefer over PSI/KL when sources can have
    empty buckets. p = group bucket share, q = corpus bucket share.

    Determinism: shares are exact rationals of integer counts in
    fixed-order IEEE doubles; log2 per bucket; the cross-bucket sum
    accumulates in DECIMAL(38,12), rounded to 6 (the psi_drift
    convention). Scale shape: ONE corpus-sized map-side-combined
    aggregate to (group, bucket); the zero-fill grid is
    |groups| x |buckets|."""
    b = F.expr(f"`{value_col}` div {bucket_width}")
    gb = (df.select(F.col(group_col).alias("group"), b.alias("bucket"))
          .groupBy("group", "bucket").agg(F.count(F.lit(1)).alias("o")))
    corpus = gb.groupBy("bucket").agg(F.sum("o").alias("c"))
    totals = gb.groupBy("group").agg(F.sum("o").alias("n_rows"))
    nt = corpus.agg(F.sum("c").alias("n_total"))
    full = (totals.crossJoin(F.broadcast(corpus))
            .join(gb, ["group", "bucket"], "left")
            .crossJoin(F.broadcast(nt))
            .select("group", "n_rows",
                    F.coalesce(F.col("o"), F.lit(0)).alias("o"),
                    "c", "n_total"))
    p = F.col("o").cast("double") / F.col("n_rows").cast("double")
    q = F.col("c").cast("double") / F.col("n_total").cast("double")
    m = (p + q) / F.lit(2.0)
    term = (F.when(F.col("o") > 0,
                   F.lit(0.5) * p * F.log2(p / m)).otherwise(F.lit(0.0))
            + F.lit(0.5) * q * F.log2(q / m))
    return (full.groupBy("group", "n_rows")
            .agg(F.round(F.sum(term.cast("decimal(38,12)"))
                         .cast("double"), 6).alias("jsd_bits"))
            .select("group", F.col("n_rows").cast("long").alias("n_rows"),
                    "jsd_bits"))


def t_closeness(df: DataFrame, qi_cols: list[str], sensitive_col: str, *,
                threshold_ppm: int = 300_000) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian, ICDE 2007): for
    each quasi-identifier equivalence class, the Earth Mover's Distance
    between the class's distribution over an ORDERED sensitive attribute
    and the global distribution,

        t = (1 / (m-1)) * sum_i |CDF_class(v_i) - CDF_global(v_i)|

    (the ordered-attribute EMD of the paper, m = number of distinct
    sensitive values). Completes the privacy ladder after k_anonymity
    (class size) and l_diversity (distinct sensitive values): it catches
    classes whose sensitive values are diverse but SKEWED vs the corpus.

    Exact integer arithmetic: per-class CDFs are cumulative counts over
    the (class x value) zero-filled grid; the EMD numerator
    sum |cum_c * n_g - cum_g * n_c| and denominator n_c * n_g * (m-1)
    stay integral in DECIMAL(38,0); t is emitted as round-half-up ppm
    plus a double. Scale shape: one map-side-combined aggregate to
    (class, value) counts, then |classes| x m grid work — the corpus is
    scanned once."""
    qis = [F.col(c) for c in qi_cols]
    cv = (df.select(*[q.alias(f"q{i}") for i, q in enumerate(qis)],
                    F.col(sensitive_col).alias("v"))
          .groupBy(*[f"q{i}" for i in range(len(qis))], "v")
          .agg(F.count(F.lit(1)).alias("o")))
    qnames = [f"q{i}" for i in range(len(qis))]
    glob = cv.groupBy("v").agg(F.sum("o").alias("go"))
    classes = cv.groupBy(*qnames).agg(F.sum("o").alias("n_c"))
    m_ng = glob.agg(F.count(F.lit(1)).alias("m"),
                    F.sum("go").alias("n_g"))
    grid = (classes.crossJoin(F.broadcast(glob))
            .join(cv, qnames + ["v"], "left")
            .select(*qnames, "n_c", "v", "go",
                    F.coalesce(F.col("o"), F.lit(0)).alias("o")))
    w = (Window.partitionBy(*qnames).orderBy("v")
         .rowsBetween(Window.unboundedPreceding, 0))
    cum = (grid.withColumn("cum_c", F.sum("o").over(w))
           .withColumn("cum_g", F.sum("go").over(w))
           .crossJoin(F.broadcast(m_ng)))
    diff = F.abs(F.col("cum_c").cast("decimal(38,0)") * F.col("n_g")
                 - F.col("cum_g").cast("decimal(38,0)") * F.col("n_c"))
    per = (cum.groupBy(*qnames, "n_c", "m", "n_g")
           .agg(F.sum(diff).alias("num")))
    den = (F.col("n_c").cast("decimal(38,0)") * F.col("n_g")
           * (F.col("m") - F.lit(1)))
    # m = 1 (a single sensitive value corpus-wide) makes every class
    # distribution identical to the global one: t = 0 by definition,
    # and the guard avoids an integral divide-by-zero
    ppm = F.expr("CASE WHEN den = 0 THEN 0 ELSE"
                 " (num * 2000000 + den) div (den * 2) END").cast("long")
    return (per.withColumn("den", den)
            .withColumn("t_ppm", ppm)
            .select(*[F.col(q).alias(c) for q, c in zip(qnames, qi_cols)],
                    F.col("n_c").cast("long").alias("class_size"),
                    "t_ppm",
                    (F.col("t_ppm") > threshold_ppm).alias("at_risk")))


def equi_depth_histogram(df: DataFrame, col: str, buckets: int = 10,
                         *, scale: int = 100) -> DataFrame:
    """Equi-depth (equal-frequency) histogram — the complement of the
    equi-width ``histogram``: bucket EDGES adapt so each holds ~n/k rows,
    which is what an optimizer's selectivity estimator and a feature
    binner actually want on skewed columns.

    Built from the VALUE GRID, not a global row sort: one
    map-side-combined (value, count) aggregate, a cumulative window over
    distinct values (domain-bounded — the winsorize convention), then
    bucket = cum_before * k div n. Heavy ties therefore stay in ONE
    bucket (depths wobble around n/k exactly as DB equi-depth histograms
    do); there is no global row-order shuffle anywhere, which is the
    100 TB difference vs the textbook NTILE formulation. Values are
    half-up fixed-point at ``scale`` (e.g. cents for money columns).

    Returns (bucket, lo, hi, n) with lo/hi the bucket's actual min/max
    value in fixed-point units."""
    v = F.floor(F.col(col).cast("double") * scale + 0.5).cast("long")
    grid = (df.select(v.alias("q")).filter(F.col("q").isNotNull())
            .groupBy("q").agg(F.count(F.lit(1)).alias("c")))
    n = grid.agg(F.sum("c").alias("n"))
    w = (Window.partitionBy(F.lit(1)).orderBy("q")
         .rowsBetween(Window.unboundedPreceding, -1))
    cum = (grid.withColumn("before", F.coalesce(F.sum("c").over(w),
                                                F.lit(0)))
           .crossJoin(F.broadcast(n)))
    b = F.expr(f"before * {buckets} div n").cast("long")
    return (cum.groupBy(b.alias("bucket"))
            .agg(F.min("q").alias("lo"), F.max("q").alias("hi"),
                 F.sum("c").cast("long").alias("n")))


def boxplot_stats(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Five-number summary + Tukey outlier counts per group over an
    INTEGER value column — the boxplot every profiling UI draws, computed
    exactly on the value grid (Tukey 1977 fences at q1/q3 -/+ 1.5*IQR).

    Quartiles are the exact lower-quantile elements picked by the integer
    cum-count rule (cum*4 >= n for q1, cum*2 >= n for the median,
    cum*4 >= 3n for q3) — actual data values, no interpolation, so every
    output column is engine-exact. Fences need the *1.5 multiplier: kept
    integer by scaling both sides by 2 (x < 2*q1 - 3*IQR/... folded as
    2*x < 2*q1 - 3*iqr), no floats anywhere.

    Scale shape: one hash aggregate to the (group, value) grid, window
    cumsums over the grid (domain-bounded), one broadcast-size join of
    the per-group fences back onto the grid for the outlier counts."""
    grid = (df.groupBy(F.col(group_col).alias("g"),
                       F.col(value_col).cast("long").alias("x"))
            .agg(F.count(F.lit(1)).alias("c")))
    wc = (Window.partitionBy("g").orderBy("x")
          .rowsBetween(Window.unboundedPreceding, 0))
    wt = Window.partitionBy("g")
    cum = (grid.withColumn("cum", F.sum("c").over(wc))
           .withColumn("n", F.sum("c").over(wt)))
    q = (cum.groupBy("g")
         .agg(F.any_value("n").cast("long").alias("n_rows"),
              F.min("x").cast("long").alias("min_x"),
              F.max("x").cast("long").alias("max_x"),
              F.min(F.when(F.col("cum") * 4 >= F.col("n"), F.col("x")))
              .cast("long").alias("q1"),
              F.min(F.when(F.col("cum") * 2 >= F.col("n"), F.col("x")))
              .cast("long").alias("median"),
              F.min(F.when(F.col("cum") * 4 >= F.col("n") * 3, F.col("x")))
              .cast("long").alias("q3")))
    q = q.withColumn("iqr", F.col("q3") - F.col("q1"))
    fences = q.select("g", "q1", "q3", "iqr")
    out = (grid.join(fences, "g")
           .groupBy("g")
           .agg(F.sum(F.when(
                    (F.col("x") * 2 < F.col("q1") * 2 - F.col("iqr") * 3)
                    | (F.col("x") * 2 > F.col("q3") * 2 + F.col("iqr") * 3),
                    F.col("c")).otherwise(0)).cast("long")
                .alias("n_outliers")))
    return (q.join(out, "g")
            .select(F.col("g").alias(group_col), "n_rows", "min_x", "q1",
                    "median", "q3", "max_x", "iqr", "n_outliers"))


def v_optimal_histogram(df: DataFrame, col: str, buckets: int = 6, *,
                        grid_cells: int = 48, scale: int = 100) -> DataFrame:
    """V-OPTIMAL histogram (Jagadish et al. VLDB 1998): bucket boundaries
    that MINIMIZE total within-bucket sum of squared error — the
    provably-best histogram for a selectivity estimator at a given
    bucket budget, where equi-width/equi-depth are heuristics. Solved
    exactly by the classic DP
        dp[b][i] = min over j < i of dp[b-1][j] + SSE(j+1 .. i)
    run as PURE relational iteration (the viterbi_segment_stats
    discipline): the column first contracts to an equi-width pre-grid of
    ``grid_cells`` cells (the standard practical contraction — one
    map-side-combined aggregate, so the DP state is grid-bounded and
    volume-independent), prefix sums give every interval's (n, s, q) in
    O(1), and each DP level is one G x G self-join + per-i min-struct.
    SSE evaluates as the single mirrored double expression
    (q - (s * s) / n) with exact integer inputs (DECIMAL-accumulated q),
    so any engine replaying the same DP reproduces every cost
    bit-for-bit; argmin ties break toward the smallest split.

    Returns one row per final bucket: (bucket, lo_cell, hi_cell, lo, hi,
    n, sse) where lo/hi are fixed-point value bounds and sse is the
    bucket's exact-input SSE rounded to 6 dp. Requires
    buckets <= populated cells."""
    v = F.floor(F.col(col).cast("double") * scale + 0.5).cast("long")
    base = df.select(v.alias("q")).filter(F.col("q").isNotNull())
    ext = base.agg(F.min("q").alias("lo"), F.max("q").alias("hi"))
    g = (base.crossJoin(F.broadcast(ext))
         .select(F.expr(f"least(cast((q - lo) * {grid_cells} div "
                        f"greatest(hi - lo + 1, 1) as int), "
                        f"{grid_cells - 1})").alias("cell"), "q")
         .groupBy("cell")
         .agg(F.count(F.lit(1)).alias("c"), F.sum("q").alias("s"),
              F.sum((F.col("q") * F.col("q")).cast("decimal(38,0)"))
              .alias("sq"),
              F.min("q").alias("lo"), F.max("q").alias("hi")))
    with materialized() as m:
        cum = Window.orderBy("i").rowsBetween(Window.unboundedPreceding, 0)
        grid, g_count = m.checkpoint(
            g.select(F.row_number().over(Window.orderBy("cell")).alias("i"),
                     "cell", "c", "s", "sq", "lo", "hi")
            .withColumn("pn", F.sum("c").over(cum))
            .withColumn("ps", F.sum("s").over(cum))
            .withColumn("pq", F.sum("sq").over(cum))
            .coalesce(1))
        # the empty-prefix row is built JVM-side (range(1) + literals): a
        # Python-backed local relation under the non-equi join below can
        # stall the broadcast thread until spark.sql.broadcastTimeout
        zero = grid.sparkSession.range(1).select(
            F.lit(0).cast("int").alias("i"), F.lit(0).cast("long").alias("pn"),
            F.lit(0).cast("long").alias("ps"),
            F.lit(0).cast("decimal(38,0)").alias("pq"))
        pref = grid.select("i", "pn", "ps", "pq").unionByName(zero)
        # cost(j, i) over cells j+1..i, mirrored double expression
        cost = ("(cast(pq_i - pq_j as double)"
                " - (cast(ps_i - ps_j as double) * cast(ps_i - ps_j as double))"
                " / cast(pn_i - pn_j as double))")
        pj = pref.select(F.col("i").alias("j"), F.col("pn").alias("pn_j"),
                         F.col("ps").alias("ps_j"), F.col("pq").alias("pq_j"))
        pi = pref.filter(F.col("i") > 0).select(
            F.col("i"), F.col("pn").alias("pn_i"), F.col("ps").alias("ps_i"),
            F.col("pq").alias("pq_i"))
        pairs, _ = m.checkpoint(
            pj.join(pi, F.col("j") < F.col("i"))
            .filter(F.expr("pn_i > pn_j"))  # only splits with rows
            .select("j", "i", F.expr(cost).alias("cost"))
            .coalesce(1))
        dp, _ = m.checkpoint(
            pairs.filter(F.col("j") == 0)
            .select("i", F.col("cost").alias("dp"), F.lit(0).alias("arg"))
            .coalesce(1))
        levels = [dp]
        for _b in range(2, buckets + 1):
            prev = levels[-1].select(F.col("i").alias("j"),
                                     F.col("dp").alias("dp_prev"))
            nxt, _ = m.checkpoint(
                pairs.join(F.broadcast(prev), "j")
                .groupBy("i")
                .agg(F.min(F.struct((F.col("dp_prev") + F.col("cost"))
                                    .alias("dp"), F.col("j").alias("arg")))
                     .alias("m"))
                .select("i", F.col("m.dp").alias("dp"),
                        F.col("m.arg").alias("arg"))
                .coalesce(1))
            levels.append(nxt)
        # backtrack: walk argmins from (buckets, G) down — ``buckets`` tiny
        # driver-side lookups over G-row frames (grid-bounded, not corpus)
        bounds = [g_count]
        i_cur = g_count
        for b in range(buckets, 1, -1):
            row = levels[b - 1].filter(F.col("i") == i_cur).collect()
            if not row:  # fewer populated cells than buckets
                break
            i_cur = row[0]["arg"]
            bounds.append(i_cur)
        bounds = sorted(set(bounds) | {0})
        spark = df.sparkSession
        bdf = F.broadcast(spark.createDataFrame(
            [(k, bounds[k], bounds[k + 1]) for k in range(len(bounds) - 1)],
            "bucket int, lo_i int, hi_i int"))
        return m.keep(
            grid.join(bdf, (F.col("i") > F.col("lo_i"))
                      & (F.col("i") <= F.col("hi_i")))
            .groupBy("bucket")
            .agg(F.min("cell").cast("long").alias("lo_cell"),
                 F.max("cell").cast("long").alias("hi_cell"),
                 F.min("lo").cast("long").alias("lo"),
                 F.max("hi").cast("long").alias("hi"),
                 F.sum("c").cast("long").alias("n"),
                 F.round(F.expr(
                     "cast(sum(sq) as double)"
                     " - (cast(sum(s) as double) * cast(sum(s) as double))"
                     " / cast(sum(c) as double)"), 6).alias("sse"))
            .select(F.col("bucket").cast("long").alias("bucket"),
                    "lo_cell", "hi_cell", "lo", "hi", "n", "sse"))
