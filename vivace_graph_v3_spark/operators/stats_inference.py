"""Inferential-statistics operators: Kaplan–Meier survival estimation,
one-way ANOVA, Mann–Whitney U, and deterministic ticket-weighted
sampling without replacement.

Reference parity: vivace-graph-v3 exposes its store to arbitrary Prolog
aggregation (select + functors over map-reduced views, views.lisp /
prolog-functors.lisp); these are the classical inference reports a user
of that surface would assemble by hand over slot values. Each is one
declarative Catalyst plan whose per-row math follows the engine-exactness
discipline of operators/stats.py.

Cross-engine exactness notes (shared by every operator here):

- **Integer → double casts are IEEE round-to-nearest in both engines**
  (JVM ``(double) long``, DuckDB ``static_cast<double>``), so a BIGINT
  aggregate cast to double is bit-identical even beyond 2^53.
- **div/mul/sub/add/sqrt over identical doubles are correctly rounded**,
  so any fixed-order chain of them is engine-stable. The one hazard is
  *reduction order* of float sums/products — neither engine guarantees
  an aggregation order. Everywhere a float reduction crosses the
  comparison boundary we therefore fold an **explicitly ordered array**
  (Spark ``aggregate(sort_array(collect_list(struct(key, x))))``,
  DuckDB ``list_reduce(list_prepend(0.0, list(x ORDER BY key)))``) —
  a deterministic left fold of correctly-rounded ops. The arrays are
  domain-bounded (group count / distinct-value grid), never row-bounded.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from vivace_graph_v3_spark.util import materialized

__all__ = [
    "kaplan_meier",
    "anova_oneway",
    "mann_whitney_u",
    "weighted_ticket_sample",
    "kendall_tau_b",
    "kruskal_wallis",
    "spearman_rho",
    "wilcoxon_signed_rank",
    "ipf_raking",
    "mantel_haenszel_or",
    "cronbach_alpha",
    "poisson_bootstrap_ci",
    "neyman_allocation",
    "hash_fold_assignment",
    "kish_ess",
    "bh_fdr",
    "krippendorff_alpha_nominal",
    "isotonic_fit",
    "mcnemar_test",
]


def _fold_sum(arr: Column) -> Column:
    """Deterministic left fold-sum of an ordered array<double>."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def kaplan_meier(df: DataFrame, time_col: str, event_col: str) -> DataFrame:
    """Kaplan–Meier product-limit survival estimator (Kaplan & Meier
    1958) over right-censored durations: one input row per subject with
    an integer duration and ``event`` 1 (observed) / 0 (censored).
    Returns the life table — one row per distinct duration with the
    at-risk count, event count, censored count, and the survival
    estimate S(t) = prod_{t_i <= t} (1 - d_i / n_i).

    Exactness: each factor ``(n_i - d_i) / n_i`` is one correctly-rounded
    division of exact BIGINTs; S(t) is a left fold-product of those
    factors in ascending-time order via an ordered window collect_list —
    multiplication is correctly rounded, so the chain is engine-stable
    (censor-only times contribute an exact 1.0 factor, a no-op).

    Scale shape: one map-side-combined aggregate collapses subjects to
    the distinct-duration grid; every later step (window cumsum for the
    risk set, prefix-product) runs on that domain-bounded grid — the
    documented single-partition window is over distinct durations, not
    subjects. Subject count enters as a 1-row broadcast."""
    t, e = F.col(time_col), F.col(event_col)
    grid = (df.select(t.cast("long").alias("t"),
                      e.cast("long").alias("e"))
            .groupBy("t")
            .agg(F.sum("e").alias("n_events"),
                 F.sum(F.lit(1) - F.col("e")).alias("n_censored")))
    tot = grid.agg(F.sum(F.col("n_events") + F.col("n_censored"))
                   .alias("n_subjects"))
    w = (Window.orderBy("t")  # distinct-duration grid, see docstring
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    g = (grid.crossJoin(F.broadcast(tot))
         .withColumn("removed_cum",
                     F.sum(F.col("n_events") + F.col("n_censored")).over(w))
         .withColumn("n_risk",
                     F.col("n_subjects") - F.col("removed_cum")
                     + F.col("n_events") + F.col("n_censored"))
         .withColumn("factor",
                     (F.col("n_risk") - F.col("n_events")).cast("double")
                     / F.col("n_risk").cast("double")))
    surv = F.aggregate(F.collect_list("factor").over(w), F.lit(1.0),
                       lambda acc, x: acc * x)
    return (g.withColumn("survival", surv)
            .select("t", "n_risk", "n_events", "n_censored", "survival"))


def anova_oneway(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """One-way ANOVA (Fisher) of an **integer-valued** measure across
    groups: per-group n / sum / mean plus the (constant) between/within
    sums of squares, degrees of freedom, and F statistic.

    Exactness: per-group sums and sums of squares are exact BIGINTs
    (caller contract: |value| small enough that sum(v^2) fits — e.g.
    quantity-like measures; a 1-50 measure stays in range past 1e15
    rows). Every float is then a fixed chain of correctly-rounded ops on
    exact integers: group term ``(S_g/n_g)*S_g``, grand term
    ``(S/N)*S`` (never an integer square, so no overflow path), SSB =
    ordered fold-sum of group terms minus the grand term, SSW =
    ``sum(v^2) - fold`` — the fold order is pinned by sort_array over
    (group, term) structs.

    Scale shape: one hash aggregate to the group grid; the fold and the
    1-row totals operate on |groups| rows. F and SS columns are
    broadcast back onto the per-group rows (chi2_independence shape)."""
    v = F.col(value_col).cast("long")
    g = (df.groupBy(F.col(group_col).alias("g"))
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum(v).alias("s"),
              F.sum(v * v).alias("q")))
    g = g.withColumn(
        "term", (F.col("s").cast("double") / F.col("n").cast("double"))
        * F.col("s").cast("double"))
    tot = g.agg(
        F.sum("n").alias("n_total"), F.sum("s").alias("s_total"),
        F.sum("q").alias("q_total"), F.count(F.lit(1)).alias("k"),
        F.sort_array(F.collect_list(F.struct("g", "term"))).alias("terms"))
    tot = tot.select(
        "n_total", "s_total", "k",
        F.aggregate("terms", F.lit(0.0),
                    lambda acc, s: acc + s["term"]).alias("fold"),
        F.col("q_total").cast("double").alias("qd"))
    tot = (tot.withColumn(
        "grand", (F.col("s_total").cast("double")
                  / F.col("n_total").cast("double"))
        * F.col("s_total").cast("double"))
        .withColumn("ssb", F.col("fold") - F.col("grand"))
        .withColumn("ssw", F.col("qd") - F.col("fold"))
        .withColumn("dof_between", (F.col("k") - 1).cast("long"))
        .withColumn("dof_within",
                    (F.col("n_total") - F.col("k")).cast("long"))
        .withColumn(
            "f_stat",
            (F.col("ssb") / F.col("dof_between").cast("double"))
            / (F.col("ssw") / F.col("dof_within").cast("double"))))
    return (g.select(F.col("g").alias(group_col), "n", "s",
                     (F.col("s").cast("double")
                      / F.col("n").cast("double")).alias("mean"))
            .crossJoin(F.broadcast(tot.select(
                "ssb", "ssw", "dof_between", "dof_within", "f_stat"))))


def mann_whitney_u(df: DataFrame, group_col: str, value_col: str,
                   group_a, group_b) -> DataFrame:
    """Mann–Whitney U rank-sum test (Mann & Whitney 1947) between two
    groups of an integer-valued measure, with midrank tie handling and
    the tie-corrected normal approximation. Returns one row:
    n_a, n_b, u2_a, u2_b (both **doubled** U statistics — 2U is always
    an exact integer even with .5 midranks), and the z score.

    Exactness: ranks live on the doubled-rank integer grid
    (``2*midrank = 2*cum_before + c + 1``), so the rank sum and both U
    statistics are exact BIGINTs. The tie correction sum(c^3 - c) is a
    fold over the distinct-value grid of ``((c*c)*c - c)`` computed in
    doubles (each op correctly rounded; c as double is an exact cast),
    ordered by value via sort_array — engine-stable without the BIGINT
    overflow a c^3 integer would hit near c ~ 2e6. z is then a fixed
    chain of correctly-rounded double ops.

    Scale shape: one aggregate to the distinct-value grid (domain-
    bounded by caller contract — quantity-like measures); the window
    cumsum and the fold run on that grid; output is one row."""
    gcol = F.col(group_col)
    grid = (df.filter(gcol.isin([group_a, group_b]))
            .groupBy(F.col(value_col).cast("long").alias("v"))
            .agg(F.sum(F.when(gcol == group_a, 1).otherwise(0)).alias("ca"),
                 F.sum(F.when(gcol == group_b, 1).otherwise(0)).alias("cb")))
    w = (Window.orderBy("v")  # distinct-value grid, see docstring
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    c = F.col("ca") + F.col("cb")
    grid = (grid.withColumn("cum", F.sum(c).over(w))
            .withColumn("r2a", F.col("ca")
                        * (2 * (F.col("cum") - c) + c + 1))
            .withColumn("tie",
                        (c.cast("double") * c.cast("double"))
                        * c.cast("double") - c.cast("double")))
    agg = grid.agg(
        F.sum("ca").alias("n_a"), F.sum("cb").alias("n_b"),
        F.sum("r2a").alias("ra2"),
        F.sort_array(F.collect_list(F.struct("v", "tie"))).alias("ties"))
    agg = agg.select(
        "n_a", "n_b", "ra2",
        F.aggregate("ties", F.lit(0.0),
                    lambda acc, s: acc + s["tie"]).alias("tie_sum"))
    na_d, nb_d = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    n_d = (F.col("n_a") + F.col("n_b")).cast("double")
    var = (na_d * nb_d / F.lit(12.0)) * (
        (n_d + F.lit(1.0))
        - F.col("tie_sum") / (n_d * (n_d - F.lit(1.0))))
    return (agg
            .withColumn("u2_a",
                        F.col("ra2") - F.col("n_a") * (F.col("n_a") + 1))
            .withColumn("u2_b",
                        2 * F.col("n_a") * F.col("n_b") - F.col("u2_a"))
            .withColumn(
                "z",
                (F.col("u2_a") - F.col("n_a") * F.col("n_b")).cast("double")
                / (F.lit(2.0) * F.sqrt(var)))
            .select("n_a", "n_b", "u2_a", "u2_b", "z"))


def kendall_tau_b(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Kendall rank correlation tau-b (Kendall 1938) between two
    integer-valued columns, tie-corrected, computed EXACTLY on the
    (x, y) contingency grid: concordant/discordant mass is a sum of
    cell-count products over ordered grid-cell pairs — O(|X|·|Y|)^2
    grid work, never an O(n^2) row self-join. Returns one row:
    n, concordant, discordant, ties_x, ties_y (pair counts, exact
    BIGINT — caller contract n <~ 3e9 so n^2/2 fits), and tau_b.

    Exactness: every pair count is exact BIGINT; tau_b =
    (C - D) / (sqrt(n0 - n1) * sqrt(n0 - n2)) as a fixed chain of
    correctly-rounded double ops (two sqrts multiplied, never the
    BIGINT product n0^2-scale that would overflow).

    Scale shape: one aggregate to the grid; the grid crossJoin is
    domain-bounded (|X|·|Y| cells); marginals are grid re-aggregates;
    output is one row."""
    cells = (df.groupBy(F.col(x_col).cast("long").alias("x"),
                        F.col(y_col).cast("long").alias("y"))
             .agg(F.count(F.lit(1)).alias("c")))
    a = cells.select(F.col("x").alias("x1"), F.col("y").alias("y1"),
                     F.col("c").alias("c1"))
    b = cells.select(F.col("x").alias("x2"), F.col("y").alias("y2"),
                     F.col("c").alias("c2"))
    pairs = a.join(b, (F.col("x1") < F.col("x2")))
    cd = pairs.agg(
        F.coalesce(F.sum(F.when(F.col("y1") < F.col("y2"),
                                F.col("c1") * F.col("c2"))), F.lit(0))
        .alias("concordant"),
        F.coalesce(F.sum(F.when(F.col("y1") > F.col("y2"),
                                F.col("c1") * F.col("c2"))), F.lit(0))
        .alias("discordant"))
    xt = (cells.groupBy("x").agg(F.sum("c").alias("t"))
          .agg(F.sum(F.expr("t * (t - 1) div 2")).alias("ties_x")))
    yt = (cells.groupBy("y").agg(F.sum("c").alias("t"))
          .agg(F.sum(F.expr("t * (t - 1) div 2")).alias("ties_y")))
    n = cells.agg(F.sum("c").alias("n"))
    out = (cd.crossJoin(F.broadcast(xt)).crossJoin(F.broadcast(yt))
           .crossJoin(F.broadcast(n)))
    n0 = F.expr("n * (n - 1) div 2")
    return out.select(
        "n", "concordant", "discordant", "ties_x", "ties_y",
        ((F.col("concordant") - F.col("discordant")).cast("double")
         / (F.sqrt((n0 - F.col("ties_x")).cast("double"))
            * F.sqrt((n0 - F.col("ties_y")).cast("double"))))
        .alias("tau_b"))


def kruskal_wallis(df: DataFrame, group_col: str,
                   value_col: str) -> DataFrame:
    """Kruskal–Wallis H test (1952) — the k-group rank ANOVA — over an
    integer-valued measure, with midrank ties on the doubled-rank grid
    and the standard tie correction. Returns one row per group
    (n, rank-sum as exact doubled BIGINT) plus the constant H,
    tie-corrected H, and dof.

    Exactness: doubled midranks keep every rank sum an exact BIGINT
    (mann_whitney_u discipline); sum R_g^2/n_g is a pinned-order fold
    of ``(R2_g/n_g)*R2_g`` doubles (never the BIGINT square that
    overflows at R2 ~ 3e9); ties fold as in mann_whitney_u.

    Scale shape: one aggregate to the (value, group) grid; window
    cumsum on the distinct-value grid; folds over |groups| and
    |values| arrays."""
    vgrid = (df.groupBy(F.col(value_col).cast("long").alias("v"),
                        F.col(group_col).alias("g"))
             .agg(F.count(F.lit(1)).alias("cg")))
    vtot = vgrid.groupBy("v").agg(F.sum("cg").alias("c"))
    w = (Window.orderBy("v")  # distinct-value grid
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    vtot = (vtot.withColumn("cum", F.sum("c").over(w))
            .withColumn("r2", 2 * (F.col("cum") - F.col("c"))
                        + F.col("c") + 1)
            .withColumn("tie", (F.col("c").cast("double")
                                * F.col("c").cast("double"))
                        * F.col("c").cast("double")
                        - F.col("c").cast("double")))
    per_g = (vgrid.join(vtot.select("v", "r2"), "v")
             .groupBy("g")
             .agg(F.sum("cg").alias("n_g"),
                  F.sum(F.col("cg") * F.col("r2")).alias("r2sum")))
    gstats = per_g.agg(
        F.sum("n_g").alias("n"), F.count(F.lit(1)).alias("k"),
        F.sort_array(F.collect_list(F.struct(
            "g", ((F.col("r2sum").cast("double")
                   / F.col("n_g").cast("double"))
                  * F.col("r2sum").cast("double")).alias("term"))))
        .alias("terms"))
    tfold = vtot.agg(
        F.sort_array(F.collect_list(F.struct("v", "tie"))).alias("ties"))
    const = (gstats.crossJoin(F.broadcast(tfold))
             .select(
                 "n", "k",
                 F.aggregate("terms", F.lit(0.0),
                             lambda acc, s: acc + s["term"]).alias("fold"),
                 F.aggregate("ties", F.lit(0.0),
                             lambda acc, s: acc + s["tie"])
                 .alias("tie_sum")))
    n_d = F.col("n").cast("double")
    h = (F.lit(12.0) / (n_d * (n_d + F.lit(1.0)))) \
        * (F.lit(0.25) * F.col("fold")) \
        - F.lit(3.0) * (n_d + F.lit(1.0))
    tie_corr = F.lit(1.0) - F.col("tie_sum") / (n_d * n_d * n_d - n_d)
    const = (const.withColumn("h", h)
             .withColumn("h_tie_corrected", F.col("h") / tie_corr)
             .withColumn("dof", (F.col("k") - 1).cast("long"))
             .select("h", "h_tie_corrected", "dof"))
    return (per_g.select(F.col("g").alias(group_col),
                         F.col("n_g").alias("n"),
                         F.col("r2sum").alias("rank2_sum"))
            .crossJoin(F.broadcast(const)))


def spearman_rho(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Spearman rank correlation (1904) with midrank ties = Pearson
    correlation of the midranks, computed EXACTLY on the (x, y)
    contingency grid. Doubled midranks (mann_whitney_u discipline) keep
    every rank integral; the three centered moments
    ``N = sum c*(r2x - (n+1))*(r2y - (n+1))``, ``Dx``, ``Dy`` accumulate
    in DECIMAL(38,0) (order-independent exact integers — the products
    scale as n^3, past BIGINT at ~2.6e6 rows), are emitted as BIGINT
    (caller contract: moments < 2^63, i.e. n <~ 2e6 rows at contract SF;
    the internal accumulation stays exact to n ~ 4.6e12), and rho is one
    pinned chain of correctly-rounded double ops.

    Scale shape: one aggregate to the joint grid; marginal rank grids
    are re-aggregates of the joint grid; the only windows run on the
    domain-bounded distinct-value grids; output is one row."""
    cells = (df.groupBy(F.col(x_col).cast("long").alias("x"),
                        F.col(y_col).cast("long").alias("y"))
             .agg(F.count(F.lit(1)).alias("c")))
    def marginal(col):
        m = cells.groupBy(col).agg(F.sum("c").alias("t"))
        w = (Window.orderBy(col)
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        return (m.withColumn("cum", F.sum("t").over(w))
                .select(col, "t",
                        (2 * (F.col("cum") - F.col("t")) + F.col("t") + 1)
                        .alias("r2")))
    mx = marginal("x").select("x", F.col("t").alias("tx"),
                              F.col("r2").alias("r2x"))
    my = marginal("y").select("y", F.col("t").alias("ty"),
                              F.col("r2").alias("r2y"))
    n1 = cells.agg(F.sum("c").alias("n")).select(
        "n", (F.col("n") + 1).alias("np1"))
    dec = "decimal(38,0)"
    joint = (cells.join(mx.select("x", "r2x"), "x")
             .join(my.select("y", "r2y"), "y")
             .crossJoin(F.broadcast(n1)))
    # doubled centered ranks: r2 - (n+1) is twice (midrank - mean rank)
    num = joint.agg(F.sum(
        (F.col("c") * (F.col("r2x") - F.col("np1"))
         * (F.col("r2y") - F.col("np1"))).cast(dec)).alias("num_d"))
    dx = (mx.crossJoin(F.broadcast(n1))
          .agg(F.sum((F.col("tx") * (F.col("r2x") - F.col("np1"))
                      * (F.col("r2x") - F.col("np1"))).cast(dec))
               .alias("dx_d")))
    dy = (my.crossJoin(F.broadcast(n1))
          .agg(F.sum((F.col("ty") * (F.col("r2y") - F.col("np1"))
                      * (F.col("r2y") - F.col("np1"))).cast(dec))
               .alias("dy_d")))
    out = (num.crossJoin(F.broadcast(dx)).crossJoin(F.broadcast(dy))
           .crossJoin(F.broadcast(n1.select("n"))))
    return out.select(
        "n",
        F.col("num_d").cast("long").alias("s_xy"),
        F.col("dx_d").cast("long").alias("s_xx"),
        F.col("dy_d").cast("long").alias("s_yy"),
        (F.col("num_d").cast("double")
         / (F.sqrt(F.col("dx_d").cast("double"))
            * F.sqrt(F.col("dy_d").cast("double")))).alias("rho"))


def wilcoxon_signed_rank(df: DataFrame, x_col: str,
                         y_col: str) -> DataFrame:
    """Wilcoxon signed-rank test (1945) for paired integer measures:
    zero differences drop (the standard treatment), |d| ranks with
    midrank ties on the doubled-rank grid, normal approximation with
    the tie-corrected variance. Returns one row:
    n (nonzero pairs), w2_plus (doubled positive-rank sum, exact
    BIGINT), and z.

    Exactness: the |d| grid carries exact BIGINT counts; tie terms are
    t*(t-1)*(t+1) = t^3 - t, exact BIGINT (caller contract t <~ 2e6);
    z is one pinned chain:
    (w2 - n(n+1)/2) / sqrt(n(n+1)(2n+1)/6 - ties/12) over the doubled
    statistic (4x the classical variance).

    Scale shape: one map-side-combined aggregate to the distinct-|d|
    grid; a cumsum window on that grid; 1-row output."""
    d = (F.col(x_col).cast("long") - F.col(y_col).cast("long"))
    nz = (df.select(d.alias("d")).filter(F.col("d") != 0)
          .select(F.abs(F.col("d")).alias("a"),
                  (F.col("d") > 0).cast("long").alias("pos")))
    grid = (nz.groupBy("a")
            .agg(F.count(F.lit(1)).alias("c"),
                 F.sum("pos").alias("cpos")))
    w = (Window.orderBy("a")  # distinct-|d| grid
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    grid = (grid.withColumn("cum", F.sum("c").over(w))
            .withColumn("r2", 2 * (F.col("cum") - F.col("c"))
                        + F.col("c") + 1))
    agg = grid.agg(
        F.sum("c").alias("n"),
        F.sum(F.col("cpos") * F.col("r2")).alias("w2_plus"),
        F.sum(F.col("c") * (F.col("c") - 1) * (F.col("c") + 1))
        .alias("ties"))
    nd = F.col("n").cast("double")
    var2 = (nd * (nd + F.lit(1.0)) * (F.lit(2.0) * nd + F.lit(1.0))
            / F.lit(6.0)
            - F.col("ties").cast("double") / F.lit(12.0))
    return agg.select(
        "n", "w2_plus",
        ((F.col("w2_plus") - F.expr("n * (n + 1) div 2")).cast("double")
         / F.sqrt(var2)).alias("z"))


def ipf_raking(df: DataFrame, row_col: str, col_col: str, *,
               iterations: int = 2) -> DataFrame:
    """Iterative proportional fitting / raking (Deming & Stephan 1940):
    rescale the (row, col) contingency grid's cell weights so the
    weighted marginals converge to UNIFORM target shares over rows and
    over columns, alternating row- and column-scaling ``iterations``
    full rounds — the survey-reweighting step a curation pipeline uses
    to de-bias a corpus toward balanced (source x language) mass
    without dropping rows.

    Engine-replayable iteration (the classifier_train_logreg
    convention): weights round to 6 dp after EVERY scaling step, each
    step's marginal sums accumulate in DECIMAL(38,12)
    (order-independent), and each update is one pinned double chain
    ``w * ((N/K) / S)``. Returns (row, col, n, weight).

    Scale shape: ONE corpus aggregate to the grid; every iteration
    touches only the grid (|rows| x |cols| cells) with broadcast
    marginal frames."""
    grid = (df.groupBy(F.col(row_col).alias("r"), F.col(col_col).alias("c"))
            .agg(F.count(F.lit(1)).alias("n")))
    tot = grid.agg(F.sum("n").alias("NT"),
                   F.countDistinct("r").alias("KR"),
                   F.countDistinct("c").alias("KC"))
    with materialized() as m:
        g = grid.withColumn("w", F.col("n").cast("double"))
        for _ in range(iterations):
            for dim, k in (("r", "KR"), ("c", "KC")):
                sums = (g.groupBy(dim)
                        .agg(F.sum(F.col("w").cast("decimal(38,12)"))
                             .alias("S")))
                g = (g.join(F.broadcast(sums), dim)
                     .crossJoin(F.broadcast(tot))
                     .withColumn(
                         "w",
                         F.round(F.col("w")
                                 * ((F.col("NT").cast("double")
                                     / F.col(k).cast("double"))
                                    / F.col("S").cast("double")), 6))
                     .select("r", "c", "n", "w"))
            # each step references g twice (marginal sums + join), doubling
            # the plan; checkpoint per round like every iterative operator
            g, _ = m.checkpoint(g)
        return m.keep(g.select(F.col("r").alias(row_col),
                               F.col("c").alias(col_col),
                               "n", F.col("w").alias("weight")))


def mantel_haenszel_or(df: DataFrame, *, stratum_col: str,
                       exposed_col: str, outcome_col: str) -> DataFrame:
    """Mantel-Haenszel common odds ratio (1959) across K strata of 2x2
    tables — the confounder-adjusted association estimate:

        OR_MH = sum_i(a_i * d_i / n_i) / sum_i(b_i * c_i / n_i)

    with a=exposed+outcome, b=exposed-only, c=outcome-only, d=neither.
    Returns per-stratum rows (stratum, a, b, c, d) with the constant
    or_mh on every row (chi2 grid shape).

    Exactness: cell counts are one exact BIGINT aggregate; each
    stratum term is one pinned double division of exact integers,
    accumulated in DECIMAL(38,12) (order-independent); the final ratio
    is one division. Scale shape: ONE corpus aggregate to the
    (stratum, exposed, outcome) grid; terms fold on |strata| rows."""
    g = (df.groupBy(F.col(stratum_col).alias("stratum"))
         .agg(*[F.coalesce(F.sum(F.when(
             (F.col(exposed_col).cast("boolean") == F.lit(pe))
             & (F.col(outcome_col).cast("boolean") == F.lit(po)),
             F.lit(1)).otherwise(F.lit(0))), F.lit(0)).alias(name)
             for name, pe, po in (("a", True, True), ("b", True, False),
                                  ("c", False, True),
                                  ("d", False, False))]))
    n = (F.col("a") + F.col("b") + F.col("c") + F.col("d")).cast("double")
    tnum = ((F.col("a") * F.col("d")).cast("double") / n)
    tden = ((F.col("b") * F.col("c")).cast("double") / n)
    tot = g.agg(F.sum(tnum.cast("decimal(38,12)")).alias("sn"),
                F.sum(tden.cast("decimal(38,12)")).alias("sd"))
    or_mh = (tot.select(
        F.when(F.col("sd") == 0, F.lit(0.0))
        .otherwise(F.round(F.col("sn").cast("double")
                           / F.col("sd").cast("double"), 6))
        .alias("or_mh")))
    return g.crossJoin(F.broadcast(or_mh))


def cronbach_alpha(df: DataFrame, item_cols: list[str]) -> DataFrame:
    """Cronbach's alpha (1951) internal-consistency reliability over k
    integer item columns:

        alpha = k/(k-1) * (1 - sum_i var(item_i) / var(total))

    with population variances. Returns one row: n, k, alpha.

    Exactness: per-item and total sums / sums-of-squares are exact
    BIGINT aggregates (caller contract: sum(v^2) within BIGINT); each
    variance is the pinned chain E[x^2] - E[x]^2 over exact integers;
    the item-variance sum folds k pinned doubles in a fixed expression
    (k is a plan-time constant, so the addition order is literal).
    Scale shape: ONE map-side-combined aggregate; 1-row output."""
    k = len(item_cols)
    if k < 2:
        raise ValueError("cronbach_alpha needs >= 2 item columns")
    items = [F.col(c).cast("long") for c in item_cols]
    total = items[0]
    for it in items[1:]:
        total = total + it
    aggs = [F.count(F.lit(1)).alias("n")]
    for i, it in enumerate(items):
        aggs += [F.sum(it).alias(f"s{i}"),
                 F.sum(it * it).alias(f"q{i}")]
    aggs += [F.sum(total).alias("st"), F.sum(total * total).alias("qt")]
    a = df.agg(*aggs)
    nd = F.col("n").cast("double")

    def var(s, q):
        m = F.col(s).cast("double") / nd
        return F.col(q).cast("double") / nd - m * m

    item_var = var("s0", "q0")
    for i in range(1, k):
        item_var = item_var + var(f"s{i}", f"q{i}")
    alpha = (F.lit(float(k)) / F.lit(float(k - 1))
             * (F.lit(1.0) - item_var / var("st", "qt")))
    return a.select("n", F.lit(k).cast("long").alias("k"),
                    F.round(alpha, 6).alias("alpha"))


def weighted_ticket_sample(df: DataFrame, key_col: str, weight_col: str,
                           k: int) -> DataFrame:
    """Deterministic weighted sampling without replacement by the
    **ticket-lottery** scheme: a row with integer weight w holds w
    lottery tickets; each ticket's draw is the cross-engine
    md5-derived 64-bit hash of ``key#ticket_index``; a row's priority is
    its best (minimum) ticket and the k rows with the smallest
    (priority, key) win. Higher weight => more tickets => stochastically
    smaller minimum => higher inclusion probability, with zero RNG
    state — the same corpus always yields the same sample, and the
    sample is reproducible by any engine that can compute md5
    (pipeline/dedup.md5_hash64 convention).

    Scale shape: ticket expansion is map-only (sequence + explode,
    bounded by the integer weight cap the caller enforces); the
    per-key min is one map-side-combined aggregate; the global top-k
    compiles to TakeOrderedAndProject (per-partition heads + k-row
    merge), never a full sort."""
    from vivace_graph_v3_spark.pipeline.dedup import md5_hash64

    # weight < 1 means "no tickets" — filter BEFORE the explode: Spark's
    # sequence(0, w-1) auto-reverses for w <= 0 (w=0 yields [0,-1]), which
    # would hand tickets to zero/negative-weight rows (and diverge from
    # SQL generate_series, which yields an empty set there)
    t = (df.select(F.col(key_col).alias("key"),
                   F.col(weight_col).cast("long").alias("weight"))
         .filter(F.col("weight") >= 1)
         .withColumn("j", F.explode(
             F.sequence(F.lit(0), F.col("weight") - 1)))
         .withColumn("ticket", md5_hash64(
             F.concat(F.col("key").cast("string"), F.lit("#"),
                      F.col("j").cast("string")))))
    pri = (t.groupBy("key")
           .agg(F.min("ticket").alias("priority"),
                F.first("weight").alias("weight")))
    return (pri.orderBy("priority", "key").limit(k)
            .select(F.col("key").alias(key_col), "weight", "priority"))


def poisson_bootstrap_ci(df: DataFrame, value_col: str, *,
                         n_replicates: int = 200,
                         key_col: str | None = None,
                         alpha: float = 0.05) -> DataFrame:
    """Percentile bootstrap CI for the mean by the **Poisson bootstrap**
    (Chamandy et al., "Estimating Uncertainty for Massive Data Streams",
    Google 2012; Kleiner et al. BLB, 2014 discuss why classical
    resampling does not distribute): each row enters replicate b
    ``c ~ Poisson(1)`` times, with c derived from a cross-engine md5
    hash of (key, b) through the exact inverse CDF — fully
    deterministic, zero RNG state, and embarrassingly parallel: no
    resample shuffle ever happens, each replicate is a weighted
    aggregate of the same scan.

    ``value_col`` must be integer-valued (cents discipline): replicate
    sums then stay exact BIGINTs in both engines and the replicate means
    (exact-int ratios) are bit-identical doubles. Returns one row:
    (n_rows, n_replicates, mean, ci_lo, ci_hi) where the bounds are the
    floor(alpha/2 * B)-th / (B - floor(alpha/2 * B))-th smallest
    replicate means (ties broken by replicate id).

    Scale shape: one scan fanned out x B (map-only explode of a
    B-element sequence), map-side-combined to B rows; B is a constant
    (default 200), never data-sized."""
    from vivace_graph_v3_spark.pipeline.dedup import md5_hash64

    key_col = key_col or value_col
    # ONE md5 per ROW (the expensive primitive), then a cheap
    # overflow-safe Lehmer double-round mix per (row, replicate):
    # md5 per (row, b) measured 33 s at sf0.1 (30M digests); the integer
    # mix is codegen'd multiply-mod arithmetic, identical in DuckDB.
    m_prime = 2147483647  # 2^31 - 1: products stay < 2^48, no overflow
    h0 = F.pmod(md5_hash64(F.col(key_col).cast("string")),
                F.lit(m_prime))
    b = F.explode(F.sequence(F.lit(0), F.lit(n_replicates - 1))).alias("b")
    # h0 MUST be projected in its own select below the explode: with
    # both in one select, Catalyst inlines the md5 expression above the
    # Generate and recomputes it per (row, replicate) — measured 29 s
    # vs 1.2 s at sf0.1 for the two-step shape
    rows = (df.select(F.col(value_col).cast("long").alias("v"),
                      h0.alias("h0"))
            .select("v", "h0", b))
    x1 = F.pmod(F.col("h0") * F.lit(48271)
                + F.col("b") * F.lit(16807) + F.lit(12345), F.lit(m_prime))
    x2 = F.pmod(x1 * F.lit(69621) + F.lit(1013904223), F.lit(m_prime))
    u = x2.cast("double") / F.lit(float(m_prime))
    # exact Poisson(1) inverse CDF (cumulative e^-1 * sum 1/j!), capped
    # at 9 (P(X > 9) < 1.1e-7)
    cdf = [0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
           0.9810118431238462, 0.9963401531726563, 0.9994058151824183,
           0.9999167588507119, 0.9999897508033253, 0.9999988885714516]
    c = F.lit(9)
    for j in range(len(cdf) - 1, -1, -1):
        c = F.when(u < F.lit(cdf[j]), F.lit(j)).otherwise(c)
    rep = (rows.withColumn("c", c)
           .groupBy("b")
           .agg(F.sum(F.col("c") * F.col("v")).alias("s"),
                F.sum("c").alias("n"))
           .filter(F.col("n") > 0)
           .select("b", (F.col("s").cast("double")
                         / F.col("n").cast("double")).alias("m")))
    w = Window.orderBy(F.col("m").asc(), F.col("b").asc())
    ranked = rep.withColumn("r", F.row_number().over(w))
    lo_r = max(int(alpha / 2 * n_replicates), 1)
    hi_r = n_replicates - lo_r
    base = df.agg(F.count(F.lit(1)).alias("n_rows"),
                  F.sum(F.col(value_col).cast("long")).alias("s"))
    return (base.crossJoin(
        ranked.agg(
            F.max(F.when(F.col("r") == lo_r, F.col("m"))).alias("ci_lo"),
            F.max(F.when(F.col("r") == hi_r, F.col("m"))).alias("ci_hi"),
            F.count(F.lit(1)).alias("n_replicates")))
        .select(F.col("n_rows").cast("long").alias("n_rows"),
                F.col("n_replicates").cast("long").alias("n_replicates"),
                (F.col("s").cast("double") / F.col("n_rows").cast("double"))
                .alias("mean"), "ci_lo", "ci_hi"))


def neyman_allocation(df: DataFrame, stratum_col: str, value_col: str,
                      total_n: int) -> DataFrame:
    """Neyman-optimal stratified-sample allocation (Neyman 1934):
    stratum h of size N_h with sample std S_h gets
    n_h = total_n * N_h S_h / sum(N_h S_h) — the allocation minimizing
    the stratified-mean variance at fixed budget. Fractional seats are
    integerized by the largest-remainder rule (ties by stratum name),
    so the result is a deterministic integer plan summing to total_n.

    ``value_col`` must be integer-valued: variances come from exact
    BIGINT moments (n*Σx² - (Σx)²), so shares are bit-identical
    doubles cross-engine. One map-side-combined scan; everything after
    is |strata| rows."""
    m = (df.groupBy(F.col(stratum_col).alias("stratum"))
         .agg(F.count(F.lit(1)).alias("nh"),
              F.sum(F.col(value_col).cast("long")).alias("s1"),
              F.sum(F.col(value_col).cast("long")
                    * F.col(value_col).cast("long")).alias("s2"))
         .filter(F.col("nh") >= 2))
    sh = F.sqrt((F.col("nh").cast("double") * F.col("s2").cast("double")
                 - F.col("s1").cast("double") * F.col("s1").cast("double"))
                / (F.col("nh").cast("double")
                   * (F.col("nh").cast("double") - 1.0)))
    m = m.withColumn("w", F.col("nh").cast("double") * sh)
    # sum over |strata| doubles is order-dependent in principle, so
    # fold deterministically over the stratum-ordered array
    tot = m.agg(F.aggregate(
        F.array_sort(F.collect_list(F.struct("stratum", "w"))),
        F.lit(0.0), lambda acc, x: acc + x["w"]).alias("tw"))
    j = m.crossJoin(tot)
    seats = F.col("w") / F.col("tw") * F.lit(float(total_n))
    j = j.select("stratum", "nh", F.round(sh, 6).alias("s_h"),
                 F.floor(seats).cast("long").alias("base"),
                 (seats - F.floor(seats)).alias("rem"))
    short = (j.agg((F.lit(total_n) - F.sum("base")).alias("k"))
             .first()["k"])
    w = Window.orderBy(F.col("rem").desc(), F.col("stratum").asc())
    return (j.withColumn("rk", F.row_number().over(w))
            .select("stratum", F.col("nh").cast("long").alias("n_stratum"),
                    "s_h",
                    (F.col("base")
                     + F.when(F.col("rk") <= int(short), 1).otherwise(0))
                    .cast("long").alias("alloc")))


def hash_fold_assignment(key_col: str, *, n_folds: int = 5) -> Column:
    """Deterministic cross-validation fold id for a row: the md5-derived
    64-bit hash of the key, mod n_folds (non-negative). The same key
    always lands in the same fold in any engine that can compute md5 —
    the leakage-safe way to split grouped data (all rows of a key share
    a fold by construction when keyed on the group id). Returns a pure
    Column bound to no particular DataFrame — apply it wherever the key
    column is in scope (the former ``df`` parameter was unused and
    misleading; ADVICE r6)."""
    from vivace_graph_v3_spark.pipeline.dedup import md5_hash64

    return F.pmod(md5_hash64(F.col(key_col).cast("string")),
                  F.lit(n_folds)).cast("long")


def split_conformal_report(df: DataFrame, y_col: str, yhat_col: str,
                           key_col: str, *, alpha: float = 0.1) -> DataFrame:
    """Split-conformal prediction-interval calibration (Papadopoulos et
    al. 2002; Vovk's inductive conformal): rows hash into a calibration
    and a test fold; qhat is the ceil((n_cal+1)(1-alpha))-th smallest
    absolute residual |y - yhat| on the calibration fold; the report
    checks empirical test coverage of [yhat - qhat, yhat + qhat]
    against the 1-alpha guarantee. Fully deterministic (md5 fold,
    rank-by-(score, key) tie-break).

    Returns one row: (n_cal, n_test, qhat, coverage_ppm, target_ppm).
    Scale shape: scores aggregate to their distinct-value grid before
    the quantile cumsum (domain-bounded when yhat is a grid prediction,
    e.g. a per-category encoder); coverage is one map-side-combined
    aggregate."""
    fold = hash_fold_assignment(key_col, n_folds=2)
    scored = df.select(
        fold.alias("fold"),
        F.abs(F.col(y_col).cast("double")
              - F.col(yhat_col).cast("double")).alias("s"))
    cal = scored.filter(F.col("fold") == 0)
    grid = cal.groupBy("s").agg(F.count(F.lit(1)).alias("c"))
    w = (Window.orderBy("s")  # distinct-score grid, see docstring
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = grid.withColumn("cum", F.sum("c").over(w))
    n_cal_df = cal.agg(F.count(F.lit(1)).alias("n_cal"))
    # k = ceil((n_cal + 1) * (1 - alpha)); qhat = k-th smallest score
    k = F.ceil((F.col("n_cal") + 1) * F.lit(1.0 - alpha))
    qhat = (cum.crossJoin(F.broadcast(n_cal_df))
            .filter(F.col("cum") >= k)
            .agg(F.min("s").alias("qhat")))
    test = scored.filter(F.col("fold") == 1)
    cov = (test.crossJoin(F.broadcast(qhat))
           .agg(F.count(F.lit(1)).alias("n_test"),
                F.sum(F.when(F.col("s") <= F.col("qhat"), 1).otherwise(0))
                .alias("n_covered")))
    return (n_cal_df.crossJoin(qhat).crossJoin(cov)
            .select(F.col("n_cal").cast("long").alias("n_cal"),
                    F.col("n_test").cast("long").alias("n_test"),
                    F.round("qhat", 6).alias("qhat"),
                    # exact BIGINT half-up ppm (integer div, never a
                    # truncated double quotient)
                    F.expr("(n_covered * 2000000 + n_test) div "
                           "(n_test * 2)").cast("long")
                    .alias("coverage_ppm"),
                    F.lit(int((1 - alpha) * 1_000_000)).cast("long")
                    .alias("target_ppm")))


def kish_ess(df: DataFrame, weight_col: str, *,
             group_col: str | None = None) -> DataFrame:
    """Kish effective sample size and design effect of a weighted sample
    (Kish 1965): ESS = (Σw)²/Σw², deff = n·Σw²/(Σw)². The diagnostic a
    training-mix pipeline runs on its per-document sampling weights —
    a mix whose deff is 3 wastes two-thirds of its token budget on
    re-seen documents.

    Weights are integer units (caller contract — e.g. token counts or
    milli-weights), so both ratios are exact BIGINT ``div`` in milli
    units, matching the oracle at any engine. Returns one row per group
    (or one global row): (group, n, sum_w, sum_w2, ess_milli,
    deff_milli).

    Scale shape: ONE map-side-combined aggregate per group — the two
    moments and the count; nothing downstream of the group grid."""
    w = F.col(weight_col).cast("long")
    grp = (F.col(group_col) if group_col else F.lit("all")).alias("g")
    g = (df.select(grp, w.alias("w"))
         .groupBy("g")
         .agg(F.count(F.lit(1)).alias("n"), F.sum("w").alias("s"),
              F.sum(F.col("w") * F.col("w")).alias("q")))
    return g.select(
        F.col("g").alias(group_col or "scope"),
        F.col("n").cast("long").alias("n"),
        F.col("s").cast("long").alias("sum_w"),
        F.col("q").cast("long").alias("sum_w2"),
        F.expr("s * s * 1000 div q").cast("long").alias("ess_milli"),
        F.expr("n * q * 1000 div (s * s)").cast("long")
        .alias("deff_milli"))


def bh_fdr(stats: DataFrame, hit_col: str, n_col: str, key_cols: list[str],
           *, q_milli: int = 100) -> DataFrame:
    """Benjamini–Hochberg step-up FDR control (Benjamini & Hochberg
    1995) over m empirical rates: each hypothesis i carries an exact
    rational rate p_i = hits_i / n_i; BH sorts p ascending and rejects
    the smallest k hypotheses where k = max{i : p_(i) <= q·i/m}. The
    multiple-testing gate an experimentation pipeline runs over
    per-segment metrics before acting on "significant" cells.

    Exactness: the BH inequality is evaluated by integer
    cross-multiplication (hits·m·1000 <= i·q_milli·n — never a float
    compare); the SORT key is the IEEE double hits/n, which both
    engines produce bit-identically from the same integers (one
    correctly-rounded division), with the key columns as tiebreak.

    Returns one row per hypothesis: key columns + (n, hits, p, rank,
    rejected). Scale shape: one map-side-combined aggregate built the
    (hits, n) grid upstream; everything here is windows over the
    m-row hypothesis grid (domain-bounded)."""
    p = (F.col(hit_col).cast("double") / F.col(n_col).cast("double"))
    base = stats.withColumn("p", p)  # one correctly-rounded division —
    # bit-identical in both engines, safe as a sort key unrounded
    w = Window.orderBy(F.col("p").asc(), *[F.col(c).asc() for c in key_cols])
    m = Window.partitionBy(F.lit(1))
    ranked = (base.withColumn("rank", F.row_number().over(w))
              .withColumn("m", F.count(F.lit(1)).over(m)))
    cond = (F.col(hit_col).cast("long") * F.col("m") * 1000
            <= F.col("rank") * F.lit(q_milli) * F.col(n_col).cast("long"))
    ranked = ranked.withColumn(
        "k", F.max(F.when(cond, F.col("rank")).otherwise(0)).over(m))
    return (ranked.select(*key_cols,
                          F.col(n_col).cast("long").alias("n"),
                          F.col(hit_col).cast("long").alias("hits"),
                          "p", F.col("rank").cast("long").alias("rank"),
                          (F.col("rank") <= F.col("k")).alias("rejected")))


def krippendorff_alpha_nominal(df: DataFrame, label_a: str,
                               label_b: str) -> DataFrame:
    """Krippendorff's alpha for NOMINAL data with two raters per unit
    and no missing values (Krippendorff 2004, coincidence-matrix form):
    alpha = 1 − (N−1)·D / Σ_c n_c(N−n_c), where each unit contributes
    its ordered label pairs to the coincidence counts, D = number of
    disagreeing ordered pairs, N = 2n total values, and n_c the value
    marginals. The inter-annotator (or model-vs-model) agreement gate a
    labeling pipeline runs before trusting a silver dataset; unlike
    Cohen's kappa (``classifier_kappa``) it generalizes to missing data
    and many raters — this is the two-rater complete-data kernel.

    All quantities are exact integers; alpha is reported as
    alpha_ppm = 1e6 − (N−1)·D·1e6 div Σ_c n_c(N−n_c) (numerator
    non-negative, so ``div`` is floor in both engines).

    Scale shape: one map-side-combined aggregate per (a, b) label-pair
    cell (grid-bounded by |labels|²); the marginals and the alpha fold
    run on that grid."""
    pairs = (df.select(F.col(label_a).cast("string").alias("a"),
                       F.col(label_b).cast("string").alias("b"))
             .groupBy("a", "b").agg(F.count(F.lit(1)).alias("c")))
    # ordered coincidences: each unit contributes (a,b) AND (b,a)
    cells = (pairs.select(F.col("a").alias("x"), F.col("b").alias("y"), "c")
             .unionByName(pairs.select(F.col("b").alias("x"),
                                       F.col("a").alias("y"), "c"))
             .groupBy("x", "y").agg(F.sum("c").alias("o")))
    marg = cells.groupBy("x").agg(F.sum("o").alias("n_c"))
    tot = (cells.agg(
        F.sum("o").alias("N"),
        F.sum(F.when(F.col("x") != F.col("y"), F.col("o")).otherwise(0))
        .alias("D"))
        .crossJoin(F.broadcast(
            marg.agg(F.sum(F.col("n_c") * F.col("n_c")).alias("sum_nc2"),
                     F.count(F.lit(1)).alias("n_categories"))))
        .withColumn("denom", F.col("N") * F.col("N") - F.col("sum_nc2")))
    return tot.select(
        (F.col("N") / 2).cast("long").alias("n_units"),
        F.col("n_categories").cast("long").alias("n_categories"),
        F.col("D").cast("long").alias("n_disagree_pairs"),
        # denom = 0 iff every value is one category: alpha undefined
        F.when(F.col("denom") > 0,
               F.expr("1000000 - ((N - 1) * D * 1000000) div denom"))
        .cast("long").alias("alpha_ppm"))


def isotonic_fit(df: DataFrame, bin_col: str, label_col: str) -> DataFrame:
    """Exact weighted isotonic regression (PAVA) of a binary outcome's
    rate against an ordered integer bin — the monotone calibration map a
    quality/score classifier is squeezed through before it gates a corpus
    (Zadrozny & Elkan, KDD 2002 use isotonic regression exactly for
    classifier calibration).

    Computed via the greatest-convex-minorant characterization (Barlow,
    Bartholomew, Bremner & Brunk 1972; Robertson, Wright & Dykstra 1988):
    the isotonic fit over bin b is the slope of the lower convex hull of
    the cumulative points P_j = (sum of n, sum of pos) up to bin j
    (origin prepended), on the hull edge whose x-span covers bin b. Every
    hull test is an integer cross product — point j is OFF the hull iff
    some chord (i, k), i < j < k, passes strictly below it:
    (y_j - y_i)(x_k - x_i) > (y_k - y_i)(x_j - x_i) — evaluated in
    DECIMAL(38,0), exact while counts stay below ~10^18 (a 100 TB corpus
    is ~10^12 docs; products reach counts^2 ~ 10^24 < 10^38). No float
    enters the fit, so the result is engine-exact at any SF, and the
    selected hull EDGE is unique even under fraction ties (collinear hull
    points yield identical slopes either way).

    Scale shape: ONE map-side-combined aggregate reduces the corpus to
    the |bins| grid; everything after (the O(B^3) chord triple join, the
    edge window, the covering range join) runs on B-row relations —
    volume-independent driver-free plans. Returns one row per non-empty
    bin: (bin, n, n_pos, rate_ppm, fitted_ppm), fitted_ppm nondecreasing
    in bin, pool-wise mass-preserving (sum n*fitted == sum pos exactly in
    fraction space; ppm output floors)."""
    bins = (df.groupBy(F.col(bin_col).alias("bin"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col(label_col).cast("long")).alias("pos")))
    w = Window.orderBy("bin")
    pts0 = bins.select(
        "bin", "n", "pos",
        F.row_number().over(w).alias("idx"),
        F.sum("n").over(w).alias("x"),
        F.sum("pos").over(w).alias("y"))
    origin = df.sparkSession.range(1).select(
        F.lit(0).alias("idx"), F.lit(0).cast("long").alias("x"),
        F.lit(0).cast("long").alias("y"))
    pts = pts0.select("idx", "x", "y").unionByName(origin)

    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    i, j, k = pts.alias("i"), pts.alias("j"), pts.alias("k")
    removed = (j.join(i, F.col("i.idx") < F.col("j.idx"))
               .join(k, F.col("j.idx") < F.col("k.idx"))
               .filter(d38(F.col("j.y") - F.col("i.y"))
                       * d38(F.col("k.x") - F.col("i.x"))
                       > d38(F.col("k.y") - F.col("i.y"))
                       * d38(F.col("j.x") - F.col("i.x")))
               .select(F.col("j.idx").alias("idx")).dropDuplicates())
    verts = pts.join(removed, "idx", "left_anti")

    vw = Window.orderBy("idx")
    edges = (verts.select(
        F.lag("idx").over(vw).alias("u_idx"), F.col("idx").alias("v_idx"),
        (F.col("y") - F.lag("y").over(vw)).alias("dy"),
        (F.col("x") - F.lag("x").over(vw)).alias("dx"))
        .filter(F.col("u_idx").isNotNull()))

    return (pts0.alias("b")
            .join(edges.alias("e"),
                  (F.col("e.u_idx") < F.col("b.idx"))
                  & (F.col("b.idx") <= F.col("e.v_idx")))
            .select(
                F.col("b.bin").alias("bin"), F.col("b.n").alias("n"),
                F.col("b.pos").alias("n_pos"),
                F.expr("pos * 1000000L div n").alias("rate_ppm"),
                F.expr("dy * 1000000L div dx").alias("fitted_ppm"))
            .orderBy("bin"))


def mcnemar_test(df: DataFrame, pred_a: Column, pred_b: Column,
                 label: Column) -> DataFrame:
    """McNemar's paired test for two classifiers on the same rows
    (McNemar 1947): the 2x2 correctness-agreement table and the
    continuity-corrected chi-square statistic, all exact integers.

    n01 = A wrong, B right; n10 = A right, B wrong (the discordant
    cells — the only information the test uses); chi2_cc_ppm =
    (|n01 - n10| - 1)^2 * 1e6 div (n01 + n10), NULL when no discordant
    pairs. The squared term carries in DECIMAL(38,0) (the vmr_ppm_expr
    discipline): in LONG, (|n01-n10|-1)^2 * 1e6 wraps silently past
    ~3M discordant rows under non-ANSI Spark; the numerator is
    non-negative so decimal `div` matches BIGINT floor exactly. One
    map-side-combined aggregate over the table — linear at any volume,
    one output row."""
    a_ok = (pred_a == label).cast("int")
    b_ok = (pred_b == label).cast("int")
    agg = df.agg(
        F.sum(F.when((a_ok == 1) & (b_ok == 1), 1).otherwise(0))
        .cast("long").alias("n11"),
        F.sum(F.when((a_ok == 1) & (b_ok == 0), 1).otherwise(0))
        .cast("long").alias("n10"),
        F.sum(F.when((a_ok == 0) & (b_ok == 1), 1).otherwise(0))
        .cast("long").alias("n01"),
        F.sum(F.when((a_ok == 0) & (b_ok == 0), 1).otherwise(0))
        .cast("long").alias("n00"))
    # Edwards correction clamped at 0 (|b-c| = 0 must not score 1)
    return agg.withColumn("chi2_cc_ppm", F.expr(
        "CASE WHEN n01 + n10 > 0 THEN "
        "CAST(greatest(abs(n01 - n10) - 1, 0L) AS DECIMAL(38,0))"
        " * greatest(abs(n01 - n10) - 1, 0L)"
        " * 1000000 div (n01 + n10) END"))


def cochran_q(df: DataFrame, preds: list[Column],
              label: Column) -> DataFrame:
    """Cochran's Q omnibus test for k paired binary classifiers on the
    same rows (Cochran 1950) — the k-way generalization of
    :func:`mcnemar_test`: do the classifiers have equal marginal
    accuracy? x_ij = 1 iff classifier j is correct on row i;
    Q = (k-1) * (k * sum_j G_j^2 - S^2) / (k * S - sum_i L_i^2) with
    G_j the per-classifier correct counts, L_i the per-row correct
    counts, S = sum L_i. Chi-square with k-1 df under H0.

    Exactness: the numerator carries in DECIMAL(38,0) (G_j^2 ~ n^2
    leaves BIGINT with the same ~3M-row horizon the McNemar fix
    closed); it is non-negative by Cauchy-Schwarz, so decimal `div`
    matches BIGINT floor. One map-side-combined aggregate — k+3
    running sums, one output row (n, k, s, sl2, q_ppm; q_ppm NULL when
    the denominator is 0, i.e. every row is all-correct or
    all-wrong)."""
    k = len(preds)
    if k < 2:
        raise ValueError("cochran_q needs at least 2 classifiers")
    oks = [(p == label).cast("long").alias(f"x{j}")
           for j, p in enumerate(preds)]
    base = df.select(*oks)
    row_sum = None
    for j in range(k):
        row_sum = F.col(f"x{j}") if row_sum is None \
            else row_sum + F.col(f"x{j}")
    agg = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        *[F.sum(f"x{j}").cast("long").alias(f"g{j}") for j in range(k)],
        F.sum(row_sum).cast("long").alias("s"),
        F.sum(row_sum * row_sum).cast("long").alias("sl2"))
    g_sq = " + ".join(f"CAST(g{j} AS DECIMAL(38,0)) * g{j}"
                      for j in range(k))
    return agg.select(
        "n", F.lit(k).cast("long").alias("k"), "s", "sl2",
        F.expr(
            f"CASE WHEN {k} * s - sl2 > 0 THEN "
            f"CAST({k - 1} AS DECIMAL(38,0)) * ({k} * ({g_sq})"
            f" - CAST(s AS DECIMAL(38,0)) * s)"
            f" * 1000000 div ({k} * s - sl2) END").alias("q_ppm"))


def effect_size_report(df: DataFrame, group_col: str, value_col: str,
                       group_a, group_b) -> DataFrame:
    """Two-sample effect sizes between groups of an integer-valued
    measure: Cohen's d (standardized mean difference, pooled SD —
    Cohen 1988) and Cliff's delta (dominance probability difference,
    Cliff 1993) — the magnitude companions to the significance tests
    (:func:`mann_whitney_u`, anova): at corpus scale everything is
    "significant"; effect size is what decides whether a curation rule
    matters.

    Exactness: Cliff's delta counts cross-pair wins/losses exactly on
    the distinct-value grid (ca * cumulative cb below/above — never
    pair materialization), emitted as sign-split ppm so integer `div`
    (truncating) matches the oracle's floor on the non-negative
    magnitude. Cohen's d comes from exact DECIMAL(38,0) moment sums
    pushed through one fixed chain of correctly-rounded double ops
    (the mann_whitney z convention), rounded to 4 decimals. Scale: one
    aggregate to the value grid, a cumsum over that bounded grid, one
    output row."""
    gcol = F.col(group_col)
    grid = (df.filter(gcol.isin([group_a, group_b]))
            .groupBy(F.col(value_col).cast("long").alias("v"))
            .agg(F.sum(F.when(gcol == group_a, 1).otherwise(0)).alias("ca"),
                 F.sum(F.when(gcol == group_b, 1).otherwise(0)).alias("cb")))
    w = (Window.orderBy("v")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    grid = grid.withColumn("cum_b_le", F.sum("cb").over(w))
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = grid.agg(
        F.sum("ca").alias("n_a"), F.sum("cb").alias("n_b"),
        F.sum(d38(F.col("ca")) * (F.col("cum_b_le") - F.col("cb")))
        .alias("wins"),     # pairs with a-value > b-value
        F.sum(d38(F.col("ca")) * F.col("v")).alias("sum_a"),
        F.sum(d38(F.col("cb")) * F.col("v")).alias("sum_b"),
        F.sum(d38(F.col("ca")) * F.col("v") * F.col("v")).alias("ss_a"),
        F.sum(d38(F.col("cb")) * F.col("v") * F.col("v")).alias("ss_b"),
        F.sum(d38(F.col("ca")) * F.col("cum_b_le")).alias("a_ge"))
    # losses (a < b) = n_a*n_b - a_ge; wins = a_gt
    agg = agg.withColumn(
        "net", F.col("wins")
        - (d38(F.col("n_a")) * F.col("n_b") - F.col("a_ge")))
    na_d = F.col("n_a").cast("double")
    nb_d = F.col("n_b").cast("double")
    mean_a = F.col("sum_a").cast("double") / na_d
    mean_b = F.col("sum_b").cast("double") / nb_d
    var_pool = ((F.col("ss_a").cast("double") - na_d * mean_a * mean_a)
                + (F.col("ss_b").cast("double") - nb_d * mean_b * mean_b)) \
        / (na_d + nb_d - F.lit(2.0))
    delta = F.expr(
        "CASE WHEN n_a > 0 AND n_b > 0 THEN "
        "CAST(sign(net) AS BIGINT)"
        " * CAST(abs(net) * 1000000 div (CAST(n_a AS DECIMAL(38,0)) * n_b)"
        "        AS BIGINT) END")
    return agg.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        delta.alias("cliffs_delta_ppm"),
        F.round((mean_a - mean_b)
                / F.sqrt(var_pool), 4).alias("cohen_d"))


def confident_learning_audit(df: DataFrame, prob_col: str,
                             label_col: str) -> DataFrame:
    """Binary confident-joint label-error estimate (Northcutt et al.
    2021, "Confident Learning"): given a model probability p(y=1|x)
    and a (possibly noisy) binary label, class thresholds are the mean
    self-confidence of each labeled class (t1 = mean p over y=1,
    t0 = mean (1-p) over y=0); a row is CONFIDENTLY class j when its
    class-j probability clears t_j (argmax on double qualification),
    and off-diagonal cells of the joint — labeled i, confidently j≠i —
    estimate label errors.

    Exactness: probabilities enter as 6-decimal doubles and are lifted
    to exact ppm integers; thresholds are floor-divided sums (exact
    BIGINT), qualification and argmax are integer comparisons, so every
    cell count is engine-exact. Scale: two map-side-combined aggregates
    (thresholds, then cells) with the 1-row threshold frame broadcast —
    nothing corpus-sized moves. Returns one row: n, c00, c01, c10,
    c11, n_unconfident, label_errors, error_rate_ppm (NULL when no row
    is confident)."""
    p_ppm = F.round(F.col(prob_col) * 1_000_000).cast("long")
    y = F.col(label_col).cast("int")
    base = df.select(p_ppm.alias("p"), y.alias("y"))
    thr = base.agg(
        F.expr("sum(CASE WHEN y = 1 THEN p END)"
               " div sum(CASE WHEN y = 1 THEN 1L END)").alias("t1"),
        F.expr("sum(CASE WHEN y = 0 THEN 1000000 - p END)"
               " div sum(CASE WHEN y = 0 THEN 1L END)").alias("t0"))
    j = base.crossJoin(F.broadcast(thr))
    q1 = F.col("p") >= F.col("t1")
    q0 = (F.lit(1_000_000) - F.col("p")) >= F.col("t0")
    conf = (F.when(q1 & q0,
                   F.when(F.col("p") * 2 >= 1_000_000, 1).otherwise(0))
            .when(q1, 1).when(q0, 0))
    cell = j.select("y", conf.alias("j"))
    agg = cell.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        *[F.sum(F.when((F.col("y") == i) & (F.col("j") == jj), 1)
                .otherwise(0)).cast("long").alias(f"c{i}{jj}")
          for i in (0, 1) for jj in (0, 1)],
        F.sum(F.when(F.col("j").isNull(), 1).otherwise(0))
        .cast("long").alias("n_unconfident"))
    return agg.select(
        "n", "c00", "c01", "c10", "c11", "n_unconfident",
        (F.col("c01") + F.col("c10")).alias("label_errors"),
        F.expr("CASE WHEN c00 + c01 + c10 + c11 > 0 THEN "
               "(c01 + c10) * 1000000 div (c00 + c01 + c10 + c11) END")
        .alias("error_rate_ppm"))
