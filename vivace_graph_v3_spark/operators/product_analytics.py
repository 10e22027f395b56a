"""Event-stream product analytics: ordered funnels and cohort retention.

Beyond the reference's event surface (its events are graph mutations;
SURVEY.md §2.8) — these are the two canonical event-table reports every
warehouse runs, included so the engine's analytics surface matches what a
user of a timeseries/OLAP store expects.

Timestamps follow the engine's events convention (util.normalize_event_ts):
raw nanosecond longs, so every derived quantity (spans, week buckets,
offsets) is integer arithmetic — timezone- and engine-independent. A
timestamp-typed column is converted on entry.

Scale shape: every step is a filtered scan (predicate pushdown on
event_type) aggregated to one row per user — all joins are user-keyed
hash joins over frames no larger than |users|, never event-sized, and
every aggregate map-side-combines. No windows over raw events.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

from vivace_graph_v3_spark.util import materialized

NANOS_PER_DAY = 86_400_000_000_000


def _nanos(events: DataFrame, ts_col: str) -> DataFrame:
    dt = dict((f.name, f.dataType) for f in events.schema.fields)[ts_col]
    if isinstance(dt, (TimestampType, TimestampNTZType)):
        return events.withColumn(
            ts_col, F.unix_micros(F.col(ts_col).cast("timestamp"))
            * F.lit(1000))
    if not isinstance(dt, LongType):
        return events.withColumn(ts_col, F.col(ts_col).cast("long"))
    return events


def funnel(events: DataFrame, steps: list[str], *,
           ts_col: str = "ts", user_col: str = "user_id",
           type_col: str = "event_type",
           max_span_days: int | None = None) -> DataFrame:
    """Ordered-sequence funnel: a user converts step i when an event of
    type ``steps[i]`` occurs STRICTLY AFTER their step i-1 conversion
    time (first qualifying occurrence wins; ``max_span_days`` optionally
    bounds the whole funnel to a window after the step-1 event). Returns
    one row per step: (step, step_name, n_users, conversion) with
    ``conversion`` = n_users / step-1 users, integer-round-half-up to 6
    decimals (engine-stable)."""
    events = _nanos(events, ts_col)
    ts = F.col(ts_col)
    prev = (events.filter(F.col(type_col) == steps[0])
            .groupBy(user_col).agg(F.min(ts).alias("t"))
            .withColumn("t0", F.col("t")))
    per_step = [prev]
    for s in steps[1:]:
        nxt = (events.filter(F.col(type_col) == s)
               .join(prev.select(user_col, "t", "t0"), user_col)
               .filter(ts > F.col("t")))
        if max_span_days is not None:
            nxt = nxt.filter(
                ts <= F.col("t0") + F.lit(max_span_days * NANOS_PER_DAY))
        prev = (nxt.groupBy(user_col, "t0")
                .agg(F.min(ts).alias("t")))
        per_step.append(prev)
    counts = [
        df.agg(F.count(F.lit(1)).alias("n_users"))
        .select(F.lit(i + 1).alias("step"),
                F.lit(steps[i]).alias("step_name"), "n_users")
        for i, df in enumerate(per_step)]
    out = reduce(lambda a, b: a.unionByName(b), counts)
    base = out.filter(F.col("step") == 1) \
        .select(F.col("n_users").alias("__base"))
    conv = F.when(F.col("__base") > 0, F.expr(
        "(n_users * 2000000 + __base) div (__base * 2)").cast("double")
        / F.lit(1_000_000.0)).otherwise(F.lit(0.0))
    return (out.crossJoin(F.broadcast(base))
            .select("step", "step_name", "n_users",
                    conv.alias("conversion")))


def cohort_retention(events: DataFrame, *, ts_col: str = "ts",
                     user_col: str = "user_id") -> DataFrame:
    """Weekly cohort retention: users are cohorted by the Monday-truncated
    week of their first event; for every (cohort_week, week_offset) the
    count of cohort users active in that week. Returns (cohort_week DATE,
    week_offset, n_users) — the classic retention triangle.

    All-integer: epoch-day = nanos div day; Monday truncation uses
    day 0 = Thursday, so dow = (day + 3) mod 7 and week start =
    day - dow; offsets are day-difference div 7."""
    events = _nanos(events, ts_col)
    # integer div — a double quotient of an ~1e18 nanos value loses
    # sub-256ns precision and could flip a midnight-boundary day
    day = F.expr(f"`{ts_col}` div {NANOS_PER_DAY}")
    wk_start = day - (day + 3) % 7
    first = (events.groupBy(user_col)
             .agg(F.min(wk_start).alias("cw")))
    active = (events.select(F.col(user_col), wk_start.alias("wk"))
              .dropDuplicates())
    return (active.join(first, user_col)
            .select(F.date_from_unix_date(F.col("cw").cast("int"))
                    .alias("cohort_week"),
                    ((F.col("wk") - F.col("cw")) / 7).cast("long")
                    .alias("week_offset"))
            .groupBy("cohort_week", "week_offset")
            .agg(F.count(F.lit(1)).alias("n_users")))


def cusum_changepoint(events: DataFrame, *, ts_col: str = "ts",
                      group_col: str = "event_type",
                      value_col: str = "value") -> DataFrame:
    """CUSUM change-point detection (Page 1954) per group over the daily
    value series: the day where the cumulative deviation from the group
    mean peaks in magnitude — the classic single-change locator for
    level shifts in a metric stream.

    Engine-exact formulation: daily values are scaled to integers
    (floor(x*1e4 + 0.5), bit-determined on doubles), and the deviation is
    cross-multiplied instead of divided — dev_d = s_d * n_days - total —
    so the running CUSUM is pure BIGINT arithmetic; the peak day and its
    deviation are identical in any engine, no floating accumulation.

    Returns (group, change_day, peak_dev, n_days): change_day = earliest
    day attaining max |cusum|, peak_dev the signed scaled deviation
    there.

    Scale shape: the corpus is touched once by the (group, day)
    aggregate, which map-side combines; everything after is
    days-x-groups bounded (window cumsum per group over the day grid —
    the ks_drift grid discipline)."""
    day = F.date_format(F.col(ts_col), "yyyy-MM-dd")
    scaled = F.floor(F.col(value_col) * 10000.0 + 0.5).cast("long")
    daily = (events.groupBy(F.col(group_col).alias("g"), day.alias("d"))
             .agg(F.sum(scaled).alias("s")))
    totals = (daily.groupBy("g")
              .agg(F.sum("s").alias("total"),
                   F.count(F.lit(1)).alias("n_days")))
    wc = (Window.partitionBy("g").orderBy("d")
          .rowsBetween(Window.unboundedPreceding, 0))
    cum = (daily.join(totals, "g")
           .withColumn("cusum",
                       F.sum(F.col("s") * F.col("n_days")).over(wc)
                       - F.row_number().over(
                           Window.partitionBy("g").orderBy("d"))
                       * F.col("total")))
    w_peak = Window.partitionBy("g").orderBy(
        F.abs("cusum").desc(), F.col("d").asc())
    return (cum.withColumn("__rn", F.row_number().over(w_peak))
            .filter(F.col("__rn") == 1)
            .select(F.col("g").alias(group_col),
                    F.col("d").alias("change_day"),
                    F.col("cusum").alias("peak_dev"),
                    F.col("n_days").cast("long").alias("n_days")))


def cohort_ltv(orders: DataFrame, *, ts_col: str = "o_orderdate",
               user_col: str = "o_custkey",
               value_col: str = "o_totalprice") -> DataFrame:
    """Cohort lifetime-value triangle: customers are cohorted by the month
    of their first order; for every (cohort_month, month_offset) the total
    revenue that cohort spent in that month plus the distinct buyers.
    Complements cohort_retention (headcount) with the revenue dimension —
    the standard LTV curve input.

    All-integer: months are year*12+month ordinals, revenue is per-order
    half-up cents (floor(x*100+0.5) on the double, bit-determined) summed
    as BIGINT. cohort_month renders '%04d-%02d' so both engines
    canonicalize identically.

    Scale shape: one (user -> first month) aggregate and one
    (cohort, offset) aggregate, both map-side combining; the join carrying
    first-month onto orders is user-bounded, and the output is
    months^2-bounded regardless of order volume."""
    m = (F.year(ts_col) * 12 + F.month(ts_col) - 1).cast("long")
    cents = F.floor(F.col(value_col) * 100.0 + 0.5).cast("long")
    per = orders.select(F.col(user_col).alias("u"), m.alias("m"),
                        cents.alias("cents"))
    first = per.groupBy("u").agg(F.min("m").alias("cm"))
    return (per.join(first, "u")
            .groupBy("cm", (F.col("m") - F.col("cm")).alias("month_offset"))
            .agg(F.sum("cents").alias("revenue_cents"),
                 F.countDistinct("u").alias("n_customers"))
            .select(F.format_string("%04d-%02d", (F.col("cm") / 12)
                                    .cast("int"),
                                    (F.col("cm") % 12 + 1).cast("int"))
                    .alias("cohort_month"),
                    "month_offset", "revenue_cents", "n_customers"))


def basket_pair_rules(lineitem: DataFrame, *, order_col: str = "l_orderkey",
                      item_col: str = "l_partkey", min_support: int = 2,
                      top_k: int = 50) -> DataFrame:
    """Market-basket association pairs (Agrawal & Srikant 1994 support/
    confidence, pair stage): parts co-occurring in the same order, with
    co-count, each side's basket count, and integer-ppm confidences.

    Returns top_k rows (part_a < part_b, pair_count, count_a, count_b,
    conf_a_to_b_ppm, conf_b_to_a_ppm) by pair_count, ties broken on ids —
    deterministic. ppm = pair*1000000 div count, pure BIGINT (exact while
    pair_count < 9e12; beyond that switch the literal to DECIMAL(38,0)).

    Scale shape: the classic self-join on the order key, but on the
    DISTINCT (order, item) pairs so quantity-split lineitems don't
    inflate counts; baskets are naturally small (TPC-H ~4 items), so the
    per-order pair fan-out is k^2-bounded per basket, and the pair
    aggregate map-side combines. A pathological mega-basket would need a
    per-order item cap upstream — baskets here are order-bounded, unlike
    the document-shingle case that needs df caps."""
    items = (lineitem.select(F.col(order_col).alias("o"),
                             F.col(item_col).alias("i"))
             .distinct())
    freq = items.groupBy("i").agg(F.count(F.lit(1)).alias("cnt"))
    a = items.select("o", F.col("i").alias("ia"))
    b = items.select("o", F.col("i").alias("ib"))
    pairs = (a.join(b, "o")
             .filter(F.col("ia") < F.col("ib"))
             .groupBy("ia", "ib").agg(F.count(F.lit(1)).alias("pair_count"))
             .filter(F.col("pair_count") >= min_support))
    fa = freq.select(F.col("i").alias("ia"), F.col("cnt").alias("count_a"))
    fb = freq.select(F.col("i").alias("ib"), F.col("cnt").alias("count_b"))
    out = (pairs.join(fa, "ia").join(fb, "ib")
           .select(F.col("ia").alias("part_a"), F.col("ib").alias("part_b"),
                   "pair_count", "count_a", "count_b",
                   F.expr("pair_count * 1000000 div count_a")
                   .alias("conf_a_to_b_ppm"),
                   F.expr("pair_count * 1000000 div count_b")
                   .alias("conf_b_to_a_ppm")))
    return (out.orderBy(F.desc("pair_count"), "part_a", "part_b")
            .limit(top_k))


def dow_profile(events: DataFrame, *, ts_col: str = "ts",
                group_col: str = "event_type") -> DataFrame:
    """Day-of-week seasonality profile per group: event count for each
    weekday and its integer-ppm share of the group's total — the seasonal
    index a forecasting pipeline divides out before trend fitting.

    Weekday is computed from the epoch-day integer ((day+3) mod 7 + 1 with
    Monday=1, the cohort_retention convention) so both engines agree on
    boundaries without timezone/locale surface. share_ppm =
    n*1000000 div group_total, pure BIGINT.

    Scale shape: one (group, dow) map-side-combining aggregate over the
    corpus; the share join runs on the groups-x-7 bounded result."""
    events = _nanos(events, ts_col)
    day = F.expr(f"`{ts_col}` div {NANOS_PER_DAY}")
    dow = ((day + 3) % 7 + 1).cast("long")
    counts = (events.groupBy(F.col(group_col).alias("g"), dow.alias("dow"))
              .agg(F.count(F.lit(1)).alias("n_events")))
    totals = counts.groupBy("g").agg(F.sum("n_events").alias("total"))
    return (counts.join(totals, "g")
            .select(F.col("g").alias(group_col), "dow", "n_events",
                    F.expr("n_events * 1000000 div total")
                    .alias("share_ppm")))


def order_lag_features(orders: DataFrame, *, ts_col: str = "o_orderdate",
                       user_col: str = "o_custkey",
                       key_col: str = "o_orderkey",
                       value_col: str = "o_totalprice") -> DataFrame:
    """Per-entity sequential feature engineering — the windowed lag/rolling
    features an ML pipeline derives from an order history: per order its
    1-based index in the customer's history, days since the previous
    order (null for the first), and the rolling sum of the last 3 order
    values in half-up cents.

    All-integer (epoch-day arithmetic, cents BIGINT); the window orders
    by (day, order key) so same-day orders rank deterministically.

    Scale shape: ONE shuffle on the customer key serves all three window
    features (Spark computes them in a single Window physical operator);
    history length per customer is naturally bounded, so no skew
    mitigation is needed on this key shape."""
    day = F.unix_date(F.to_date(ts_col))
    cents = F.floor(F.col(value_col) * 100.0 + 0.5).cast("long")
    base = orders.select(F.col(key_col), F.col(user_col), day.alias("day"),
                         cents.alias("cents"))
    w = Window.partitionBy(user_col).orderBy("day", key_col)
    return base.select(
        key_col, user_col,
        F.row_number().over(w).cast("long").alias("order_idx"),
        (F.col("day") - F.lag("day").over(w)).cast("long").alias("gap_days"),
        F.sum("cents").over(w.rowsBetween(-2, 0)).alias("rolling3_cents"))


def autocorrelation(events: DataFrame, *, ts_col: str = "ts",
                    max_lag: int = 7) -> DataFrame:
    """Sample autocorrelation function of the daily event-count series,
    lags 1..max_lag — the stationarity diagnostic a forecasting pipeline
    runs before model selection (Box-Jenkins ACF).

    Exactness: with S = sum(x) and n = days, center as y_t = n*x_t - S
    (pure BIGINT — multiplying the classic (x_t - S/n) through by n).
    Then r_k = sum(y_t * y_{t-k}) / sum(y_t^2) exactly; the emitted
    acf_ppm = floor(num/den * 1e6 + 0.5) goes through one IEEE double
    division on identical integers, so both engines produce identical
    bits (no libm surface, no float accumulation order).

    Scale shape: the daily aggregate is one map-side-combining groupBy;
    everything after runs on the days-sized series (bounded by the
    retention window, thousands of rows at most), joined to itself per
    lag on an equi-key — negligible at any corpus size."""
    events = _nanos(events, ts_col)
    day = F.expr(f"`{ts_col}` div {NANOS_PER_DAY}")
    daily = (events.groupBy(day.alias("day"))
             .agg(F.count(F.lit(1)).alias("x")))
    stats = daily.agg(F.sum("x").alias("s"),
                      F.count(F.lit(1)).alias("n"))
    y = (daily.crossJoin(F.broadcast(stats))
         .select("day", (F.col("n") * F.col("x") - F.col("s")).alias("y")))
    den = y.agg(F.sum(F.col("y") * F.col("y")).alias("den"))
    spark = events.sparkSession
    lags = spark.range(1, max_lag + 1).select(F.col("id").alias("lag"))
    cur = y.select(F.col("day"), F.col("y").alias("y1"))
    prv = y.select(F.col("day").alias("pday"), F.col("y").alias("y0"))
    num = (lags.crossJoin(cur)
           .join(prv, F.col("day") - F.col("lag") == F.col("pday"))
           .groupBy("lag")
           .agg(F.sum(F.col("y1") * F.col("y0")).alias("num"),
                F.count(F.lit(1)).alias("n_terms")))
    return (num.crossJoin(F.broadcast(den))
            .select("lag", "n_terms",
                    F.floor(F.col("num").cast("double") / F.col("den")
                            * F.lit(1000000.0) + F.lit(0.5))
                    .cast("long").alias("acf_ppm"))
            .orderBy("lag"))


def series_smooth(events: DataFrame, *, ts_col: str = "ts",
                  taps: int = 8) -> DataFrame:
    """Truncated exponential smoothing (FIR form) of the daily event-count
    series: smooth_t = sum_{l<taps} x_{t-l} * 2^-l / sum of the weights
    present — the trend line a dashboard overlays on a daily metric.

    alpha is fixed at 1/2 so every weight 2^-l is an exact binary
    fraction: the weighted numerator is a sum of integers scaled by
    2^-(taps-1), exactly representable, and both engines produce
    bit-identical doubles before the single division (emitted as
    smooth_ppm via the floor(x*1e6+0.5) integer contract). Lags index
    prior OBSERVED days (row lags), so gap days don't contribute zero
    taps — the operator is gap-insensitive by construction.

    Scale shape: one groupBy to the daily series, then one window sorted
    by day over the days-sized frame — a single window operator computes
    all tap lags in one pass (one shuffle of thousands of rows)."""
    events = _nanos(events, ts_col)
    day = F.expr(f"`{ts_col}` div {NANOS_PER_DAY}")
    daily = (events.groupBy(day.alias("day"))
             .agg(F.count(F.lit(1)).alias("n_events")))
    w = Window.orderBy("day")
    num = F.lit(0.0)
    den = F.lit(0.0)
    for l in range(taps):
        x = F.lag("n_events", l).over(w) if l else F.col("n_events")
        wt = F.lit(2.0 ** (-l))
        num = num + F.coalesce(x.cast("double"), F.lit(0.0)) * wt
        den = den + F.when(x.isNotNull(), wt).otherwise(F.lit(0.0))
    return (daily.select(
        "day", "n_events",
        F.floor(num / den * F.lit(1000000.0) + F.lit(0.5))
        .cast("long").alias("smooth_ppm"))
        .orderBy("day"))


def attribution_last_touch(events: DataFrame, *,
                           conversion_type: str = "purchase",
                           touch_types: tuple = ("click", "view", "signup"),
                           window_days: int = 7,
                           ts_col: str = "ts", user_col: str = "user_id",
                           type_col: str = "event_type",
                           value_col: str = "value") -> DataFrame:
    """Last-touch marketing attribution: each conversion credits the
    user's most recent PRIOR touch event (strictly earlier in the
    (ts, event_type) order) within ``window_days``; report per-channel
    credited conversions and
    revenue. Conversions with no qualifying touch land in the
    '(organic)' row.

    Revenue sums in half-up cents (BIGINT) so cross-engine float
    accumulation order cannot drift the totals.

    Scale shape: the classic single-window formulation — union the
    tagged streams, ONE window shuffle on user_id carrying
    last(touch, ignorenulls), then filter to conversions: cost is one
    shuffle of the filtered event subset, never a conversions-x-touches
    join. Per-user frames are retention-bounded; the final per-channel
    aggregate is dimension-sized."""
    events = _nanos(events, ts_col)
    is_touch = F.col(type_col).isin(*touch_types)
    is_conv = F.col(type_col) == conversion_type
    tagged = (events.filter(is_touch | is_conv)
              .select(F.col(user_col).alias("u"), F.col(ts_col).alias("t"),
                      F.col(type_col).alias("et"),
                      F.floor(F.col(value_col) * 100.0 + 0.5).cast("long")
                      .alias("cents"),
                      F.when(is_touch, F.col(type_col)).alias("touch"),
                      F.when(is_touch, F.col(ts_col)).alias("touch_t")))
    w = (Window.partitionBy("u").orderBy("t", "et")
         .rowsBetween(Window.unboundedPreceding, -1))
    credited = (tagged.withColumn(
        "last_touch", F.last("touch", ignorenulls=True).over(w))
        .withColumn("last_touch_t", F.last("touch_t", ignorenulls=True).over(w))
        .filter(F.col("et") == conversion_type))
    horizon = F.lit(window_days * NANOS_PER_DAY)
    channel = F.when(
        F.col("last_touch_t").isNotNull()
        & (F.col("t") - F.col("last_touch_t") <= horizon),
        F.col("last_touch")).otherwise(F.lit("(organic)"))
    return (credited.groupBy(channel.alias("channel"))
            .agg(F.count(F.lit(1)).alias("n_conversions"),
                 F.sum("cents").alias("revenue_cents")))


def item_cf_similarity(orders: DataFrame, lineitem: DataFrame, *,
                       k: int = 5, min_pair: int = 2) -> DataFrame:
    """Item-item collaborative-filtering similarity (Sarwar et al. 2001):
    cosine over the binary customer-item matrix, top-k neighbors per
    item — the recommender complement to the per-ORDER basket rules
    (this one finds parts bought by the same CUSTOMER across orders).

    sim(i,j) = co(i,j) / sqrt(c_i * c_j) emitted as integer ppm: all
    counts are BIGINT, the product is exactly representable in a double
    at any realistic customer count, and IEEE sqrt/divide are correctly
    rounded — bit-stable across engines. rank is (sim desc, neighbor asc)
    deterministic.

    Scale shape: the user-item frame is DISTINCT (one row per customer x
    part); pair generation is a per-customer self-join, so fan-out is
    O(items-per-customer^2) per user — purchase-history-bounded, never
    catalog x catalog. The neighbor rank window runs over surviving
    pairs (min_pair prunes the tail first)."""
    ui = (orders.select(F.col("o_orderkey").alias("o"),
                        F.col("o_custkey").alias("u"))
          .join(lineitem.select(F.col("l_orderkey").alias("o"),
                                F.col("l_partkey").alias("i")), "o")
          .select("u", "i").dropDuplicates())
    freq = ui.groupBy("i").agg(F.count(F.lit(1)).alias("c"))
    a = ui.select("u", F.col("i").alias("ia"))
    b = ui.select("u", F.col("i").alias("ib"))
    pairs = (a.join(b, "u").filter(F.col("ia") < F.col("ib"))
             .groupBy("ia", "ib").agg(F.count(F.lit(1)).alias("co"))
             .filter(F.col("co") >= min_pair))
    pairs = (pairs
             .join(freq.select(F.col("i").alias("ia"),
                               F.col("c").alias("ca")), "ia")
             .join(freq.select(F.col("i").alias("ib"),
                               F.col("c").alias("cb")), "ib"))
    sim = F.floor(F.col("co").cast("double")
                  / F.sqrt((F.col("ca") * F.col("cb")).cast("double"))
                  * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    both = (pairs.select(F.col("ia").alias("item"),
                         F.col("ib").alias("neighbor"), "co",
                         sim.alias("sim_ppm"))
            .unionByName(pairs.select(
                F.col("ib").alias("item"), F.col("ia").alias("neighbor"),
                "co", sim.alias("sim_ppm"))))
    w = Window.partitionBy("item").orderBy(F.desc("sim_ppm"), "neighbor")
    return (both.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
            .select("item", "neighbor", F.col("co").cast("long").alias("co"),
                    "sim_ppm", "rank"))


def mad_outliers(events: DataFrame, *,
                 type_col: str = "event_type", value_col: str = "value",
                 k_tenths: int = 35) -> DataFrame:
    """Robust outlier summary per event type using MEDIAN / MAD instead
    of mean / sigma (Hampel identifier, k = 3.5 by default): the
    3-sigma flags of ``events_anomalies`` break down when the outliers
    themselves inflate sigma; median absolute deviation is 50%-
    breakdown robust.

    Exactness: values are half-up cents; the median is the LOWER median
    (min value whose doubled cumulative count reaches n) computed on the
    VALUE GRID — one map-side-combined (type, cents) count, cumulative
    window over distinct values only (the winsorize convention). The MAD
    repeats the same recipe on |v - median| — a second domain-bounded
    pass. A point is an outlier when |v - med| * 10 > k_tenths * MAD —
    all-BIGINT, no division.

    Returns (event_type, n, median_cents, mad_cents, n_outliers).

    Scale shape: two value-grid aggregates + one broadcast of the
    per-type thresholds back onto the counted grid (NOT the raw rows —
    outliers are counted from the grid, so the corpus is scanned once)."""
    cents = F.floor(F.col(value_col) * 100.0 + 0.5).cast("long")
    # NULL values would land in the value grid and sort differently
    # across engines (Spark nulls-first vs SQL nulls-last) — exclude
    # them from the distribution outright
    rows = (events.select(F.col(type_col).alias("g"), cents.alias("q"))
            .filter(F.col("q").isNotNull()))
    grid = rows.groupBy("g", "q").agg(F.count(F.lit(1)).alias("c"))
    tot = grid.groupBy("g").agg(F.sum("c").alias("n"))
    wg = (Window.partitionBy("g").orderBy("q")
          .rowsBetween(Window.unboundedPreceding, 0))
    med = (grid.withColumn("cum", F.sum("c").over(wg)).join(tot, "g")
           .groupBy("g", "n")
           .agg(F.min(F.when(F.col("cum") * 2 >= F.col("n"),
                             F.col("q"))).alias("med")))
    dev = (grid.join(F.broadcast(med), "g")
           .select("g", "n", "med", F.abs(F.col("q") - F.col("med"))
                   .alias("d"), "c"))
    dgrid = dev.groupBy("g", "n", "med", "d").agg(F.sum("c").alias("c"))
    wd = (Window.partitionBy("g").orderBy("d")
          .rowsBetween(Window.unboundedPreceding, 0))
    mad = (dgrid.withColumn("cum", F.sum("c").over(wd))
           .groupBy("g", "n", "med")
           .agg(F.min(F.when(F.col("cum") * 2 >= F.col("n"),
                             F.col("d"))).alias("mad")))
    out = (dgrid.select("g", "d", "c")
           .join(F.broadcast(mad), "g")
           .groupBy("g", "n", "med", "mad")
           .agg(F.sum(F.when(F.col("d") * 10 > F.lit(k_tenths)
                             * F.col("mad"), F.col("c"))
                      .otherwise(0)).alias("n_outliers")))
    return out.select(F.col("g").alias(type_col),
                      F.col("n").cast("long").alias("n"),
                      F.col("med").alias("median_cents"),
                      F.col("mad").alias("mad_cents"),
                      F.col("n_outliers").cast("long").alias("n_outliers"))


def attribution_linear(events: DataFrame, *,
                       conversion_type: str = "purchase",
                       touch_types: tuple = ("click", "view", "signup"),
                       window_days: int = 7,
                       ts_col: str = "ts", user_col: str = "user_id",
                       type_col: str = "event_type",
                       value_col: str = "value") -> DataFrame:
    """LINEAR multi-touch attribution — each conversion's credit splits
    EQUALLY across every prior touch within ``window_days`` (vs
    attribution_last_touch's winner-take-all). Per-channel shares are
    counted with one RANGE window per conversion (conditional counts
    per channel in the same frame — no conversions-x-touches join), so
    the plan stays a single user-keyed window shuffle exactly like the
    last-touch shape.

    Credit is exact integer arithmetic: a conversion with t total
    touches and c_ch touches of one channel adds c_ch * 1e6 div t
    credit-ppm and revenue_cents * c_ch div t cents to that channel
    (truncating div; remainders — at most t-1 microppm/cents per
    conversion — are dropped, deterministically). Touchless conversions
    credit '(organic)' in full. Returns
    (channel, credit_ppm, revenue_cents)."""
    events = _nanos(events, ts_col)
    is_touch = F.col(type_col).isin(*touch_types)
    is_conv = F.col(type_col) == conversion_type
    tagged = (events.filter(is_touch | is_conv)
              .select(F.col(user_col).alias("u"),
                      F.col(ts_col).alias("t"),
                      F.col(type_col).alias("et"),
                      F.floor(F.col(value_col) * 100.0 + 0.5).cast("long")
                      .alias("cents")))
    horizon = window_days * NANOS_PER_DAY
    w = (Window.partitionBy("u").orderBy("t")
         .rangeBetween(-horizon, -1))
    counted = tagged
    for ch in touch_types:
        # a conversion with NO prior rows gets an empty frame — sum()
        # over it is NULL, which would silently drop the conversion
        # from both the credited and the organic branch: coalesce to 0
        counted = counted.withColumn(
            f"c_{ch}",
            F.coalesce(F.sum(F.when(F.col("et") == ch, 1).otherwise(0))
                       .over(w), F.lit(0)))
    convs = counted.filter(F.col("et") == conversion_type)
    total = reduce(lambda a, b: a + b,
                   [F.col(f"c_{ch}") for ch in touch_types])
    convs = convs.withColumn("tot", total)
    stacked = convs.select("cents", "tot", F.explode(F.array(*[
        F.struct(F.lit(ch).alias("channel"),
                 F.col(f"c_{ch}").alias("c")) for ch in touch_types
    ])).alias("s")).select("cents", "tot", "s.channel", "s.c")
    credited = (stacked.filter(F.col("tot") > 0)
                .groupBy("channel")
                .agg(F.sum(F.expr("c * 1000000 div tot"))
                     .cast("long").alias("credit_ppm"),
                     F.sum(F.expr("cents * c div tot"))
                     .cast("long").alias("revenue_cents"))
                .filter(F.col("credit_ppm") > 0))
    organic = (convs.filter(F.col("tot") == 0)
               .agg(F.count(F.lit(1)).alias("nc"),
                    F.coalesce(F.sum("cents"), F.lit(0)).alias("rc"))
               .select(F.lit("(organic)").alias("channel"),
                       (F.col("nc") * 1_000_000).cast("long")
                       .alias("credit_ppm"),
                       F.col("rc").cast("long").alias("revenue_cents"))
               .filter(F.col("credit_ppm") > 0))
    return credited.unionAll(organic)


def session_paths(events: DataFrame, *, ts_col: str = "ts",
                  user_col: str = "user_id", type_col: str = "event_type",
                  depth: int = 3, top_k: int = 20) -> DataFrame:
    """Top entry paths: the first ``depth`` event types of each
    (user, day) session concatenated with '>' — the clickstream
    path-mining report (where do sessions start and go). Deterministic:
    events order by (ts, event_id is not assumed — ties order by
    event type) within the session; paths rank by (count desc, path
    asc).

    Scale shape: ONE window shuffle on (user, day) ranks events; the
    first-``depth`` pivot is a conditional aggregate on the same keys
    (no second shuffle — same partitioning); path counting is a
    map-side-combinable aggregate on the path string; top-k is a
    TakeOrderedAndProject, never a global sort."""
    events = _nanos(events, ts_col)
    day = F.expr(f"`{ts_col}` div {NANOS_PER_DAY}")
    base = events.select(F.col(user_col).alias("u"), day.alias("d"),
                         F.col(ts_col).alias("t"),
                         F.col(type_col).alias("et"))
    w = Window.partitionBy("u", "d").orderBy("t", "et")
    ranked = (base.withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") <= depth))
    slots = [F.max(F.when(F.col("rn") == i + 1, F.col("et")))
             .alias(f"e{i}") for i in range(depth)]
    sess = ranked.groupBy("u", "d").agg(*slots)
    path = F.concat_ws(">", *[F.coalesce(F.col(f"e{i}"), F.lit(""))
                              for i in range(depth)])
    counts = (sess.select(path.alias("path"))
              .groupBy("path").agg(F.count(F.lit(1)).alias("n_sessions")))
    wr = Window.partitionBy(F.lit(1)).orderBy(
        F.col("n_sessions").desc(), F.col("path").asc())
    return (counts.withColumn("rank", F.row_number().over(wr))
            .filter(F.col("rank") <= top_k)
            .select("path", F.col("n_sessions").cast("long")
                    .alias("n_sessions"),
                    F.col("rank").cast("long").alias("rank")))


def interpurchase_gaps(orders: DataFrame, customer: DataFrame, *,
                       ts_col: str = "o_orderdate",
                       cust_col: str = "o_custkey",
                       key_col: str = "o_orderkey",
                       seg_col: str = "c_mktsegment",
                       cust_key: str = "c_custkey") -> DataFrame:
    """Inter-purchase gap distribution per customer segment: consecutive
    order-day gaps from one per-customer window (lag over epoch days,
    orderkey tiebreak), then exact value-grid lower-median / p90 / max
    per segment — the replenishment-cycle feature block of a demand
    model, and the corpus-level view order_lag_features' per-row lags
    don't give you.

    One customer-keyed window shuffle; the gap VALUE GRID per segment is
    domain-bounded (distinct gap lengths), so the percentile windows
    never touch row-scale data. All integer."""
    day = F.expr(f"unix_micros(CAST(`{ts_col}` AS TIMESTAMP))"
                 " div 86400000000")
    w = Window.partitionBy("cust").orderBy("d", "k")
    gaps = (orders.select(F.col(cust_col).alias("cust"),
                          day.alias("d"), F.col(key_col).alias("k"))
            .withColumn("gap", F.col("d") - F.lag("d").over(w))
            .filter(F.col("gap").isNotNull()))
    seg = customer.select(F.col(cust_key).alias("cust"),
                          F.col(seg_col).alias("segment"))
    grid = (gaps.join(seg, "cust")
            .groupBy("segment", "gap").agg(F.count(F.lit(1)).alias("c")))
    tot = grid.groupBy("segment").agg(F.sum("c").alias("n"))
    wg = (Window.partitionBy("segment").orderBy("gap")
          .rowsBetween(Window.unboundedPreceding, 0))
    cum = grid.withColumn("cum", F.sum("c").over(wg)).join(tot, "segment")
    return (cum.groupBy("segment")
            .agg(F.any_value("n").cast("long").alias("n_gaps"),
                 F.min(F.when(F.col("cum") * 2 >= F.col("n"),
                              F.col("gap"))).cast("long")
                 .alias("median_gap_days"),
                 F.min(F.when(F.col("cum") * 10 >= F.col("n") * 9,
                              F.col("gap"))).cast("long")
                 .alias("p90_gap_days"),
                 F.max("gap").cast("long").alias("max_gap_days")))


def rolling_distinct_users(events: DataFrame, *, ts_col: str = "ts",
                           user_col: str = "user_id",
                           window_days: int = 7) -> DataFrame:
    """EXACT trailing-window distinct-user count per day (rolling WAU for
    window_days=7) — the sliding companion of the calendar-bucket DAU/MAU
    entry. Distinct-over-sliding-window cannot be expressed as a window
    aggregate (COUNT(DISTINCT) OVER RANGE is unsupported in Spark and
    quadratic where supported), so it is rewritten as coverage explosion:

      distinct (user, day) presence pairs           (1 shuffle, combine)
      -> each pair covers days [d, d+W-1]           (map-only, fanout W)
      -> distinct (cover_day, user), count per day  (1 shuffle)
      -> keep days that exist in the data            (semi join)

    Scale shape: the exploded frame is W x |distinct user-days|, bounded
    by W x corpus-activity, not W x rows; both shuffles are map-side
    combined. For 100 TB keep W small (7/28) or switch to the sketch
    (sketch_approx_distinct) — this operator is the exact contract.
    Returns (epoch_day, n_users) for every day present in the events."""
    ev = _nanos(events, ts_col)
    day = F.expr(f"`{ts_col}` div {86_400_000_000_000}")
    pairs = (ev.select(day.alias("d"), F.col(user_col).alias("u"))
             .dropDuplicates())
    days = pairs.select("d").dropDuplicates()
    covered = pairs.select(
        F.explode(F.sequence(F.col("d"),
                             F.col("d") + F.lit(window_days - 1)))
        .alias("cover_d"), "u")
    return (covered.join(days.withColumnRenamed("d", "cover_d"), "cover_d",
                         "left_semi")
            .groupBy("cover_d")
            .agg(F.count_distinct("u").alias("n_users"))
            .select(F.col("cover_d").cast("long").alias("epoch_day"),
                    F.col("n_users").cast("long").alias("n_users")))


def ab_experiment_report(events: DataFrame, *, user_col: str = "user_id",
                         type_col: str = "event_type",
                         exposure_type: str = "view",
                         convert_type: str = "purchase",
                         min_conversions: int = 1) -> DataFrame:
    """Deterministic two-arm A/B experiment report: every EXPOSED user
    is assigned an arm by content-keyed hash (the dataset_split
    convention — assignment survives re-runs, engine changes, and data
    top-ups, which RNG assignment cannot), converters are exposed users
    with at least ``min_conversions`` conversion events. Per arm: n_users, n_converters,
    exact integer conv_ppm; both rows carry the pooled two-proportion
    z statistic (arm 1 minus arm 0) as a pinned double chain over the
    exact counts.

    Scale shape: two distinct-user aggregates + one user-keyed left
    join; the per-arm frame is 2 rows; no windows."""
    from vivace_graph_v3_spark.pipeline.dedup import md5_hash64

    exposed = (events.filter(F.col(type_col) == exposure_type)
               .select(F.col(user_col).alias("u")).dropDuplicates())
    conv = (events.filter(F.col(type_col) == convert_type)
            .groupBy(F.col(user_col).alias("u"))
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") >= min_conversions)
            .select("u", F.lit(1).alias("cv")))
    assigned = (exposed.join(conv, "u", "left")
                .select(F.pmod(md5_hash64(F.col("u").cast("string")),
                               F.lit(2)).alias("arm"),
                        F.coalesce(F.col("cv"), F.lit(0)).alias("cv")))
    per = (assigned.groupBy("arm")
           .agg(F.count(F.lit(1)).alias("n_users"),
                F.sum("cv").alias("n_converters")))
    # conditional aggregation (not filter+crossJoin): a missing arm
    # leaves n0/n1 NULL instead of emptying the report
    zrow = per.agg(
        F.sum(F.when(F.col("arm") == 0, F.col("n_users"))).alias("n0"),
        F.sum(F.when(F.col("arm") == 0, F.col("n_converters"))).alias("c0"),
        F.sum(F.when(F.col("arm") == 1, F.col("n_users"))).alias("n1"),
        F.sum(F.when(F.col("arm") == 1, F.col("n_converters"))).alias("c1"))
    nd0 = F.col("n0").cast("double")
    nd1 = F.col("n1").cast("double")
    p0 = F.col("c0").cast("double") / nd0
    p1 = F.col("c1").cast("double") / nd1
    pp = ((F.col("c0") + F.col("c1")).cast("double")
          / (F.col("n0") + F.col("n1")).cast("double"))
    den = F.sqrt(pp * (F.lit(1.0) - pp)
                 * (F.lit(1.0) / nd0 + F.lit(1.0) / nd1))
    z = zrow.select(
        F.when(F.col("n0").isNull() | F.col("n1").isNull(), F.lit(0.0))
        .when(den > 0, (p1 - p0) / den).otherwise(F.lit(0.0))
        .alias("z"))
    return (per.crossJoin(F.broadcast(z))
            .select(F.col("arm").cast("long").alias("arm"),
                    "n_users", "n_converters",
                    F.expr("n_converters * 1000000 div n_users")
                    .alias("conv_ppm"),
                    F.round("z", 6).alias("z")))


def cuped_adjusted_report(units: DataFrame, *, arm_col: str = "arm",
                          pre_col: str = "pre",
                          post_col: str = "post") -> DataFrame:
    """CUPED variance-reduced A/B report (Deng, Xu, Kohavi & Walker,
    WSDM 2013): theta = cov(pre, post) / var(pre) from POOLED exact
    integer moments; each arm's adjusted mean is then
    mean(post) - theta * (mean(pre) - grand mean(pre)) — linear in the
    per-arm sums, so no per-row float accumulation exists anywhere.
    ``pre``/``post`` must be integer-valued (cents discipline); products
    accumulate in DECIMAL(38,0), exact far past BIGINT.

    Returns one row per arm: n, raw mean, CUPED-adjusted mean, plus the
    pooled theta and the variance-reduction factor 1 - rho^2 (the CUPED
    guarantee) as constants. Scale: one map-side-combined moment
    aggregate; everything after is |arms| rows."""
    x = F.col(pre_col).cast("decimal(19,0)")
    y = F.col(post_col).cast("decimal(19,0)")
    m = units.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"), F.sum(y).alias("sy"),
        F.sum((x * x).cast("decimal(38,0)")).alias("sxx"),
        F.sum((x * y).cast("decimal(38,0)")).alias("sxy"),
        F.sum((y * y).cast("decimal(38,0)")).alias("syy"))
    nd = F.col("n").cast("double")
    cov = F.col("sxy").cast("double") / nd \
        - (F.col("sx").cast("double") / nd) \
        * (F.col("sy").cast("double") / nd)
    varx = F.col("sxx").cast("double") / nd \
        - (F.col("sx").cast("double") / nd) \
        * (F.col("sx").cast("double") / nd)
    vary = F.col("syy").cast("double") / nd \
        - (F.col("sy").cast("double") / nd) \
        * (F.col("sy").cast("double") / nd)
    consts = m.select(
        (cov / varx).alias("theta"),
        (F.col("sx").cast("double") / nd).alias("grand_mean_pre"),
        (F.lit(1.0) - (cov / varx) * (cov / varx) * varx / vary)
        .alias("var_ratio"))
    arms = (units.groupBy(F.col(arm_col).alias("arm"))
            .agg(F.count(F.lit(1)).alias("n_units"),
                 F.sum(x).alias("ax"), F.sum(y).alias("ay")))
    and_ = F.col("n_units").cast("double")
    return (arms.crossJoin(F.broadcast(consts))
            .select("arm", F.col("n_units").cast("long").alias("n_units"),
                    F.round(F.col("ay").cast("double") / and_, 6)
                    .alias("raw_mean"),
                    F.round(F.col("ay").cast("double") / and_
                            - F.col("theta")
                            * (F.col("ax").cast("double") / and_
                               - F.col("grand_mean_pre")), 6)
                    .alias("cuped_mean"),
                    F.round("theta", 6).alias("theta"),
                    F.round("var_ratio", 6).alias("var_ratio")))


def shapley_attribution(events: DataFrame, *, user_col: str = "user_id",
                        type_col: str = "event_type",
                        conversion_type: str = "purchase",
                        channels: list[str] | None = None) -> DataFrame:
    """EXACT Shapley-value marketing attribution (Shapley 1953; the
    cooperative-game alternative to last-touch / linear attribution):
    each touch channel's credit for conversions is its average marginal
    contribution over every coalition ordering,

        phi_i = sum over T not containing i of
                |T|! (n-1-|T|)! / n! * (v(T u {i}) - v(T)),

    with the characteristic function v(T) = number of CONVERTED users
    whose full touch set is covered by coalition T. With n channels the
    whole computation lives on a 2^n-row coalition grid (n is the
    CHANNEL vocabulary — single digits — never the user count), so the
    game is solved exactly: per-user touch masks are one map-side
    aggregate, v is a subset-sum over the mask grid, and the factorial
    weights are pre-multiplied integers so phi is exact BIGINT scaled by
    n! (reported alongside floor-ppm shares of v(N)).

    Returns one row per channel: (channel, phi_scaled, phi_ppm,
    v_full) where phi_ppm is the channel's exact Shapley share of
    all coalition-covered conversions. Efficiency check:
    sum(phi_scaled) = n! * (v(N) - v(empty))."""
    import math as _math

    spark = events.sparkSession
    if channels is None:
        channels = sorted(r[0] for r in events
                          .select(type_col).distinct().collect()
                          if r[0] != conversion_type)
    n = len(channels)
    bit = {c: 1 << i for i, c in enumerate(channels)}
    mask_expr = reduce(
        lambda a, c: a + F.lit(bit[c]) * F.max(
            F.when(F.col(type_col) == c, 1).otherwise(0)),
        channels, F.lit(0))
    per_user = (events.groupBy(user_col)
                .agg(mask_expr.alias("mask"),
                     F.max(F.when(F.col(type_col) == conversion_type, 1)
                           .otherwise(0)).alias("conv")))
    grid = (per_user.filter(F.col("conv") == 1)
            .groupBy("mask").agg(F.count(F.lit(1)).alias("c")))
    full = (1 << n) - 1
    coal = spark.range(1 << n).select(F.col("id").cast("int").alias("t"))
    v = (coal.join(grid, F.expr("(mask & t) = mask"), "left")
         .groupBy("t").agg(F.coalesce(F.sum("c"), F.lit(0)).alias("v")))
    # literal Shapley term table: (channel, T, T|{i}, |T|!(n-1-|T|)!)
    terms = []
    for c in channels:
        i = bit[c]
        rest = [b for ch, b in bit.items() if ch != c]
        for m in range(1 << (n - 1)):
            t = sum(b for j, b in enumerate(rest) if m >> j & 1)
            size = bin(t).count("1")
            w = _math.factorial(size) * _math.factorial(n - 1 - size)
            terms.append((c, t, t | i, w))
    tdf = F.broadcast(spark.createDataFrame(
        terms, "channel string, t int, ti int, w long"))
    va = v.select(F.col("t").alias("ti"), F.col("v").alias("v_with"))
    vb = v.select(F.col("t").alias("t"), F.col("v").alias("v_without"))
    vf = v.filter(F.col("t") == full).select(F.col("v").alias("v_full"))
    return (tdf.join(va, "ti").join(vb, "t")
            .groupBy("channel")
            .agg(F.sum(F.col("w") * (F.col("v_with") - F.col("v_without")))
                 .cast("long").alias("phi_scaled"))
            .crossJoin(F.broadcast(vf))
            .select("channel", "phi_scaled",
                    F.expr(f"CASE WHEN v_full > 0 THEN phi_scaled * 1000000"
                           f" div ({_math.factorial(n)} * v_full) END")
                    .alias("phi_ppm"),
                    F.col("v_full").cast("long").alias("v_full")))


def markov_steady_state(events: DataFrame, *, user_col: str = "user_id",
                        type_col: str = "event_type", ts_col: str = "ts",
                        tiebreak_col: str = "event_id",
                        iters: int = 12) -> DataFrame:
    """Steady-state distribution of the user-journey event-type Markov
    chain by ``iters`` exact-integer power iterations — the long-run
    share of attention each state captures, next to the per-state
    entropy telemetry.

    Engine-exactness by construction, not by float discipline: the
    transition matrix is held in millionths via the split floor division
    p_ij = (n_ij div n_i) * 1e6 + ((n_ij mod n_i) * 1e6) div n_i (exact
    floor of n_ij*1e6/n_i while per-state outgoing totals n_i stay below
    ~9.2e12 — beyond that the one-time split needs 128-bit math, noted
    here as the deployment seam), and the iterate pi (scaled 1e9)
    advances as pi'[j] = sum_i (pi[i] * p_ij) div 1e6 — every term is a
    LONG-safe integer product (< 1e15) and integer addition is exactly
    commutative, so no reduction-order hazard exists at any volume.
    States with no outgoing transitions evaporate their mass (the
    absorbing-boundary convention; the TPC-H-ish event stream has none).

    Scale shape: ONE windowed lag + aggregate reduces any volume to the
    |states|^2 transition grid; the ``iters`` joins run on |states|-row
    frames. Returns (event_type, steady_ppm) with steady_ppm =
    pi_final div 1000, ordered by event_type."""
    w = Window.partitionBy(user_col).orderBy(ts_col, tiebreak_col)
    pairs = (events.select(F.col(user_col), F.col(ts_col),
                           F.col(tiebreak_col),
                           F.col(type_col).alias("to_s"))
             .withColumn("from_s", F.lag("to_s").over(w))
             .filter(F.col("from_s").isNotNull())
             .groupBy("from_s", "to_s").agg(F.count(F.lit(1)).alias("n")))
    na = pairs.groupBy("from_s").agg(F.sum("n").alias("na"))
    with materialized() as m:
        trans, _ = m.checkpoint(
            pairs.join(na, "from_s")
            .select("from_s", "to_s",
                    F.expr("(n div na) * 1000000L"
                           " + ((n % na) * 1000000L) div na").alias("p")))
        states, n_states = m.checkpoint(
            events.select(F.col(type_col).alias("state")).dropDuplicates())
        pi = states.select("state",
                           F.lit(1000000000 // n_states).cast("long").alias("v"))
        for _ in range(iters):
            stepped = (trans.join(pi.select(F.col("state").alias("from_s"),
                                            F.col("v").alias("pv")), "from_s")
                       .groupBy(F.col("to_s").alias("state"))
                       .agg(F.sum(F.expr("(pv * p) div 1000000L")).alias("v")))
            pi, _ = m.checkpoint(
                states.join(stepped, "state", "left")
                .select("state",
                        F.coalesce("v", F.lit(0)).cast("long").alias("v")),
                rebase=True)
        return m.keep(pi.select(F.col("state").alias("event_type"),
                                F.expr("v div 1000L").alias("steady_ppm"))
                      .orderBy("event_type"))
