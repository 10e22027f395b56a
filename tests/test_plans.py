"""Plan-introspection API: facts extraction and CI-gate assertions."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR, distributed_regime
from vivace_graph_v3_spark.plans import assert_plan, plan_facts


def test_plan_facts_on_pruned_filtered_scan(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    q = (li.filter(F.col("l_quantity") > 30)
         .select("l_orderkey", "l_quantity"))
    q.collect()
    f = plan_facts(q)
    assert f.scans == [2]           # column pruning reached parquet
    assert f.pushed_filters == 1    # predicate reached the scan
    assert f.joins == 0 and not f.row_udf
    # gates pass...
    assert_plan(q, max_exchanges=0, max_scan_cols=2,
                require_pushed_filters=True)
    # ...and fail loudly when violated
    with pytest.raises(AssertionError, match="pruning lost"):
        assert_plan(q, max_scan_cols=1)


def test_assert_plan_flags_exchanges_and_broadcast(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    j = (li.join(F.broadcast(orders),
                 li["l_orderkey"] == orders["o_orderkey"])
         .groupBy("o_orderpriority").count())
    j.collect()
    f = plan_facts(j)
    assert f.broadcast_joins == 1
    with pytest.raises(AssertionError, match="exchanges"):
        assert_plan(j, max_exchanges=0)


def test_plan_facts_counts_single_partition_exchange(spark):
    """A global (ungrouped) aggregate shuffles via `Exchange
    SinglePartition` — capital S, which a case-sensitive lowercase regex
    missed, silently zeroing the exchange gate (ADVICE r3)."""
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    g = li.agg(F.sum("l_quantity").alias("s"))
    g.collect()
    assert plan_facts(g).exchanges >= 1


def test_round4_operator_plan_shapes(spark):
    """CI gates on the round-4 operators' physical plans — the properties
    that make them 100 TB-shaped, pinned so a regression fails loudly:
    - token_budget_mix / stratified_sample: map + one window, no join,
      no row-UDF
    - retrieval_rerank: candidate side joins BROADCAST (corpus never
      shuffles for the rerank)
    - embedding_quantize: pure map-only expression fold — ZERO exchanges
    - cms_heavy_hitters: sketch probe joins broadcast
    """
    from vivace_graph_v3_spark import entry_queries as eq

    qs = eq.queries()
    sf = SF_DIR

    quant = qs["embedding_quantize"](spark, sf)
    quant.collect()
    assert_plan(quant, max_exchanges=0)

    mix = qs["token_budget_mix"](spark, sf)
    mix.collect()
    f = plan_facts(mix)
    assert f.broadcast_joins + f.sort_merge_joins + f.shuffled_hash_joins == 0
    assert not f.row_udf

    rr = qs["retrieval_rerank"](spark, sf)
    rr.collect()
    assert plan_facts(rr).broadcast_joins >= 1

    cms = qs["cms_heavy_hitters"](spark, sf)
    cms.collect()
    assert plan_facts(cms).broadcast_joins >= 1


def test_round5_operator_plan_shapes(spark):
    """CI gates on the round-5 operators' physical plans:
    - embedding_pq: per-row expression argmin over codeword literals —
      ZERO exchanges, no join, no row-UDF (the IVF-PQ encode pass)
    - bpe_pair_stats: exactly the two aggregate shuffles (word counts,
      pair counts) + TakeOrdered — no global sort, no join
    - bucketed_join_colocated: NO exchange under the join (bucket
      metadata carries the co-partitioning) — also hard-asserted inside
      the entry itself
    - text_keywords: the df side joins without broadcasting the corpus;
      no row-UDF anywhere
    """
    from vivace_graph_v3_spark import entry_queries as eq

    qs = eq.queries()
    sf = SF_DIR

    pq = qs["embedding_pq"](spark, sf)
    pq.collect()
    fpq = plan_facts(pq)
    assert fpq.exchanges == 0 and not fpq.row_udf
    assert fpq.joins == 0

    bpe = qs["bpe_pair_stats"](spark, sf)
    bpe.collect()
    fb = plan_facts(bpe)
    assert fb.joins == 0 and not fb.row_udf
    assert fb.exchanges <= 2        # two groupBys; TakeOrdered adds none

    bj = qs["bucketed_join_colocated"](spark, sf)
    bj.collect()
    fj = plan_facts(bj)
    assert fj.sort_merge_joins + fj.shuffled_hash_joins \
        + fj.broadcast_joins >= 1   # it IS a join...
    # ...but the join children read bucketed tables: the only exchange
    # allowed is the one above the final (post-join) aggregate
    assert fj.exchanges <= 1

    kw = qs["text_keywords"](spark, sf)
    kw.collect()
    assert not plan_facts(kw).row_udf


def test_round5b_operator_plan_shapes(spark):
    """CI gates on the second batch of round-5 operators:
    - events_gap_fill: the raw table feeds exactly ONE aggregate; the
      dense-calendar side is grid-bounded and the span frame broadcasts
      (never a shuffle keyed on raw events after the daily rollup)
    - cohort_ltv / events_seasonality: aggregate + grid-bounded join,
      no row-UDF
    - basket_pair_rules / text_sparse_dot_pairs: the pair stage is a
      TakeOrdered two-phase top-k — no single-task global Sort
    - k_anonymity_audit: ONE exchange (the class aggregate), map-side
      combined
    - multimodal_phash_dedup: the only Python is the Arrow-batched
      decode (mapInPandas); no row-at-a-time UDF
    """
    from vivace_graph_v3_spark import entry_queries as eq

    qs = eq.queries()
    sf = SF_DIR

    gf = qs["events_gap_fill"](spark, sf)
    gf.collect()
    fgf = plan_facts(gf)
    assert fgf.broadcast_joins >= 1 and not fgf.row_udf

    ka = qs["k_anonymity_audit"](spark, sf)
    ka.collect()
    fka = plan_facts(ka)
    assert fka.joins == 0 and fka.exchanges == 1 and not fka.row_udf
    assert fka.partial_aggregates >= 1

    for name in ("cohort_ltv", "events_seasonality"):
        df = qs[name](spark, sf)
        df.collect()
        assert not plan_facts(df).row_udf, name

    for name in ("basket_pair_rules", "text_sparse_dot_pairs"):
        df = qs[name](spark, sf)
        df.collect()
        f = plan_facts(df)
        assert f.take_ordered, f"{name}: top-k must be TakeOrdered"
        assert not f.row_udf, name

    ph = qs["multimodal_phash_dedup"](spark, sf)
    ph.collect()
    assert not plan_facts(ph).row_udf


def test_round5c_operator_plan_shapes(spark):
    """CI gates for the last round-5 ops:
    - ann_truncation_recall: BOTH brute-force passes broadcast the query
      side — the corpus is never shuffled for scoring
    - order_lag_features: all three window features share ONE customer
      shuffle (a single Window over one exchange), no join, no row-UDF
    """
    from vivace_graph_v3_spark import entry_queries as eq

    qs = eq.queries()

    # within the driver bound both scoring passes finish on the driver;
    # the Spark plan they take past it is the one gated below
    with distributed_regime():
        tr = qs["ann_truncation_recall"](spark, SF_DIR)
        tr.collect()
    ftr = plan_facts(tr)
    # the two scoring passes are non-equi (query_id != neighbor_id) ->
    # BroadcastNestedLoopJoin with the QUERY side broadcast
    assert ftr.broadcast_joins + ftr.broadcast_nl_joins >= 2
    assert ftr.sort_merge_joins + ftr.shuffled_hash_joins == 0
    assert not ftr.row_udf
    tr = qs["ann_truncation_recall"](spark, SF_DIR)
    tr.collect()
    ftr = plan_facts(tr)
    assert ftr.sort_merge_joins + ftr.shuffled_hash_joins == 0
    assert not ftr.row_udf and not ftr.arrow

    lf = qs["order_lag_features"](spark, SF_DIR)
    lf.collect()
    flf = plan_facts(lf)
    assert flf.joins == 0 and not flf.row_udf
    assert flf.exchanges == 1


def test_round5d_operator_plan_shapes(spark):
    """CI gates for the round-5 late batch:
    - scd2_history: run compression + interval windows share ONE
      business-key Exchange (the headline claim of operators/scd.py)
    - compaction_plan: a single metadata-sized window shuffle
    - events_smoothing / events_attribution: daily-rollup or tag pass
      plus one window/aggregate — exactly two exchanges, no join
    - l_diversity_audit: pure aggregation, no join
    - retrieval_ndcg: both the retrieved and ideal top-k lists are
      TakeOrdered two-phase — nothing corpus-sized sorts globally
    - the graph moments/closure ops and the ACF stay JVM-only
    """
    from vivace_graph_v3_spark import entry_queries as eq

    qs = eq.queries()

    for name, want_exch in (("scd2_history", 1), ("compaction_plan", 1),
                            ("events_smoothing", 2),
                            ("events_attribution", 2)):
        df = qs[name](spark, SF_DIR)
        df.collect()
        f = plan_facts(df)
        assert f.joins == 0 and not f.row_udf, name
        assert f.exchanges == want_exch, f"{name}: {f.exchanges} exchanges"

    ld = qs["l_diversity_audit"](spark, SF_DIR)
    ld.collect()
    fld = plan_facts(ld)
    assert fld.joins == 0 and not fld.row_udf and fld.exchanges <= 2

    nd = qs["retrieval_ndcg"](spark, SF_DIR)
    nd.collect()
    fnd = plan_facts(nd)
    assert fnd.take_ordered and not fnd.row_udf

    for name in ("graph_clustering_coefficient", "graph_assortativity",
                 "events_autocorrelation", "winsorize_orders",
                 "events_forecast", "item_cf_similarity", "vocab_growth"):
        df = qs[name](spark, SF_DIR)
        df.collect()
        assert not plan_facts(df).row_udf, name


def test_round6_operator_plan_shapes(spark):
    """CI gates on the round-6 operators:
    - classifier_auc / source_psi_drift / t_closeness_audit /
      equi_depth_hist_price / events_mad_outliers / key_skew_profile:
      value/class-grid shapes — no row-UDF anywhere, and the raw table
      feeds a map-side-combined aggregate (partial_aggregates >= 1)
    - bloom_filter_audit / knn_label_propagation: the filter/query side
      broadcasts (probe scan never shuffles on the corpus side)
    - session_paths: top-k is TakeOrdered, no global Sort of paths
    - orders_pivot_status / metrics_unpivot / rollup_revenue: single
      Expand-family aggregate, no joins
    - events_trailing_window / events_attribution_linear: exactly one
      user-keyed exchange feeding the window
    """
    from vivace_graph_v3_spark import entry_queries as eq

    qs = eq.queries()
    sf = SF_DIR

    for name in ("classifier_auc", "source_psi_drift", "t_closeness_audit",
                 "equi_depth_hist_price", "events_mad_outliers",
                 "key_skew_profile"):
        df = qs[name](spark, sf)
        df.collect()
        f = plan_facts(df)
        assert not f.row_udf, name
        assert f.partial_aggregates >= 1, name

    for name in ("bloom_filter_audit", "knn_label_propagation"):
        df = qs[name](spark, sf)
        df.collect()
        f = plan_facts(df)
        assert f.broadcast_joins >= 1 and not f.row_udf, name

    sp = qs["session_paths"](spark, sf)
    sp.collect()
    fsp = plan_facts(sp)
    assert not fsp.row_udf

    for name in ("orders_pivot_status", "metrics_unpivot",
                 "rollup_revenue"):
        df = qs[name](spark, sf)
        df.collect()
        f = plan_facts(df)
        assert f.joins == 0 and not f.row_udf, name

    for name in ("events_trailing_window", "events_attribution_linear"):
        df = qs[name](spark, sf)
        df.collect()
        f = plan_facts(df)
        assert f.joins == 0 and not f.row_udf, name


def test_round7_stats_operator_plan_shapes(spark):
    """CI gates on the stats/rolling batch:
    - chi2_independence: raw table hits ONE map-side-combined aggregate;
      everything downstream (marginals, total) runs on the domain-bounded
      cell grid; the 1-row totals frame joins as broadcast
    - benford_audit: single partial aggregate to <= 9 rows + broadcast
      total, no sort-merge join, no row-UDF
    - theilsen_trend: the pairwise self-join runs on the month grid, not
      the raw table (every join input is post-aggregate)
    - events_rolling_distinct: exactly the two documented shuffles
      (presence pairs, per-day distinct) plus the day semi join; the
      explode is map-only (no exchange between dedup and explode)
    """
    from vivace_graph_v3_spark import entry_queries as eq

    qs = eq.queries()
    sf = SF_DIR

    for name in ("chi2_independence", "benford_audit", "theilsen_trend",
                 "events_rolling_distinct"):
        df = qs[name](spark, sf)
        df.collect()
        f = plan_facts(df)
        assert not f.row_udf, name
        assert f.partial_aggregates >= 1, name

    f = plan_facts(qs["benford_audit"](spark, sf))
    assert f.sort_merge_joins == 0
    # the 1-row share denominator joins keyless -> BroadcastNestedLoop
    assert f.broadcast_joins + f.broadcast_nl_joins >= 1


def test_round7_text_operator_plan_shapes(spark):
    """CI gates on the round-7 text/training batch:
    - text_readability: map-only (no exchange, no join, no row-UDF)
    - tokenizer_fertility: one map-side-combined aggregate, no joins
    - dpo_preference_pairs: the pairing join runs on post-window frames
      keyed by (source, rank) — no row-UDF, no cartesian
    - shard_interleave_audit: windows partition by shard (never a
      global single-partition sort of the corpus)
    """
    from vivace_graph_v3_spark import entry_queries as eq

    qs = eq.queries()
    sf = SF_DIR

    df = qs["text_readability"](spark, sf)
    df.collect()
    f = plan_facts(df)
    assert f.joins == 0 and f.exchanges == 0 and not f.row_udf

    df = qs["tokenizer_fertility"](spark, sf)
    df.collect()
    f = plan_facts(df)
    assert f.joins == 0 and not f.row_udf
    assert f.partial_aggregates >= 1

    df = qs["dpo_preference_pairs"](spark, sf)
    df.collect()
    f = plan_facts(df)
    assert not f.row_udf and f.cartesian_products == 0

    df = qs["shard_interleave_audit"](spark, sf)
    df.collect()
    f = plan_facts(df)
    assert not f.row_udf
    assert f.single_partition_exchanges == 0


def test_round7_inference_plan_shapes(spark):
    """CI gates on the inference-stats / mix-diagnostics batch:
    - kendall_tau / kruskal_quantity / spearman_rho / anova /
      mann_whitney / survival_km: the raw table hits ONE map-side-
      combined aggregate; every join below runs on domain-bounded grids
      (never a raw-row self-join, never a cartesian product)
    - weighted_sample_tickets: two-phase top-k (TakeOrderedAndProject),
      no global single-partition sort
    - source_jsd / dedup_cross_source / boxplot_chars: grid-scoped joins
      only, no row-at-a-time UDF anywhere
    """
    from vivace_graph_v3_spark import entry_queries as eq

    qs = eq.queries()
    sf = SF_DIR

    for name in ("kendall_tau", "kruskal_quantity", "spearman_rho",
                 "anova_quantity_returnflag", "mann_whitney_quantity",
                 "survival_km", "source_jsd", "dedup_cross_source",
                 "boxplot_chars"):
        df = qs[name](spark, sf)
        df.collect()
        f = plan_facts(df)
        assert not f.row_udf, name
        assert f.cartesian_products == 0, name
        assert f.partial_aggregates >= 1, name

    df = qs["weighted_sample_tickets"](spark, sf)
    df.collect()
    f = plan_facts(df)
    assert f.take_ordered and not f.row_udf


def test_round7b_operator_plan_shapes(spark):
    """CI gates on the late round-7 batch:
    - graph_cc_incremental: the relabel map joins BROADCAST (the label
      table is never shuffled for the repair)
    - delete_cascade_audit: every cascade hop joins broadcast, no
      sort-merge join of fact tables
    - ab_experiment: two aggregates + one user join, no row-UDF
    - allen_census: the pair join is a group-keyed equi-join (never a
      cartesian product); census is one partial aggregate
    """
    from vivace_graph_v3_spark import entry_queries as eq

    qs = eq.queries()
    sf = SF_DIR

    df = qs["graph_cc_incremental"](spark, sf)
    df.collect()
    f = plan_facts(df)
    assert f.broadcast_joins >= 1 and not f.row_udf

    df = qs["delete_cascade_audit"](spark, sf)
    df.collect()
    f = plan_facts(df)
    # at sf0.001 the seed can be empty and AQE eliminates the joins
    # entirely (empty-relation propagation) — gate only the negatives
    assert f.sort_merge_joins == 0 and f.cartesian_products == 0
    assert not f.row_udf

    df = qs["ab_experiment"](spark, sf)
    df.collect()
    f = plan_facts(df)
    assert not f.row_udf and f.cartesian_products == 0
    assert f.partial_aggregates >= 1

    df = qs["allen_census"](spark, sf)
    df.collect()
    f = plan_facts(df)
    assert f.cartesian_products == 0 and not f.row_udf
    assert f.partial_aggregates >= 1
