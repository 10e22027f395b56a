"""Regression tests for the round-8 VERDICT/ADVICE exactness findings.

Each test fails on the pre-fix code:
- grid_dbscan derived cells with double floor(x/eps): at coordinate
  magnitude ~2^60 the double rounding of x itself (spacing 256) puts
  truly eps-adjacent points ~128 cells apart, so the 9-offset cell
  join never generates their pair and real neighbors are lost; the
  refine also used `** 2` (pow -> DOUBLE) against the "exact integer
  end to end" claim (operators/spatial.py).
- binary_signatures silently mis-packed dims > 64 (shiftleft past bit
  63 wraps) and emitted an IntegerType sig_hi for dims <= 32,
  breaking unions with frames built at dims > 32
  (pipeline/similarity.py).
- mcnemar_test's chi2_cc_ppm carried (|n01-n10|-1)^2 * 1e6 in LONG,
  which leaves BIGINT range past ~3.04M discordant rows while the
  DuckDB oracle stays exact (operators/stats_inference.py).
"""

import pyspark.sql.functions as F
import pytest


def test_grid_dbscan_exact_cells_at_huge_integer_coords(spark):
    # two points 2 apart (eps=3) at |x| ~ 2^60: double(x) rounds to a
    # 256-spaced grid, separating their floor(x/eps) cells by ~128 —
    # the old code loses the pair and calls both points noise
    from vivace_graph_v3_spark.operators.spatial import grid_dbscan

    x1, x2 = 2**60 + 127, 2**60 + 129
    df = spark.createDataFrame([(1, x1, 0), (2, x2, 0)], ["id", "x", "y"])
    out = {r["id"]: (r["cluster"], r["role"])
           for r in grid_dbscan(df, eps=3, min_pts=2).collect()}
    assert out[1] == (1, "core")
    assert out[2] == (1, "core")


def test_grid_dbscan_integer_path_has_no_pow_or_double_cast(spark):
    # with integer coords + integer eps the docstring claims exact
    # integer arithmetic end to end: no POWER() and no double floor
    # division anywhere in the neighbor plan
    from vivace_graph_v3_spark.operators.spatial import grid_dbscan

    df = spark.createDataFrame(
        [(1, 0, 0), (2, 1, 0), (3, 2, 0), (4, 50, 50)], ["id", "x", "y"])
    out = grid_dbscan(df, eps=2, min_pts=2)
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "POWER(" not in plan.upper()
    rows = {r["id"]: (r["cluster"], r["role"]) for r in out.collect()}
    assert rows[1] == (1, "core")
    assert rows[2] == (1, "core")
    assert rows[3] == (1, "core")
    assert rows[4] == (None, "noise")


def test_binary_signatures_rejects_dims_past_64(spark):
    from vivace_graph_v3_spark.pipeline.similarity import binary_signatures

    df = spark.createDataFrame([(1, [0.5] * 72)], ["vec_id", "embedding"])
    with pytest.raises(ValueError, match="64"):
        binary_signatures(df, dims=72)


def test_binary_signatures_sig_hi_is_long_at_every_dims(spark):
    # dims<=32 frames must union cleanly with dims>32 frames: both
    # halves LongType always
    from vivace_graph_v3_spark.pipeline.similarity import binary_signatures

    narrow = binary_signatures(
        spark.createDataFrame([(1, [1.0] * 16)], ["vec_id", "embedding"]),
        dims=16)
    wide = binary_signatures(
        spark.createDataFrame([(2, [-1.0] * 48)], ["vec_id", "embedding"]),
        dims=48)
    assert dict(narrow.dtypes) == {"id": "bigint", "sig_lo": "bigint",
                                   "sig_hi": "bigint"}
    assert dict(narrow.dtypes) == dict(wide.dtypes)
    both = {r["id"]: (r["sig_lo"], r["sig_hi"])
            for r in narrow.unionByName(wide).collect()}
    assert both[1] == ((1 << 16) - 1, 0)
    assert both[2] == (0, 0)


def test_mcnemar_exact_past_long_overflow(spark):
    # 3.1M discordant rows: (|n01-n10|-1)^2 * 1e6 = 9.61e18 > 2^63-1,
    # so the LONG form wraps (non-ANSI) or raises (ANSI); the decimal
    # form must match the exact Python integer
    from vivace_graph_v3_spark.operators.stats_inference import mcnemar_test

    n = 3_100_000
    df = spark.range(n).select(
        F.lit(0).alias("pa"), F.lit(1).alias("pb"), F.lit(1).alias("y"))
    row = mcnemar_test(df, F.col("pa"), F.col("pb"), F.col("y")).collect()[0]
    assert row["n01"] == n and row["n10"] == 0
    assert row["chi2_cc_ppm"] == (n - 1) ** 2 * 1_000_000 // n


def test_global_once_plans_takeordered_not_single_partition_window(tpch):
    # VERDICT r8 finding 2: the global once/cut commit (no outer
    # context) must plan as TakeOrderedAndProject — per-partition top-1
    # then merge — not Exchange SinglePartition + Window, which routes
    # the whole intermediate through one task
    from vivace_graph_v3_spark.plans import plan_facts
    from vivace_graph_v3_spark.query import builder as B

    df = B.select(tpch, ["?c", "?o"], [("once", ("placed", "?c", "?o"))])
    rows = df.collect()
    assert len(rows) == 1
    f = plan_facts(df)
    assert f.take_ordered, "global once must commit via TakeOrdered"
    assert f.single_partition_exchanges == 0
    assert "Window" not in f.plan

    # the select-list cut desugars to the same contract and plan shape
    cut = B.select(tpch, ["?c", "?o"], [("placed", "?c", "?o"), ("!",)])
    assert [(r["c"], r["o"]) for r in cut.collect()] == \
        [(rows[0]["c"], rows[0]["o"])]
    fc = plan_facts(cut)
    assert fc.take_ordered and fc.single_partition_exchanges == 0


def test_ccnet_buckets_plan_has_no_per_language_corpus_window(spark):
    # VERDICT r8 item 2: the tercile must be a two-phase distributed
    # rank. Any window partitioned ONLY by lang may touch just the
    # bounded (lang, score) grid (its input is the sum of grid counts);
    # the corpus-row window must partition by (lang, score) so no
    # single language serializes into one task; ntile is gone entirely.
    import re

    from vivace_graph_v3_spark.pipeline.text import ccnet_perplexity_buckets

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = ccnet_perplexity_buckets(docs)
    rows = out.collect()
    assert len(rows) > 0
    plan = (out._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0])
    assert "ntile" not in plan.lower()
    for line in plan.splitlines():
        if "Window [" not in line:
            continue
        lang_only = re.search(
            r"windowspecdefinition\(lang#\d+, specifiedwindowframe", line) \
            or re.search(
                r"windowspecdefinition\(lang#\d+, avg_neg_logp#\d+ ASC[^,]*,"
                r" specifiedwindowframe", line)
        if lang_only:
            assert "sum(gc#" in line, (
                "lang-partitioned window over corpus rows: " + line)


def test_temporal_earliest_arrival_converges_past_hop_budget(spark):
    # max_hops=None iterates to delta-emptiness: a 6-edge ascending
    # chain needs 6 rounds, beyond the old fixed-4 default
    from vivace_graph_v3_spark.operators.graph_algorithms import (
        temporal_earliest_arrival)

    chain = [("a", "b", 1), ("b", "c", 2), ("c", "d", 3),
             ("d", "e", 4), ("e", "f", 5), ("f", "g", 6)]
    edges = spark.createDataFrame(chain, ["src", "dst", "ts"])
    seeds = spark.createDataFrame([("a",)], ["id"])
    out = {r["node"]: r["arrival"]
           for r in temporal_earliest_arrival(edges, seeds,
                                              max_hops=None).collect()}
    assert out == {"b": 1, "c": 2, "d": 3, "e": 4, "f": 5, "g": 6}
    # the fixed-hop mode is unchanged: 4 hops stop at e
    four = {r["node"]: r["arrival"]
            for r in temporal_earliest_arrival(edges, seeds,
                                               max_hops=4).collect()}
    assert four == {"b": 1, "c": 2, "d": 3, "e": 4}


def test_temporal_earliest_arrival_budget_raises(spark):
    # still-improving frontier past max_iter must raise (as
    # min_label_fixpoint does), not return a silently-unconverged result
    from vivace_graph_v3_spark.operators.graph_algorithms import (
        temporal_earliest_arrival)

    chain = [("a", "b", 1), ("b", "c", 2), ("c", "d", 3), ("d", "e", 4)]
    edges = spark.createDataFrame(chain, ["src", "dst", "ts"])
    seeds = spark.createDataFrame([("a",)], ["id"])
    with pytest.raises(RuntimeError, match="converge"):
        temporal_earliest_arrival(edges, seeds, max_hops=None, max_iter=2)
