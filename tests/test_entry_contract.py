"""Driver-contract hygiene: the __spark_entry__ surface stays well-formed.

The heavy per-query oracle comparison lives in tools/check_contract.py (run
manually / by the driver); this guards the cheap invariants that break the
whole round if violated: registry shape, flagship entry, schema stability.
"""

import __spark_entry__ as entry_mod

from tests.conftest import SF_DIR


def test_registry_shape():
    qs = entry_mod.queries()
    sqls = entry_mod.oracle_sql()
    assert len(qs) >= 80
    assert set(sqls) <= set(qs), "oracle for unknown query"
    assert all(callable(f) for f in qs.values())
    # every registered query is oracle-checked — no rows-only entries left
    rows_only = set(qs) - set(sqls)
    assert not rows_only, f"unexpected rows-only queries: {rows_only}"


def test_registry_order_pinned():
    # the oracle sample reads the first 50 entries of queries(), so the
    # key order is part of the contract: any reorder, insert, rename or
    # removal changes this digest. Appending an entry means re-pinning
    # it deliberately.
    import hashlib

    names = list(entry_mod.queries())
    assert len(names) == 362
    digest = hashlib.sha256("\n".join(names).encode()).hexdigest()
    assert digest == ("b42cefe7e6ad93ed8565e480763d8505"
                      "cb93420277e03bd559fe70dc7042cc86")


def test_flagship_entry(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) == 5  # one per region
    assert set(df.columns) == {"r_name", "total_quantity", "n_lineitems"}
    assert all(r["n_lineitems"] > 0 for r in rows)


def test_every_query_compiles(spark):
    """Plan-build every contract query at the tests' SF: catches missing
    columns/tables/aliases without executing (schema analysis only —
    seconds, not minutes)."""
    qs = entry_mod.queries()
    for name, fn in sorted(qs.items()):
        df = fn(spark, SF_DIR)
        assert df.schema is not None and len(df.columns) > 0, name


def test_no_previously_green_entry_dropped():
    """Registry rotation is append-or-reorder-only: every query that earned a
    green driver row in a past round's CORRECTNESS file must still be
    registered, so reordering for driver-sample coverage can never silently
    lose a verified operator."""
    import glob
    import json
    import os

    qs = set(entry_mod.queries())
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        with open(path) as f:
            rows = json.load(f)
        green = {name for name, r in rows.items()
                 if isinstance(r, dict) and r.get("hash_match")}
        missing = green - qs
        assert not missing, f"{os.path.basename(path)} green entries dropped: {missing}"


def test_every_oracle_sql_parses_in_duckdb():
    """EXPLAIN-prepare every registry oracle against DuckDB views of the
    smallest SF — catches reserved-word/syntax regressions (e.g. `full`
    as a CTE name) in seconds without running the queries."""
    import duckdb

    con = duckdb.connect()
    sf = "/root/testdata/sf0.001"
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    bad = []
    for name, sql in entry_mod.oracle_sql().items():
        try:
            con.execute(f"EXPLAIN {sql}")
        except Exception as ex:  # noqa: BLE001 - collect every failure
            bad.append(f"{name}: {type(ex).__name__}: {str(ex)[:120]}")
    assert not bad, "\n".join(bad)


def _spark_render_class(dt):
    """How the driver's pandas canonicalizer will RENDER a Spark column of
    this type (toPandas without arrow): the class, not the type, is what
    must match the oracle side."""
    from pyspark.sql import types as T

    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"       # pandas int64 -> "123" (float64 if nulls at runtime)
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "float"     # pandas float64 -> "123.000000"
    if isinstance(dt, T.DecimalType):
        return "pydecimal"  # object Decimal -> "123.45" (never %.6f) — hazard
    if isinstance(dt, T.StringType):
        return "str"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.DateType):
        return "pydate"    # object datetime.date -> "2024-01-01" (no time part)
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "ts"        # datetime64 -> "2024-01-01 00:00:00"
    if isinstance(dt, (T.ArrayType, T.MapType, T.StructType, T.BinaryType)):
        return "list"      # unhashable cell -> sort_values TypeError — hazard
    return f"other:{dt.simpleString()}"


def _duck_render_class(pdf, col):
    """Render class of an oracle column AS FETCHED via fetchdf() — this is
    the ground truth for e.g. HUGEINT/DECIMAL silently becoming float64."""
    import datetime
    import decimal

    import numpy as np
    import pandas as pd

    dtype = pdf.dtypes[col]
    if pd.api.types.is_bool_dtype(dtype):
        return "bool"
    if pd.api.types.is_integer_dtype(dtype):
        return "int"
    if pd.api.types.is_float_dtype(dtype):
        return "float"
    if pd.api.types.is_datetime64_any_dtype(dtype):
        return "ts"
    # object column: classify by a non-null value
    for v in pdf[col]:
        if v is None or (isinstance(v, float) and v != v):
            continue
        if isinstance(v, str):
            return "str"
        if isinstance(v, decimal.Decimal):
            return "pydecimal"
        if isinstance(v, datetime.date) and not isinstance(v, datetime.datetime):
            return "pydate"
        if isinstance(v, (list, tuple, dict, np.ndarray, bytes)):
            return "list"
        return f"other:{type(v).__name__}"
    return "str"  # all-null object column renders "None" like an empty str col


def test_oracle_pandas_render_classes_match(spark):
    """Standing dtype-hazard gate (VERDICT r3 #2): for every registry entry,
    the pandas RENDER class of each oracle column (actually fetched via
    fetchdf at sf0.001, so HUGEINT/DECIMAL -> float64 is observed, not
    inferred) must equal the render class of the Spark column, and neither
    side may be list-like (crashes the driver's sort_values) or a class
    pandas prints asymmetrically (Spark Decimal/date objects).

    This is what made text_repetition red for three rounds while the
    arrow-based local mimic stayed green — never again."""
    import duckdb

    con = duckdb.connect()
    sf = "/root/testdata/sf0.001"
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    hazards = []
    for name, sql in sorted(oracles.items()):
        spark_classes = {f.name: _spark_render_class(f.dataType)
                         for f in qs[name](spark, SF_DIR).schema.fields}
        pdf = con.execute(sql).fetchdf()
        for col in pdf.columns:
            dclass = _duck_render_class(pdf, col)
            sclass = spark_classes.get(col)
            if sclass is None:
                hazards.append(f"{name}.{col}: oracle-only column")
            elif dclass == "list" or sclass == "list":
                hazards.append(f"{name}.{col}: list-like cell "
                               f"(spark={sclass}, oracle={dclass})")
            elif (sclass == "int" and dclass == "float"
                  and pdf[col].isna().any()):
                # NOT a hazard: the oracle column is float only because it
                # holds NULLs — and the (equal) Spark result then also has
                # nulls, so toPandas renders float64 on BOTH sides
                # (events_asof_join.click_ts, driver-green r3).
                pass
            elif dclass != sclass:
                hazards.append(f"{name}.{col}: render mismatch "
                               f"spark={sclass} vs oracle={dclass}")
    assert not hazards, "driver-canonicalizer hazards:\n" + "\n".join(hazards)


# Oracles whose VALUES(...) rows are PARAMETERS of the computation (hash
# constants, landmark ids, discount grids, polygon coordinates, length /
# stride grids) — inputs chosen by the author, not measured results, so
# they need no re-measurement. Any oracle containing VALUES that is not
# listed here must carry a MEASURED-PIN marker and be re-measured below.
_PARAM_VALUES_ORACLES = {
    "graph_eccentricity",        # landmark vertex ids
    "embedding_pair_cosine",     # probe pair ids
    "text_truncation_curve",     # max_len grid (64/128/256/512)
    "cms_heavy_hitters",         # CMS row hash constants
    "graph_closeness_landmarks", # landmark vertex ids
    "graph_stress_landmarks",    # landmark vertex ids
    "geo_polygon_metrics",       # polygon coordinates
    "geo_polygon_intersects",    # polygon coordinates
    "retrieval_ndcg",            # rank-discount grid
    "bloom_filter_audit",        # bloom hash constants
    "bloom_dedup_ingest",        # bloom hash constants
    "graph_rich_club",           # degree-threshold grid (2/4/8/16)
    "events_shapley_attribution",  # Shapley coalition term table
                                   # (exact factorial weights)
    "format_roundtrip_audit",    # author-chosen format list
                                 # ('csv','jsonl','orc') — parameters of
                                 # the audit, not measured results
}


def _pinned_constants(sql: str) -> list[tuple]:
    """Extract measured-pin literals from an oracle SQL: single-pin
    oracles embed ``<n> AS n_hits``; curve oracles embed
    ``hits(nprobe, n_hits) AS (VALUES (p, h), ...)``."""
    import re

    m = re.search(r"VALUES\s*((?:\(\s*\d+\s*,\s*\d+\s*\)\s*,?\s*)+)\s*\)",
                  sql) if "hits(nprobe" in sql else None
    if m:
        return [tuple(int(x) for x in pair)
                for pair in re.findall(r"\((\d+)\s*,\s*(\d+)\)", m.group(1))]
    m = re.search(r"(\d+) AS n_hits", sql)
    assert m, "MEASURED-PIN oracle with no recognizable pinned constant"
    return [(int(m.group(1)),)]


def test_measured_pin_constants_complete(spark):
    """Every oracle that pins a MEASURED constant (ANN candidate
    generation is not SQL-expressible) is (a) explicitly marked, (b)
    enumerated here, and (c) re-measured at the driver's contract SF —
    no future pinned oracle can ship ungated, and if the testdata
    fixture regenerates this fails loudly instead of the driver hash
    silently drifting.

    Completeness: an oracle containing VALUES must either be in the
    parameter allowlist (author-chosen inputs) or carry the
    MEASURED-PIN marker; every MEASURED-PIN oracle must be re-measured
    in this test."""
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()

    pinned = {n for n, sql in oracles.items() if "MEASURED-PIN" in sql}
    unaccounted = {
        n for n, sql in oracles.items()
        if "VALUES" in sql and n not in _PARAM_VALUES_ORACLES
        and n not in pinned}
    assert not unaccounted, (
        f"oracles with VALUES literals neither allowlisted as parameters "
        f"nor marked MEASURED-PIN: {unaccounted}")
    assert pinned == {"ann_ivf_recall", "ann_lsh_recall",
                      "ann_ivfpq_recall", "ann_recall_curve"}, (
        f"MEASURED-PIN set changed ({pinned}) — extend the re-measure "
        f"block below for any new pinned oracle")

    sf = "/root/testdata/sf0.01"
    # single-pin oracles: re-measure n_hits
    for name in ("ann_ivf_recall", "ann_lsh_recall", "ann_ivfpq_recall"):
        (want,), = _pinned_constants(oracles[name])
        got = qs[name](spark, sf).first()["n_hits"]
        assert got == want, f"{name}: measured {got} != pinned {want}"
    # curve oracle: re-measure every (nprobe, n_hits) row
    want_curve = _pinned_constants(oracles["ann_recall_curve"])
    got_curve = sorted((r["nprobe"], r["n_hits"]) for r in
                       qs["ann_recall_curve"](spark, sf).collect())
    assert got_curve == sorted(want_curve), (
        f"ann_recall_curve: measured {got_curve} != pinned {want_curve}")


def test_contract_values_partitioning_invariant(spark):
    """The determinism claim behind every oracle: contract values must not
    depend on physical layout. Re-run a cross-section of entries (window,
    shuffle-agg, hash-mix, sketch, skew-rewrite shapes) under a different
    shuffle-partition count and input partitioning, and require identical
    canonical hashes."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools"))
    from check_contract import canon_pdf

    qs = entry_mod.queries()
    names = ["text_repetition", "events_sessions", "token_budget_mix",
             "cms_heavy_hitters", "two_phase_distinct", "embedding_quantize",
             # round-5 shapes: LOCF window over the calendar grid, banded
             # LSH pair join, inverted-index pair top-k, modularity's
             # 1-row broadcast total
             "events_gap_fill", "multimodal_phash_dedup",
             "text_sparse_dot_pairs", "graph_modularity"]
    before = {}
    for n in names:
        before[n] = canon_pdf(qs[n](spark, SF_DIR).toPandas())[0]
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        for n in names:
            h, _, _ = canon_pdf(qs[n](spark, SF_DIR).toPandas())
            assert h == before[n], f"{n} hash changed with partitioning"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_embedding_recall_vacuous_at_smoke_sf(spark):
    """The sf0.001 smoke fixture has ZERO over-threshold embedding pairs
    (n_exact = 0): the recall_ppm integer division must be zero-guarded
    on BOTH engines (old code raised ArithmeticException DIVIDE_BY_ZERO
    in Spark and a division-by-zero error in DuckDB), and both must
    agree on the vacuously-full row (0, 0, 1000000)."""
    import duckdb

    sf = "/root/testdata/sf0.001"
    row = entry_mod.queries()["dedup_embedding_recall"](spark, sf).collect()
    assert [tuple(r) for r in row] == [(0, 0, 1000000)]

    con = duckdb.connect()
    for t in ["embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    got = con.execute(
        entry_mod.oracle_sql()["dedup_embedding_recall"]).fetchall()
    assert got == [(0, 0, 1000000)]
