"""Local mimic of the driver's correctness gate: run every __spark_entry__
query at a given SF against its DuckDB oracle; compare row count, sorted
column names, and an order-insensitive value hash (floats rendered %.6f).

Faithfulness matters more than convenience here (VERDICT r3 root cause):
the driver canonicalizes BOTH sides through **pandas** — DuckDB results via
``fetchdf()`` and Spark results via ``toPandas()`` — then sorts with
``DataFrame.sort_values``. Two consequences this mimic must reproduce:

1. DuckDB ``sum()`` over integers returns HUGEINT (and DECIMAL(38,0)),
   which pandas renders as float64 → ``123.000000`` while a Spark BIGINT
   renders ``123``. An arrow fetch hides this (HUGEINT → Decimal → "123"),
   which is exactly how rounds 1-3 shipped false-local-greens.
2. Any list/array-typed output cell makes ``sort_values`` raise
   ``TypeError: unhashable type: 'list'`` — the driver records an err row.

So: pandas fetch, pandas sort, no list-friendly fallbacks.

Scale caveat: ann_lsh_recall, ann_ivf_recall and ann_recall_curve can
only be checked at sf0.01. Their oracles embed ANN hit counts measured
at that scale (``_SQL_ANN_RECALL.format(hits=48)`` in entry_queries.py),
so at any other SF they fail with the same hashes whatever the engine
does.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

# the repository this script sits in, wherever it is checked out
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _cell(v) -> str:
    # float64/float32 cells (incl. NaN) render %.6f; everything else str().
    # numpy scalars: np.floating is a float subclass for float64 but not
    # float32, so test via the is-a-float protocol used by pandas printing.
    try:
        import numpy as np
        if isinstance(v, np.floating):
            v = float(v)
        elif isinstance(v, np.integer):
            return str(int(v))
        elif isinstance(v, np.bool_):
            return str(bool(v))
    except ImportError:  # pragma: no cover
        pass
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6f}"
    return str(v)


def canon_pdf(pdf):
    """Driver-faithful canonicalization of a pandas DataFrame:
    sorted column order, pandas sort_values over all columns (raises on
    list cells, as the driver does), then one %.6f-formatted line per row.
    Returns (hash16, nrows, sorted_cols)."""
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    if len(pdf):
        pdf = pdf.sort_values(by=cols, kind="mergesort").reset_index(drop=True)
    lines = [
        "|".join(_cell(v) for v in row)
        for row in pdf.itertuples(index=False, name=None)
    ]
    lines.sort()  # order-insensitive even where sort_values ties
    return (hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16],
            len(lines), cols)


def main(sf_dir: str, only: list[str]):
    import duckdb

    import __spark_entry__ as e
    from vivace_graph_v3_spark.session import get_spark

    spark = get_spark("contract-check")
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = e.queries(), e.oracle_sql()
    if only == ["--first50"]:
        # exactly the driver's sample: the first 50 REGISTRY entries in
        # insertion order
        names = list(qs)[:50]
    else:
        names = only or sorted(qs)
    failures = []
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf_dir)
            shash, sn, cols = canon_pdf(sdf.toPandas())
        except Exception as ex:
            print(f"FAIL  {name}: spark error: {type(ex).__name__}: {str(ex)[:160]}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"rows  {name}: rows-only ({sn} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            dhash, dn, dcols = canon_pdf(con.execute(oracles[name]).fetchdf())
        except Exception as ex:
            print(f"FAIL  {name}: oracle error: {type(ex).__name__}: {str(ex)[:160]}")
            failures.append(name)
            continue
        ok_cols = cols == dcols
        ok = ok_cols and sn == dn and shash == dhash
        status = "OK   " if ok else "FAIL "
        detail = "" if ok else (
            f"  cols={cols} vs {dcols}" if not ok_cols
            else f"  rows {sn} vs {dn}, hash {shash} vs {dhash}")
        print(f"{status} {name}: {sn} rows ({time.time()-t0:.1f}s){detail}")
        if not ok:
            failures.append(name)
    print(f"\n{len(names) - len(failures)}/{len(names)} OK; failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    sys.exit(main(sf, sys.argv[2:]))
