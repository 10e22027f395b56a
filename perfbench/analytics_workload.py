"""Analytics workload: one caller running registry entries in sequence.

One operation is one pass over all entries (the batch job), so
``cpu_s_per_op`` is the CPU time of a pass and ``trace.ops_per_s`` passes
per second. ``attempted`` and ``failed`` count entries, each checked on
its own.

The entries run in one fixed order. Each entry pays a first-use cost of a
few seconds (class loading, code generation, Python worker start) the
first time it runs in a session, and the first entry of a session pays
the most; a seeded order would move those costs between entries from run
to run, so the order is not seeded and the workload's inputs do not
depend on the seed. Whole passes run until the run length has passed.
Every entry's result is collected inside its timed call and checked
right after it against the canonical hash of its DuckDB oracle, with the
canonicalization of ``tools/check_contract.py``. The oracle hashes are
computed before the Spark session starts and cached in the work
directory.

Set-up is the session start plus the graph projection, the projection
repeated ``SETUP_REPEATS`` times (median reported).
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import time

import bench_common as bc
import datagen
from spark_status import Interval, StatusReader, Work, spark_per_op


def _canon_pdf(root: str):
    """``canon_pdf`` of ``tools/check_contract.py`` (a script, not a
    package module): pandas frame -> (hash, rows, columns)."""
    spec = importlib.util.spec_from_file_location(
        "check_contract", os.path.join(root, "tools", "check_contract.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon_pdf


def oracle_hashes(canon, work: str, scratch: str,
                  data_dir: str) -> dict[str, str]:
    """Canonical hash of each entry's oracle result on the generated data,
    keyed by the oracle's SQL text so an edited oracle is recomputed."""
    import duckdb

    from vivace_graph_v3_spark import entry_queries

    sql = entry_queries.oracle_sql()
    cache_path = os.path.join(work, "oracle_hashes.json")
    try:
        with open(cache_path) as f:
            cache = json.load(f)
    except (OSError, ValueError):
        cache = {}
    out, con = {}, None
    for name in bc.ENTRIES:
        key = hashlib.sha256(sql[name].encode()).hexdigest()
        if cache.get(name, {}).get("sql") != key:
            if con is None:
                con = duckdb.connect()
                for t in datagen.TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"'{data_dir}/{t}.parquet'")
            cache[name] = {"sql": key,
                           "hash": canon(con.execute(sql[name]).fetchdf())[0]}
        out[name] = cache[name]["hash"]
    if con is not None:
        con.close()
        tmp = os.path.join(scratch, "oracle_hashes.json")
        with open(tmp, "w") as f:
            json.dump(cache, f)
        os.replace(tmp, cache_path)
    return out


def run(root: str, work: str, scratch: str, data_dir: str, seed: int,
        seconds: int, trace: bool) -> dict:
    canon = _canon_pdf(root)
    expected = oracle_hashes(canon, work, scratch, data_dir)
    bc.log("oracle hashes ready")
    spark, get_spark_s = bc.start_spark()
    bc.log(f"session started in {get_spark_s:.1f}s")
    try:
        from vivace_graph_v3_spark import entry_queries
        from vivace_graph_v3_spark.graph import load_tpch_graph

        queries = entry_queries.queries()
        reps = []
        for rep in reversed(range(bc.SETUP_REPEATS)):
            t0 = time.perf_counter()
            load_tpch_graph(spark, bc.data_alias(data_dir, rep))
            reps.append(time.perf_counter() - t0)
        bc.log("set-up repetitions: " + ", ".join(f"{r:.1f}s" for r in reps))
        reader = StatusReader(spark) if trace else None
        if reader:
            reader.mark()
            persisted_before = reader.persisted_rdds()
        results, passes = [], 0
        cpu0, steal0 = bc.tree_cpu_s(), bc.steal_ticks()
        t0 = time.perf_counter()
        while not passes or time.perf_counter() - t0 < seconds:
            for name in bc.ENTRIES:
                r = {"name": name}
                with Interval(reader) if reader else _Untraced() as iv:
                    t1 = time.perf_counter()
                    pdf = queries[name](spark, data_dir).toPandas()
                    r["seconds"] = time.perf_counter() - t1
                r["work"], r["trace_s"] = iv.work, iv.overhead_s
                if reader:
                    t1 = time.perf_counter()
                    r["persisted"] = reader.persisted_rdds()
                    r["trace_s"] += time.perf_counter() - t1
                got = canon(pdf)[0]
                r["error"] = (None if got == expected[name] else
                              f"hash {got} != oracle {expected[name]}")
                results.append(r)
            passes += 1
        wall = time.perf_counter() - t0
        cpu_s = bc.tree_cpu_s() - cpu0
        stolen = bc.steal_share(steal0)
        bc.log(f"host CPU steal during the passes: {stolen:.1%}")
        bc.log(f"{passes} timed passes in {wall:.1f}s: "
               + ", ".join(f"{r['name']}={r['seconds']:.2f}" for r in results))
        if not trace:
            metrics = {"setup_s": get_spark_s + bc.median(reps),
                       "cpu_s_per_op": cpu_s / passes}
            units = bc.END_TO_END
        else:
            metrics = _per_layer(reader, results, wall, get_spark_s, reps,
                                 persisted_before)
            metrics["trace.ops_per_s"] = passes / wall
            metrics["trace.steal_frac"] = stolen
            units = bc.PER_LAYER
    finally:
        bc.stop_spark(spark)
        bc.log("session stopped")
    failed = [r for r in results if r["error"]]
    return {"results": results, "failed": failed, "metrics": metrics,
            "units": units}


class _Untraced:
    work, overhead_s = None, 0.0

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


def _per_layer(reader: StatusReader, results, wall, get_spark_s, reps,
               persisted_before):
    """Per-layer metrics of the first pass (later passes, if the run length
    allowed any, only add to the totals)."""
    n = len(results)
    total = Work()
    m = {name: 0.0 for name in bc.PER_LAYER}
    before = persisted_before
    for i, r in enumerate(results):
        w = r["work"]
        total.add(w)
        if i < len(bc.ENTRIES):
            layer = bc.ENTRIES[r["name"]]
            m.update({f"{layer}.wall_s": r["seconds"],
                      f"{layer}.jobs": w.jobs,
                      f"{layer}.executor_run_s": w.executor_run_s,
                      f"{layer}.shuffle_write_mb": w.shuffle_write_bytes / 2**20,
                      f"{layer}.driver_s": r["seconds"] - w.job_busy_s,
                      f"{layer}.persisted_delta": r["persisted"] - before})
        before = r["persisted"]
    m.update({
        **spark_per_op(total, n),
        "spark.persisted_rdds_end": reader.persisted_rdds(),
        "spark.storage_mb_end": reader.storage_mb(),
        "session.get_spark_s": get_spark_s,
        "graph.load_tpch_graph_s": bc.median(reps),
        "trace.ops": n,
        "trace.overhead_frac": sum(r["trace_s"] for r in results) / wall,
    })
    return m
