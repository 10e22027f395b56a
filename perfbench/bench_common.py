"""Shared pieces of the two workloads: metric names, the Spark session's
life cycle inside the checkout, and small statistics helpers."""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import sys
import time

_T0 = time.perf_counter()

WORK_DIR = ".perfbench_work"   # under the checkout root; see .gitignore
SETUP_REPEATS = 3
CPUS = "2"   # Spark task threads; leaves cores to the JVM's own threads
DRIVER_MEMORY = "2g"

END_TO_END = {          # name -> unit
    "setup_s": "s",
    "cpu_s_per_op": "s",
}

ROUTES = ("get_vertex", "put_vertex", "post_vertex", "delete_vertex",
          "pattern_query", "named_query", "list_edges")

# registry entry -> "<module>.<operation>" layer name it is reported under
ENTRIES = {
    "graph_pagerank": "operators.graph_algorithms.pagerank",
    "graph_label_propagation": "operators.graph_algorithms.label_propagation",
    "traverse_bfs": "operators.traverse.bfs",
    "spatial_radius": "operators.spatial.radius",
    "parts_per_customer": "query.builder.parts_per_customer",
    "view_reduce_groups": "views.reduce_groups",
    "q3_top_orders": "entry_queries.q3_top_orders",
    "dedup_containment": "pipeline.dedup.containment",
    "ann_bruteforce_topk": "pipeline.similarity.bruteforce_topk",
}
ENTRY_METRICS = {"wall_s": "s", "jobs": "count", "executor_run_s": "s",
                 "shuffle_write_mb": "MB", "driver_s": "s",
                 "persisted_delta": "count"}


def _per_layer() -> dict[str, str]:
    m: dict[str, str] = {}
    for r in ROUTES:
        m[f"rest.{r}.p50_s"] = "s"
        m[f"rest.{r}.spark_jobs"] = "count"
    m.update({
        "rest.driver_s_per_op": "s",
        "mvcc.read.calls_per_op": "count/op",
        "mvcc.current_epoch.calls": "count",
        "mvcc.commit.calls": "count",
        "mvcc.commit.p50_s": "s",
        "mvcc.log_files_end": "count",
        "mvcc.log_kb_per_commit": "KiB",
        "query.compile_pattern_query.p50_s": "s",
        "query.run_query.p50_s": "s",
        "graph.active_edges.calls": "count",
        "spark.jobs_per_op": "count/op",
        "spark.stages_per_op": "count/op",
        "spark.tasks_per_op": "count/op",
        "spark.executor_run_s_per_op": "s",
        "spark.executor_cpu_s_per_op": "s",
        "spark.shuffle_write_kb_per_op": "KiB",
        "spark.spill_mb": "MiB",
        "spark.persisted_rdds_end": "count",
        "spark.storage_mb_end": "MiB",
        "session.get_spark_s": "s",
        "graph.load_tpch_graph_s": "s",
        "mvcc.init_from_store_s": "s",
        "trace.ops": "count",
        "trace.ops_per_s": "1/s",
        "trace.steal_frac": "fraction",
        "trace.overhead_frac": "fraction",
    })
    for layer in ENTRIES.values():
        for suffix, unit in ENTRY_METRICS.items():
            m[f"{layer}.{suffix}"] = unit
    return m


PER_LAYER = _per_layer()


def log(msg: str) -> None:
    """Progress note on standard error, stamped with seconds since start."""
    print(f"perfbench [{time.perf_counter() - _T0:7.1f}s] {msg}",
          file=sys.stderr, flush=True)


def configure_env(root: str) -> tuple[str, str]:
    """Point the engine and its JVM at directories inside the checkout and
    fix the session's size. Must run before pyspark starts a JVM. Returns
    the shared work directory (generated tables, cached oracle hashes) and
    this run's own scratch directory under it, which the caller deletes."""
    work = os.path.join(root, WORK_DIR)
    scratch = os.path.join(work, f"run-{os.getpid()}")
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python and Arrow workers import the engine package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = CPUS
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["TMPDIR"] = tmp
    # C1 only: in a session of a minute the C2 compiler threads burned a
    # third to a half of the process tree's CPU, in amounts that depend on
    # timing, and never reached the code's steady state
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        "-XX:TieredStopAtLevel=1' pyspark-shell")
    return work, scratch


def publish(tmp_path: str, path: str) -> None:
    """Move a finished file or directory into place in one rename, so a
    concurrent run sees all of it or nothing."""
    try:
        os.rename(tmp_path, path)
    except OSError:   # another run published it first
        shutil.rmtree(tmp_path, ignore_errors=True)


def start_spark():
    from vivace_graph_v3_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:   # a stuck JVM must not outlive us
            proc.kill()
            proc.wait(timeout=30)


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    live descendant: the Spark JVM and its Python workers. Time the host
    steals from the machine is not in it."""
    parent, used = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:   # the process exited while we listed /proc
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        pid = int(entry)
        parent[pid] = int(fields[1])
        used[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    tree, frontier = set(), {os.getpid()}
    while frontier:
        tree |= frontier
        frontier = {p for p, pp in parent.items() if pp in frontier} - tree
    return sum(used.get(p, 0) for p in tree) / os.sysconf("SC_CLK_TCK")


def steal_ticks() -> tuple[int, int]:
    """(stolen, total) clock ticks of the whole machine so far, from
    /proc/stat: time the hypervisor ran other guests on our CPUs."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def steal_share(before: tuple[int, int]) -> float:
    after = steal_ticks()
    return (after[0] - before[0]) / max(1, after[1] - before[1])


def fresh_dir(parent: str, name: str) -> str:
    path = os.path.join(parent, name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def data_alias(data_dir: str, rep: int) -> str:
    """Spell ``data_dir`` differently per set-up repetition. The engine
    memoizes the graph projection per path string; a distinct spelling of
    the same directory makes every repetition build it afresh, and the
    last repetition uses the plain path the workload then queries."""
    head, tail = os.path.split(data_dir)
    return os.path.join(head, *(["."] * rep), tail)
