"""REST workload: one closed-loop HTTP client against ``rest.RestServer``
over a fresh ``mvcc.VersionedGraph``.

Set-up, repeated ``SETUP_REPEATS`` times (median reported): project the
tables onto the graph, seed a new versioned store from the projection with
``init_from_store``, and start the server. The last store is kept and
serves the run; it lives in the run's scratch directory and is deleted at
the end.
There is no warm-up: the timed loop starts on a server that has served
nothing, as after every restart, so the first request of each route pays
its first-use cost inside the loop, the same in every run.
``compact()`` is never called: it takes no commit lock, so it must not run
beside live writers.

The client sends its next request when the previous reply arrived and
stops at the first cycle boundary (``reqgen.CYCLE``) after the run length
has passed, so every run measures whole cycles: the same mix of routes and
the same number of commits per cycle, whatever the host's speed. Traced
runs drive the same loop and read each request's Spark work from the
status store between requests; the tracing overhead is the share of the
loop's wall time spent on those reads (the layer wrappers add a clock read
per call).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import urllib.error
import urllib.request
from dataclasses import dataclass

import bench_common as bc
import reqgen
from layers import Spans, traced
from spark_status import Interval, StatusReader, Work, spark_per_op

OPS = 600   # far more than a run consumes
TIMEOUT_S = 120


@dataclass
class Result:
    req: reqgen.Request
    start: float
    end: float
    error: str | None
    work: Work | None = None
    trace_s: float = 0.0     # status-store reads around this request

    @property
    def seconds(self) -> float:
        return self.end - self.start


def check(req: reqgen.Request, status: int, payload) -> str | None:
    """None when the response is what the request must produce."""
    if status != 200:
        return f"HTTP {status}: {str(payload)[:200]}"
    e = req.expect
    if "col" in e:
        if not isinstance(payload, list):
            return "query did not return a row list"
        if len(payload) > e["cap"]:
            return f"{len(payload)} rows over the cap {e['cap']}"
        for row in payload:
            v = row.get(e["col"])
            if v is None or ("gt" in e and not v > e["gt"]) or \
                    ("ge" in e and not v >= e["ge"]):
                return f"row {row} breaks the query predicate"
        return None
    if not isinstance(payload, dict):
        return f"reply is not an object: {str(payload)[:200]}"
    if "deleted" in e:
        return None if payload == {"deleted": e["deleted"], "type": e["type"]} \
            else f"unexpected delete reply {payload}"
    if "edge_src" in e:
        out = payload.get("out")
        if not out or any(r.get("src") != e["edge_src"] for r in out):
            return "edge listing does not match its vertex"
        return None
    if payload.get("id") != e["id"]:
        return f"id {payload.get('id')!r} echoed for {e['id']!r}"
    if "type" in e and payload.get("type") != e["type"]:
        return f"type {payload.get('type')!r}, expected {e['type']!r}"
    for k, v in e.get("slots", {}).items():
        if payload.get(k) != v:
            return f"slot {k}={payload.get(k)!r}, expected {v!r}"
    return None


def send(base: str, req: reqgen.Request) -> Result:
    data = json.dumps(req.body).encode() if req.body is not None else None
    http = urllib.request.Request(base + req.path, data=data, method=req.method,
                                  headers={"Content-Type": "application/json"})
    t0 = time.perf_counter()
    try:
        with urllib.request.urlopen(http, timeout=TIMEOUT_S) as resp:
            status, raw = resp.status, resp.read()
    except urllib.error.HTTPError as ex:
        status, raw = ex.code, ex.read()
    except OSError as ex:
        return Result(req, t0, time.perf_counter(), f"{type(ex).__name__}: {ex}")
    t1 = time.perf_counter()
    try:
        payload = json.loads(raw)
    except ValueError:
        return Result(req, t0, t1, "reply is not JSON")
    return Result(req, t0, t1, check(req, status, payload))


def closed_loop(base: str, stream: list[reqgen.Request], seconds: float,
                reader: StatusReader | None = None):
    """Send ``stream`` one request at a time, each when the previous reply
    arrived, and stop at the first cycle boundary after ``seconds``. With
    ``reader`` each request's Spark work is measured. Returns the results
    and the loop's wall time."""
    results: list[Result] = []
    t0 = time.perf_counter()
    for i, req in enumerate(stream):
        if i % len(reqgen.CYCLE) == 0 and time.perf_counter() - t0 >= seconds:
            break
        if reader is None:
            results.append(send(base, req))
            continue
        with Interval(reader) as iv:
            r = send(base, req)
        r.work, r.trace_s = iv.work, iv.overhead_s
        results.append(r)
    else:
        raise RuntimeError("the request stream ran out before the run length")
    return results, time.perf_counter() - t0


class Service:
    """Session, versioned store and server of one run."""

    def __init__(self, scratch: str, data_dir: str):
        self.scratch, self.data_dir = scratch, data_dir
        self.spark, self.get_spark_s = bc.start_spark()
        from vivace_graph_v3_spark.query.pattern import def_query

        def_query(reqgen.NAMED_QUERY, vars=["?c", "?b"],
                  goals=[("is-a", "?c", "customer"),
                         ("node-slot-value", "?c", "c_acctbal", "?b"),
                         ("param", "?min", "min_bal"),
                         (">=", "?b", "?min")],
                  params={"min_bal": "float"}, limit=reqgen.NAMED_LIMIT)
        self.server = self.vg = None
        self.setup_reps: list[dict] = []

    def set_up_once(self, rep: int) -> None:
        from vivace_graph_v3_spark.graph import build_tpch_registry, load_tpch_graph
        from vivace_graph_v3_spark.mvcc import VersionedGraph
        from vivace_graph_v3_spark.rest import RestServer

        self.tear_down_store()
        t0 = time.perf_counter()
        g = load_tpch_graph(self.spark, bc.data_alias(self.data_dir, rep))
        t1 = time.perf_counter()
        path = bc.fresh_dir(self.scratch, "store")
        self.vg = VersionedGraph(self.spark, build_tpch_registry(), path,
                                 name=reqgen.GRAPH)
        self.vg.init_from_store(g)
        t2 = time.perf_counter()
        self.server = RestServer({reqgen.GRAPH: self.vg}).start()
        self.setup_reps.append({"load": t1 - t0, "init": t2 - t1,
                                "total": time.perf_counter() - t0})

    def set_up(self) -> None:
        for rep in reversed(range(bc.SETUP_REPEATS)):
            self.set_up_once(rep)

    def setup_s(self) -> float:
        return self.get_spark_s + bc.median(r["total"] for r in self.setup_reps)

    def tear_down_store(self) -> None:
        if self.server is not None:
            self.server.stop()
            self.server = None
        if self.vg is not None:
            shutil.rmtree(self.vg.path, ignore_errors=True)
            self.vg = None

    def close(self) -> None:
        self.tear_down_store()
        bc.stop_spark(self.spark)


def run(root: str, work: str, scratch: str, data_dir: str, seed: int,
        seconds: int, trace: bool) -> dict:
    svc = Service(scratch, data_dir)
    try:
        bc.log(f"session started in {svc.get_spark_s:.1f}s")
        svc.set_up()
        bc.log("set-up repetitions: " + ", ".join(
            f"{r['total']:.1f}s" for r in svc.setup_reps))
        if not trace:
            stream = reqgen.client_requests(seed, 0, 1, OPS)
            cpu0, steal0 = bc.tree_cpu_s(), bc.steal_ticks()
            results, wall = closed_loop(svc.server.address, stream, seconds)
            metrics = {"setup_s": svc.setup_s(),
                       "cpu_s_per_op": (bc.tree_cpu_s() - cpu0) / len(results)}
            units = bc.END_TO_END
            bc.log(f"{len(results) / wall:.3f} requests/s, host CPU steal "
                   f"{bc.steal_share(steal0):.1%}")
        else:
            steal0 = bc.steal_ticks()
            results, metrics = _traced(svc, seed, seconds)
            metrics["trace.steal_frac"] = bc.steal_share(steal0)
            units = bc.PER_LAYER
        bc.log(f"timed loop done: {len(results)} requests: " + ", ".join(
            f"{r.req.route}={r.seconds:.2f}" for r in results))
    finally:
        svc.close()
        bc.log("session stopped")
    failed = [r for r in results if r.error]
    return {"results": results, "failed": failed, "metrics": metrics,
            "units": units}


def _traced(svc: Service, seed: int, seconds: int):
    base = svc.server.address
    reader = StatusReader(svc.spark)
    spans = Spans()
    reader.mark()
    with traced(spans):
        results, wall = closed_loop(
            base, reqgen.client_requests(seed, 0, 1, OPS), seconds, reader)
        reads = spans.calls("mvcc.read")
        # the edge listing scans every edge type through merge-on-read;
        # it is too slow for the timed mix, so one is traced on its own
        with Interval(reader) as iv:
            edges = send(base, reqgen.list_edges_request(seed))
        edges.work = iv.work
    n = len(results)
    total = Work()
    for r in results:
        total.add(r.work)
    by_route = {route: [r for r in results + [edges] if r.req.route == route]
                for route in bc.ROUTES}
    epoch = svc.vg.current_epoch()
    log_files = [f for f in os.listdir(svc.vg.log_path) if f.endswith(".parquet")]
    log_bytes = sum(os.path.getsize(os.path.join(svc.vg.log_path, f))
                    for f in log_files)
    m = {name: 0.0 for name in bc.PER_LAYER}
    for route, rs in by_route.items():
        m[f"rest.{route}.p50_s"] = bc.median(r.seconds for r in rs)
        m[f"rest.{route}.spark_jobs"] = bc.median(r.work.jobs for r in rs)
    m.update({
        "rest.driver_s_per_op": sum(r.seconds - r.work.job_busy_s
                                    for r in results) / n,
        "mvcc.read.calls_per_op": reads / n,
        "mvcc.current_epoch.calls": spans.calls("mvcc.current_epoch"),
        "mvcc.commit.calls": spans.calls("mvcc.commit"),
        "mvcc.commit.p50_s": spans.p50("mvcc.commit"),
        "mvcc.log_files_end": len(log_files),
        "mvcc.log_kb_per_commit": log_bytes / 1024 / max(epoch, 1),
        "query.compile_pattern_query.p50_s": spans.p50("query.compile_pattern_query"),
        "query.run_query.p50_s": spans.p50("query.run_query"),
        "graph.active_edges.calls": spans.calls("graph.active_edges"),
        **spark_per_op(total, n),
        "spark.persisted_rdds_end": reader.persisted_rdds(),
        "spark.storage_mb_end": reader.storage_mb(),
        "session.get_spark_s": svc.get_spark_s,
        "graph.load_tpch_graph_s": bc.median(r["load"] for r in svc.setup_reps),
        "mvcc.init_from_store_s": bc.median(r["init"] for r in svc.setup_reps),
        "trace.ops": n,
        "trace.ops_per_s": n / wall,
        "trace.overhead_frac": sum(r.trace_s for r in results) / wall,
    })
    return results + [edges], m
