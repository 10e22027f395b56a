"""REST HTTP layer over the engine surfaces — stdlib-only (http.server).

The reference exposes the store over HTTP (rest.lisp:620-817): CRUD on
vertices/edges, per-vertex edge listing, registered procedures
(``def-rest-procedure``, rest.lisp:340-357), registered named queries
(``call-rest-query``, rest.lisp:435-446) and ad-hoc JSON pattern queries
(rest.lisp:448-618). The route table (rest.lisp:769-817):

====== ======================================  =========================
GET    /graph/<g>                              graph summary
GET    /graph/<g>/vertex/<id>                  rest-get-vertex
GET    /graph/<g>/vertex/<id>/edges            rest-list-edges (out + in)
POST   /graph/<g>/vertex/<type>                rest-post-vertex (create)
PUT    /graph/<g>/vertex/<id>                  rest-put-vertex (copy→save)
DELETE /graph/<g>/vertex/<id>                  rest-delete-vertex
GET    /graph/<g>/edge/<id>                    rest-get-edge
POST   /graph/<g>/edge/<type>                  rest-post-edge (needs from/to)
PUT    /graph/<g>/edge/<id>                    rest-put-edge
DELETE /graph/<g>/edge/<id>                    rest-delete-edge
POST   /graph/<g>/procedure/<name>             call-rest-procedure
POST   /graph/<g>/query/<name>                 call-rest-query
POST   /graph/<g>/query                        ad-hoc JSON pattern DSL
====== ======================================  =========================

Spark-first framing: HTTP is a **driver-side control plane**. Every request
compiles to the same DataFrame plans as the library calls; row-returning
endpoints are bounded by ``max_rows`` before ``collect()``, so the JVM does
the scan/join work and the HTTP process only ships a capped JSON payload.
Point CRUD flows through the MVCC transaction log (one commit per request —
the ``with-transaction`` analog), so OCC conflict detection, tombstones and
time travel all apply to REST writers too. Id requests resolve through
the store's point probes (``VersionedGraph.locate`` / ``get``, the
reference's hash-index ``lookup-vertex``), not per-type scans, an edge
listing through ``VersionedGraph.incident_edges``, and the store's
driver-held log tail answers for the log; write-sets are local
frames (``util.local_frame``), so no Python worker runs per request. This
is not the 100 TB data path — bulk loads go through Spark jobs — it is the
operational surface the reference offers, kept faithfully thin.

Error mapping (rest.lisp:420-433): malformed body/params → 400, unknown
resource/query → 404, auth failure → 401, forbidden operation → 403,
stale-revision save → 409 (HTTP's native conflict code).
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Callable
from urllib.parse import parse_qsl, urlparse

from pyspark.sql import functions as F
from pyspark.sql import types as T

from vivace_graph_v3_spark.mvcc import ConflictError, VersionedGraph
from vivace_graph_v3_spark.util import local_frame

# def-rest-procedure registry (rest.lisp:6-8, 340-357): name -> fn(graph,
# params) -> JSON-able. The server author owns the procedure body.
_PROCEDURES: dict[str, Callable] = {}


def def_rest_procedure(name: str, fn: Callable | None = None):
    """Register a REST procedure; usable as a decorator."""
    if fn is None:
        return lambda f: def_rest_procedure(name, f)
    _PROCEDURES[name] = fn
    return fn


def clear_rest_procedures() -> None:
    _PROCEDURES.clear()


class _HttpError(Exception):
    def __init__(self, status: int, message: str):
        super().__init__(message)
        self.status = status
        self.message = message


def _json_value(v):
    if isinstance(v, (dict,)):
        return {k: _json_value(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_json_value(x) for x in v]
    if isinstance(v, (str, int, float, bool)) or v is None:
        return v
    return str(v)  # timestamps, decimals, bytes reprs


def _rows_json(df, max_rows: int):
    return [_json_value(r.asDict(recursive=True))
            for r in df.limit(max_rows).collect()]


def _coerce(value, dtype: T.DataType):
    """JSON value -> Spark slot type (the camelCase plist coercion analog,
    rest.lisp:640-658)."""
    if value is None:
        return None
    if isinstance(dtype, (T.IntegerType, T.LongType, T.ShortType)):
        return int(value)
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return float(value)
    if isinstance(dtype, T.BooleanType):
        return bool(value)
    if isinstance(dtype, T.TimestampType):
        import datetime as dt
        return (dt.datetime.fromisoformat(value)
                if isinstance(value, str) else value)
    return str(value)


class RestServer:
    """One HTTP server fronting named graphs.

    ``graphs`` maps graph-name -> VersionedGraph. ``auth`` is the
    with-rest-auth seam (rest.lisp:359-368): a callable
    ``(username, password) -> bool`` applied to every request; None = open.
    """

    def __init__(self, graphs: dict[str, VersionedGraph], *,
                 auth: Callable[[str, str], bool] | None = None,
                 max_rows: int = 1000, port: int = 0,
                 host: str = "127.0.0.1"):
        self.graphs = graphs
        self.auth = auth
        self.max_rows = max_rows
        server = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet
                pass

            def _dispatch(handler, method: str):
                ndjson = False
                try:
                    body = handler._read_body()
                    url = urlparse(handler.path)
                    qs = dict(parse_qsl(url.query))
                    # the wire format is a TRANSPORT option, read from the
                    # query string only (rest.lisp:118-125) — a query/
                    # procedure parameter legitimately named 'format' in
                    # the body must not toggle the encoding
                    ndjson = qs.pop("format", None) == "ndjson"
                    params = qs
                    params.update(body if isinstance(body, dict) else {})
                    server._check_auth(params)
                    parts = [p for p in url.path.split("/") if p]
                    status, payload = server._route(method, parts, params)
                except _HttpError as e:
                    status, payload = e.status, {"error": e.message}
                except ConflictError as e:
                    status, payload = 409, {"error": str(e)}
                except KeyError as e:
                    status, payload = 404, {"error": f"not found: {e}"}
                except PermissionError as e:
                    status, payload = 403, {"error": str(e)}
                except (ValueError, TypeError) as e:
                    status, payload = 400, {"error": str(e)}
                except Exception as e:  # noqa: BLE001 — a procedure or
                    # Spark analysis error must surface as a JSON 500, not
                    # a dropped connection
                    status, payload = 500, {
                        "error": f"{type(e).__name__}: {e}"}
                # ndjson format for row-list results (rest.lisp:118-145):
                # one JSON object per line, application/x-ndjson
                if status == 200 and isinstance(payload, list) and ndjson:
                    data = b"".join(json.dumps(r).encode() + b"\n"
                                    for r in payload)
                    ctype = "application/x-ndjson"
                else:
                    data = json.dumps(payload).encode()
                    ctype = "application/json"
                handler.send_response(status)
                handler.send_header("Content-Type", ctype)
                handler.send_header("Content-Length", str(len(data)))
                handler.end_headers()
                handler.wfile.write(data)

            def _read_body(handler):
                n = int(handler.headers.get("Content-Length") or 0)
                if not n:
                    return {}
                raw = handler.rfile.read(n)
                try:
                    return json.loads(raw)
                except json.JSONDecodeError:
                    # rest.lisp:812-816: malformed JSON body -> 400
                    raise _HttpError(400, "malformed JSON request body")

            def do_GET(self):
                self._dispatch("GET")

            def do_POST(self):
                self._dispatch("POST")

            def do_PUT(self):
                self._dispatch("PUT")

            def do_DELETE(self):
                self._dispatch("DELETE")

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self._thread = threading.Thread(target=self._httpd.serve_forever,
                                        daemon=True)

    # -- lifecycle ----------------------------------------------------------

    @property
    def address(self) -> str:
        host, port = self._httpd.server_address[:2]
        return f"http://{host}:{port}"

    def start(self) -> "RestServer":
        if not self._thread.is_alive():
            self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()

    def __enter__(self):
        return self.start()

    def __exit__(self, *exc):
        self.stop()

    # -- routing ------------------------------------------------------------

    def _check_auth(self, params: dict) -> None:
        if self.auth is not None and not self.auth(
                params.get("username", ""), params.get("password", "")):
            raise _HttpError(401, "authentication failed")

    def _graph(self, name: str) -> VersionedGraph:
        try:
            return self.graphs[name]
        except KeyError:
            raise _HttpError(404, f"unknown graph '{name}'")

    def _route(self, method: str, parts: list[str], params: dict):
        if len(parts) < 2 or parts[0] != "graph":
            raise _HttpError(404, "unknown route")
        vg = self._graph(parts[1])
        rest = parts[2:]
        if not rest:
            if method == "GET":
                return 200, self._graph_summary(vg)
            raise _HttpError(405, "method not allowed")
        kind, arg = rest[0], (rest[1] if len(rest) > 1 else None)
        if kind in ("vertex", "edge"):
            if arg is None:
                raise _HttpError(404, "missing id/type")
            if len(rest) == 3:
                # the only 3-segment route: edge listing, and it exists
                # only under /vertex/ (rest.lisp:776-780)
                if method == "GET" and rest[2] == "edges" and kind == "vertex":
                    return 200, self._list_edges(vg, arg)
                raise _HttpError(404, "unknown route")
            if method == "GET":
                return 200, self._get_node(vg, kind, arg)
            if method == "POST":
                return 200, self._create_node(vg, kind, arg, params)
            if method == "PUT":
                return 200, self._update_node(vg, kind, arg, params)
            if method == "DELETE":
                return 200, self._delete_node(vg, kind, arg)
        if kind == "procedure" and method == "POST" and arg is not None:
            try:
                fn = _PROCEDURES[arg]
            except KeyError:
                raise _HttpError(404, f"unknown procedure '{arg}'")
            return 200, _json_value(fn(vg, params))
        if kind == "query" and method == "POST":
            if arg is not None:
                return 200, self._named_query(vg, arg, params)
            return 200, self._pattern_query(vg, params)
        raise _HttpError(404, "unknown route")

    # -- handlers ------------------------------------------------------------

    def _graph_summary(self, vg: VersionedGraph):
        store = vg.store()
        return {
            "epoch": vg.current_epoch(),
            "vertexTypes": {t: store.scan_vertices(t).count()
                            for t in store.vertex_types()},
            "edgeTypes": {t: store.scan_edges(t).count()
                          for t in store.edge_types()},
        }

    def _find_type(self, vg: VersionedGraph, kind: str, node_id: str) -> str:
        """Resolve which declared type holds this id (the reference's
        store-wide lookup-vertex/lookup-edge, vertex.lisp:84-91)."""
        tname = vg.locate(kind, node_id)
        if tname is None:
            raise _HttpError(404, f"unknown {kind} '{node_id}'")
        return tname

    def _get_node(self, vg, kind, node_id, tname=None):
        """``tname`` is passed by a handler that already knows the type."""
        tname = tname or self._find_type(vg, kind, node_id)
        row = vg.get(tname, node_id)
        if row is None:
            raise _HttpError(404, f"unknown {kind} '{node_id}'")
        return _json_value(row.asDict(recursive=True)) | {"type": tname}

    def _one_row_df(self, vg, nt, node_id: str, slots: dict, extra=None):
        fields = [T.StructField("id", T.StringType())]
        values = {"id": node_id}
        for fname, ftype in (extra or {}).items():
            fields.append(T.StructField(fname, ftype))
            values[fname] = _coerce(slots.get(fname), ftype)
        for sname, stype in nt.slots.items():
            fields.append(T.StructField(sname, stype, True))
            values[sname] = _coerce(slots.get(sname), stype)
        schema = T.StructType(fields)
        return local_frame(vg.spark,
                           [tuple(values[f.name] for f in schema.fields)],
                           schema)

    def _create_node(self, vg, kind, type_name, params):
        try:
            nt = vg.registry.get(type_name)
        except KeyError:
            # rest.lisp:656-658 "Unknown vertex type"
            raise _HttpError(400, f"unknown {kind} type '{type_name}'")
        if nt.kind != kind:
            raise _HttpError(400, f"'{type_name}' is not a {kind} type")
        node_id = params.get("id") or self._gen_id(type_name)
        # make-vertex retries on id collision (vertex.lisp:105-146); a
        # client-supplied duplicate is the client's error -> 409
        if vg.get(nt.name, node_id) is not None:
            raise _HttpError(409, f"{kind} id '{node_id}' already exists")
        extra = None
        if kind == "edge":
            frm, to = params.get("from"), params.get("to")
            if not frm or not to:
                # rest.lisp:720-722
                raise _HttpError(400,
                                 "You must provide both FROM and TO vertices")
            if vg.locate("vertex", frm) is None or \
                    vg.locate("vertex", to) is None:
                raise _HttpError(400,
                                 "You must provide both FROM and TO vertices")
            extra = {"src": T.StringType(), "dst": T.StringType(),
                     "weight": T.DoubleType()}
            params = dict(params)
            params.setdefault("weight", 1.0)
            params["src"], params["dst"] = frm, to
        df = self._one_row_df(vg, nt, node_id, params, extra)
        vg.commit(vg.begin().create(nt.name, df))
        return self._get_node(vg, kind, node_id, nt.name)

    def _update_node(self, vg, kind, node_id, params):
        tname = self._find_type(vg, kind, node_id)
        nt = vg.registry.get(tname)
        cur = vg.get(tname, node_id)
        if cur is None or cur["deleted"]:
            raise _HttpError(404, f"{kind} '{node_id}' is deleted")
        merged = cur.asDict()
        for sname in nt.slots:
            if sname in params:
                merged[sname] = params[sname]
        extra = ({"src": T.StringType(), "dst": T.StringType(),
                  "weight": T.DoubleType()} if kind == "edge" else None)
        df = (self._one_row_df(vg, nt, node_id, merged, extra)
              .withColumn("revision", F.lit(cur["revision"]).cast("long")))
        vg.commit(vg.begin().save(tname, df))
        return self._get_node(vg, kind, node_id, tname)

    def _delete_node(self, vg, kind, node_id):
        tname = self._find_type(vg, kind, node_id)
        vg.commit(vg.begin().mark_deleted(tname, [node_id]))
        return {"deleted": node_id, "type": tname}

    def _list_edges(self, vg, node_id):
        # rest-list-edges (rest.lisp:749-762): out then in, active only
        self._find_type(vg, "vertex", node_id)
        edges = vg.incident_edges(node_id)
        out = edges.filter(F.col("src") == node_id)
        inc = edges.filter(F.col("dst") == node_id)
        return {"out": _rows_json(out, self.max_rows),
                "in": _rows_json(inc, self.max_rows)}

    def _named_query(self, vg, name, params):
        from vivace_graph_v3_spark.query.builder import EffectNotAllowed
        from vivace_graph_v3_spark.query.pattern import (ParamError,
                                                         QueryError,
                                                         run_query)
        try:
            df = run_query(vg.store(), name, params)
        except KeyError:
            raise _HttpError(404, f"Unknown query '{name}'")
        except ParamError as e:
            raise _HttpError(400, str(e))
        except EffectNotAllowed as e:
            # prolog-permission-error -> 403 (rest.lisp:430-433)
            raise _HttpError(403, str(e))
        except QueryError as e:
            raise _HttpError(400, str(e))
        return _rows_json(df, self.max_rows)

    def _pattern_query(self, vg, params):
        from vivace_graph_v3_spark.query.builder import EffectNotAllowed
        from vivace_graph_v3_spark.query.pattern import (
            QueryError, compile_pattern_query)
        spec = {k: v for k, v in params.items()
                if k not in ("username", "password")}
        if not spec.get("match"):
            raise _HttpError(400, "pattern query needs a 'match' clause")
        try:
            df = compile_pattern_query(vg.store(), spec)
        except EffectNotAllowed as e:
            raise _HttpError(403, str(e))
        except QueryError as e:
            raise _HttpError(400, str(e))
        return _rows_json(df, self.max_rows)

    def _gen_id(self, type_name: str) -> str:
        """Collision-free across server restarts (a process-local counter
        would regenerate old ids against a persisted graph)."""
        import uuid

        return f"{type_name}:{uuid.uuid4().hex}"
