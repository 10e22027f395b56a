"""REST HTTP layer (rest.lisp:620-817): CRUD round trips, edge listing,
named queries, ad-hoc pattern queries, procedures, auth, and error codes —
driven over real HTTP against a live server on an ephemeral port."""

import json
import urllib.error
import urllib.request

import pytest
from pyspark.sql import types as T

from vivace_graph_v3_spark.graph import GraphStore
from vivace_graph_v3_spark.mvcc import VersionedGraph
from vivace_graph_v3_spark.query.pattern import clear_queries, def_query
from vivace_graph_v3_spark.rest import (RestServer, clear_rest_procedures,
                                        def_rest_procedure)
from vivace_graph_v3_spark.schema import SchemaRegistry

from tests.conftest import last_job_id


def _req(method, url, body=None, expect_error=None):
    data = json.dumps(body).encode() if body is not None else None
    req = urllib.request.Request(url, data=data, method=method,
                                 headers={"Content-Type": "application/json"})
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        if expect_error is None:
            raise
        assert e.code == expect_error, (e.code, e.read())
        return e.code, json.loads(e.read())


@pytest.fixture()
def server(spark, tmp_path):
    reg = SchemaRegistry()
    reg.def_vertex("person", {"name": T.StringType(), "age": T.IntegerType()})
    reg.def_edge("knows", {"since": T.IntegerType()})
    vg = VersionedGraph(spark, reg, str(tmp_path / "restg"), name="g")
    clear_queries()
    clear_rest_procedures()
    with RestServer({"main": vg}).start() as srv:
        yield srv, vg


def test_vertex_crud_roundtrip(server):
    srv, vg = server
    base = f"{srv.address}/graph/main"

    # POST create
    st, created = _req("POST", f"{base}/vertex/person",
                       {"id": "p1", "name": "ann", "age": 30})
    assert st == 200 and created["name"] == "ann" and created["type"] == "person"

    # GET
    st, got = _req("GET", f"{base}/vertex/p1")
    assert got["age"] == 30 and got["revision"] == 0

    # PUT copy->save bumps revision
    st, updated = _req("PUT", f"{base}/vertex/p1", {"age": 31})
    assert updated["age"] == 31 and updated["revision"] == 1
    assert updated["name"] == "ann"  # untouched slot survives

    # DELETE tombstones; subsequent GET still finds it (lookup includes
    # deleted, vertex.lisp:84-91) but the live read does not
    st, deleted = _req("DELETE", f"{base}/vertex/p1")
    assert deleted == {"deleted": "p1", "type": "person"}
    assert vg.read("person").count() == 0
    st, got = _req("GET", f"{base}/vertex/p1")
    assert got["deleted"] is True

    # unknown type -> 400; unknown id -> 404
    _req("POST", f"{base}/vertex/nosuch", {"id": "x"}, expect_error=400)
    _req("GET", f"{base}/vertex/nobody", expect_error=404)


def test_edge_crud_and_listing(server):
    srv, vg = server
    base = f"{srv.address}/graph/main"
    for pid, name in [("p1", "ann"), ("p2", "bob")]:
        _req("POST", f"{base}/vertex/person", {"id": pid, "name": name})

    # POST edge requires both endpoints (rest.lisp:720-722)
    st, err = _req("POST", f"{base}/edge/knows", {"from": "p1"},
                   expect_error=400)
    assert "FROM and TO" in err["error"]
    _req("POST", f"{base}/edge/knows", {"from": "p1", "to": "ghost"},
         expect_error=400)

    st, edge = _req("POST", f"{base}/edge/knows",
                    {"id": "e1", "from": "p1", "to": "p2", "since": 2019})
    assert edge["src"] == "p1" and edge["dst"] == "p2" and edge["since"] == 2019

    # per-vertex edge listing: out for p1, in for p2 (rest.lisp:749-762)
    st, p1e = _req("GET", f"{base}/vertex/p1/edges")
    assert [e["id"] for e in p1e["out"]] == ["e1"] and p1e["in"] == []
    st, p2e = _req("GET", f"{base}/vertex/p2/edges")
    assert [e["id"] for e in p2e["in"]] == ["e1"] and p2e["out"] == []

    st, upd = _req("PUT", f"{base}/edge/e1", {"since": 2020})
    assert upd["since"] == 2020 and upd["revision"] == 1

    _req("DELETE", f"{base}/edge/e1")
    st, p1e = _req("GET", f"{base}/vertex/p1/edges")
    assert p1e["out"] == []


def test_graph_summary_and_unknown_graph(server):
    srv, vg = server
    _req("POST", f"{srv.address}/graph/main/vertex/person",
         {"id": "p1", "name": "ann"})
    st, summary = _req("GET", f"{srv.address}/graph/main")
    assert summary["vertexTypes"]["person"] == 1
    assert summary["epoch"] >= 1
    _req("GET", f"{srv.address}/graph/nope", expect_error=404)


def test_named_query_and_pattern_query(server):
    srv, vg = server
    base = f"{srv.address}/graph/main"
    for pid, name, age in [("p1", "ann", 30), ("p2", "bob", 17)]:
        _req("POST", f"{base}/vertex/person",
             {"id": pid, "name": name, "age": age})

    def_query("adults", vars=["?n"],
              goals=[("is-a", "?p", "person"),
                     ("node-slot-value", "?p", "age", "?a"),
                     ("node-slot-value", "?p", "name", "?n"),
                     ("param", "?min", "min_age"),
                     (">=", "?a", "?min")],
              params={"min_age": "int"})
    st, rows = _req("POST", f"{base}/query/adults", {"min_age": 18})
    assert [r["n"] for r in rows] == ["ann"]

    _req("POST", f"{base}/query/nosuch", {}, expect_error=404)
    # bad param type -> 400
    _req("POST", f"{base}/query/adults", {"min_age": "not-a-number"},
         expect_error=400)

    # ad-hoc pattern DSL (rest.lisp:448-618)
    spec = {"match": [{"vertex": "?p", "type": "person"}],
            "where": [{"slot": ["?p", "age"], "op": "<", "value": 18}],
            "select": [{"slot": ["?p", "name"], "as": "?n"}]}
    st, rows = _req("POST", f"{base}/query", spec)
    assert [r["n"] for r in rows] == ["bob"]
    # malformed body -> 400
    st, err = _req("POST", f"{base}/query", {"select": ["?x"]},
                   expect_error=400)


def test_procedure_and_auth(spark, tmp_path):
    reg = SchemaRegistry()
    reg.def_vertex("person", {"name": T.StringType()})
    vg = VersionedGraph(spark, reg, str(tmp_path / "authg"), name="g")
    clear_rest_procedures()

    @def_rest_procedure("countPeople")
    def count_people(graph, params):
        return {"count": graph.read("person").count()}

    auth = lambda u, p: (u, p) == ("admin", "s3cret")  # noqa: E731
    with RestServer({"main": vg}, auth=auth).start() as srv:
        base = f"{srv.address}/graph/main"
        _req("GET", base, expect_error=401)
        st, summary = _req("GET", f"{base}?username=admin&password=s3cret")
        assert st == 200
        st, out = _req("POST", f"{base}/procedure/countPeople",
                       {"username": "admin", "password": "s3cret"})
        assert out == {"count": 0}
        _req("POST", f"{base}/procedure/nosuch",
             {"username": "admin", "password": "s3cret"}, expect_error=404)


def test_stale_put_conflict(server):
    """Two writers race on the same revision: the REST layer surfaces the
    MVCC OCC ConflictError as HTTP 409."""
    srv, vg = server
    base = f"{srv.address}/graph/main"
    _req("POST", f"{base}/vertex/person", {"id": "p1", "name": "ann", "age": 1})
    _req("PUT", f"{base}/vertex/p1", {"age": 2})
    # bypass HTTP to submit a stale save directly
    from vivace_graph_v3_spark.mvcc import ConflictError
    stale = vg.spark.createDataFrame(
        [("p1", "ann", 9, 0)],
        "id string, name string, age int, revision long")
    with pytest.raises(ConflictError):
        vg.commit(vg.begin().save("person", stale))


def test_named_query_effect_policy(server):
    """def-query defaults to read-only (rest.lisp:384-391): an effecting
    goal raises 403 through HTTP unless the server author opts in."""
    srv, vg = server
    base = f"{srv.address}/graph/main"
    _req("POST", f"{base}/vertex/person", {"id": "p1", "name": "ann", "age": 3})

    def_query("evals", vars=["?x"],
              goals=[("is-a", "?p", "person"),
                     ("lisp", "?x", "1 + 1")])
    st, err = _req("POST", f"{base}/query/evals", {}, expect_error=403)
    assert "eval" in err["error"]

    def_query("evals_ok", vars=["?x"],
              goals=[("is-a", "?p", "person"),
                     ("lisp", "?x", "1 + 1")],
              effects={"eval"})
    st, rows = _req("POST", f"{base}/query/evals_ok", {})
    assert rows == [{"x": 2}]


def test_create_duplicate_id_conflict(server):
    srv, vg = server
    base = f"{srv.address}/graph/main"
    _req("POST", f"{base}/vertex/person", {"id": "p1", "name": "ann"})
    st, err = _req("POST", f"{base}/vertex/person", {"id": "p1", "name": "bis"},
                   expect_error=409)
    assert "already exists" in err["error"]
    # generated ids never collide (uuid4-based)
    st, a = _req("POST", f"{base}/vertex/person", {"name": "x"})
    st, b = _req("POST", f"{base}/vertex/person", {"name": "y"})
    assert a["id"] != b["id"]


def test_edge_listing_only_under_vertex(server):
    srv, vg = server
    base = f"{srv.address}/graph/main"
    for pid in ("p1", "p2"):
        _req("POST", f"{base}/vertex/person", {"id": pid, "name": pid})
    _req("POST", f"{base}/edge/knows", {"id": "e1", "from": "p1", "to": "p2"})
    st, err = _req("GET", f"{base}/edge/e1/edges", expect_error=404)
    assert "unknown route" in err["error"]


def test_failing_procedure_returns_500(server):
    srv, vg = server

    @def_rest_procedure("boom")
    def boom(graph, params):
        raise AttributeError("exploded")

    st, err = _req("POST", f"{srv.address}/graph/main/procedure/boom", {},
                   expect_error=500)
    assert "AttributeError" in err["error"]


def test_ndjson_format(server):
    """format=ndjson renders row-list results one JSON object per line
    with the x-ndjson content type (rest.lisp:118-145)."""
    srv, vg = server
    base = f"{srv.address}/graph/main"
    for pid, name, age in [("p1", "ann", 30), ("p2", "bob", 17)]:
        _req("POST", f"{base}/vertex/person",
             {"id": pid, "name": name, "age": age})
    def_query("everyone", vars=["?n"],
              goals=[("is-a", "?p", "person"),
                     ("node-slot-value", "?p", "name", "?n")],
              order_by=["?n"])
    req = urllib.request.Request(f"{base}/query/everyone?format=ndjson",
                                 data=b"{}", method="POST")
    with urllib.request.urlopen(req) as resp:
        assert resp.headers["Content-Type"] == "application/x-ndjson"
        lines = resp.read().decode().splitlines()
    assert [json.loads(ln) for ln in lines] == [{"n": "ann"}, {"n": "bob"}]


def test_point_requests_job_budget(server):
    """An id request is a point probe, not a scan of every type, and the
    driver-held log tail answers for the log. On a store with a base AND
    a non-empty log: planning a query view and reading the epoch run no
    job; a GET of a logged id runs none and one of a base-only id 2; a
    type lookup 1; POST 2; PUT of a base-only id 4 and of a logged one 1;
    DELETE of a logged id 1; a named query over the logged type 3, a
    pattern query 5, and an edge listing 3."""
    srv, vg = server
    spark = vg.spark
    seed = GraphStore(spark, vg.registry)
    seed.add_vertices("person", spark.createDataFrame(
        [("p1", "person", False, 0, 0, "ann", 6),
         ("p2", "person", False, 0, 0, "bob", 9)],
        vg.registry.get("person").struct_type()))
    seed.add_edges("knows", spark.createDataFrame(
        [("e1", "knows", False, 0, 0, "p1", "p2", 1.0, 2019)],
        vg.registry.get("knows").struct_type()))
    vg.init_from_store(seed)
    vg.commit(vg.begin().save("person", spark.createDataFrame(
        [("p1", "ann", 7, 0)],
        "id string, name string, age int, revision long")))
    base = f"{srv.address}/graph/main"

    def jobs(fn):
        j0 = last_job_id(spark)
        out = fn()
        return last_job_id(spark) - j0, out

    assert jobs(vg.store)[0] == 0
    assert jobs(vg.current_epoch) == (0, 1)
    n, got = jobs(lambda: srv._get_node(vg, "vertex", "p1"))
    assert n == 0 and got["age"] == 7 and got["revision"] == 1
    n, got = jobs(lambda: srv._get_node(vg, "vertex", "p2"))
    assert n <= 2 and got["age"] == 9
    n, tname = jobs(lambda: vg.locate("edge", "e1"))
    assert n == 1 and tname == "knows"
    n, (_, got) = jobs(lambda: _req("POST", f"{base}/vertex/person",
                                    {"id": "p3", "name": "cy"}))
    assert n <= 2 and got["revision"] == 0
    n, (_, got) = jobs(lambda: _req("PUT", f"{base}/vertex/p2", {"age": 10}))
    assert n <= 4 and got["age"] == 10 and got["revision"] == 1
    n, (_, got) = jobs(lambda: _req("PUT", f"{base}/vertex/p1", {"age": 8}))
    assert n <= 1 and got["age"] == 8 and got["revision"] == 2
    n, _ = jobs(lambda: _req("DELETE", f"{base}/vertex/p3"))
    assert n <= 1 and vg.get("person", "p3")["deleted"] is True
    # queries over a type with log rows read its winners from the tail
    def_query("aged", vars=["?p", "?a"],
              goals=[("is-a", "?p", "person"),
                     ("node-slot-value", "?p", "age", "?a"),
                     ("param", "?min", "min_age"),
                     (">=", "?a", "?min")],
              params={"min_age": "int"}, limit=25)
    n, (_, got) = jobs(lambda: _req("POST", f"{base}/query/aged",
                                    {"min_age": 8}))
    assert n <= 3 and sorted((r["p"], r["a"]) for r in got) == \
        [("p1", 8), ("p2", 10)]
    spec = {"match": [{"vertex": "?p", "type": "person"}],
            "where": [{"slot": ["?p", "age"], "op": ">", "value": 8}],
            "select": [{"slot": ["?p", "name"], "as": "?n"}]}
    n, (_, got) = jobs(lambda: _req("POST", f"{base}/query", spec))
    assert n <= 5 and [r["n"] for r in got] == ["bob"]
    n, (_, got) = jobs(lambda: _req("GET", f"{base}/vertex/p1/edges"))
    assert n <= 3 and [e["id"] for e in got["out"]] == ["e1"]


def test_request_write_sets_are_local_relations(server):
    """POST, PUT and DELETE hand commit() write-sets that plan as a JVM
    LocalRelation, so no Python worker runs on a request path."""
    from unittest import mock

    srv, vg = server
    base = f"{srv.address}/graph/main"
    plans = []
    commit = vg.commit

    def spy(tx):
        plans.extend((op, df._jdf.queryExecution().optimizedPlan()
                      .getClass().getSimpleName()) for op, _, df in tx.ops)
        return commit(tx)

    with mock.patch.object(vg, "commit", spy):
        for pid in ("p1", "p2"):
            _req("POST", f"{base}/vertex/person", {"id": pid, "name": pid})
        _req("POST", f"{base}/edge/knows", {"id": "e1", "from": "p1",
                                            "to": "p2", "since": 2019})
        _req("PUT", f"{base}/vertex/p1", {"age": 4})
        _req("PUT", f"{base}/edge/e1", {"since": 2020})
        _req("DELETE", f"{base}/edge/e1")
        _req("DELETE", f"{base}/vertex/p2")
    assert [op for op, _ in plans] == ["insert"] * 3 + ["update"] * 2 + \
        ["delete"] * 2
    assert {cls for _, cls in plans} == {"LocalRelation"}


def test_threaded_gets_during_commits(server):
    """GETs from more threads than cores, with a short switch interval,
    while commits stream in: every reply is a committed version (slot and
    revision move together), no reader ever sees the revision go back,
    and the last reply is the final state."""
    import sys
    import threading

    srv, vg = server
    url = f"{srv.address}/graph/main/vertex/p1"
    _req("POST", f"{srv.address}/graph/main/vertex/person",
         {"id": "p1", "name": "ann", "age": 0})
    stop, seen, errors = threading.Event(), [], []

    def reader():
        last = -1
        try:
            while not stop.is_set():
                _, got = _req("GET", url)
                assert got["age"] == got["revision"] >= last, (got, last)
                last = got["revision"]
                seen.append(last)
        except Exception as ex:  # pragma: no cover - surfaced below
            errors.append(ex)

    threads = [threading.Thread(target=reader) for _ in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for age in range(1, 6):
            _req("PUT", url, {"age": age})
    finally:
        stop.set()
        for t in threads:
            t.join(60)
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert seen and max(seen) <= 5
    _, got = _req("GET", url)
    assert got["age"] == got["revision"] == 5
