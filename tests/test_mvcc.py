"""MVCC write-path tests, mirroring the reference's mvcc-tests.lisp /
write-path-tests.lisp assertions: create/save/delete round trips, stale-save
conflict, epoch time travel, snapshot/replay, compaction retention."""

import os

import pyspark.sql.functions as F
import pytest
from pyspark.sql import types as T

from vivace_graph_v3_spark.mvcc import LOG_SCHEMA, ConflictError, VersionedGraph
from vivace_graph_v3_spark.schema import SchemaRegistry
from vivace_graph_v3_spark.util import local_frame

from tests.conftest import distributed_regime, last_job_id


@pytest.fixture()
def vg(spark, tmp_path):
    reg = SchemaRegistry()
    reg.def_vertex("person", {"name": T.StringType(), "age": T.IntegerType()},
                   keep_revisions=1)
    reg.def_edge("knows")
    return VersionedGraph(spark, reg, str(tmp_path / "g"))


def _people(spark, rows):
    return spark.createDataFrame(rows, "id string, name string, age int")


def test_create_and_read(vg, spark):
    tx = vg.begin().create("person", _people(spark, [("p1", "ann", 30),
                                                     ("p2", "bob", 40)]))
    epoch = vg.commit(tx)
    assert epoch == 1
    cur = vg.read("person")
    assert {r["name"] for r in cur.collect()} == {"ann", "bob"}
    assert all(r["revision"] == 0 for r in cur.collect())


def test_save_bumps_revision_and_time_travel(vg, spark):
    vg.commit(vg.begin().create("person", _people(spark, [("p1", "ann", 30)])))
    row = vg.read("person").first()
    upd = spark.createDataFrame([("p1", "ann", 31, row["revision"])],
                                "id string, name string, age int, revision long")
    e2 = vg.commit(vg.begin().save("person", upd))
    cur = vg.read("person").first()
    assert cur["age"] == 31 and cur["revision"] == 1
    # snapshot read at the first epoch still sees the old version
    old = vg.read("person", as_of=e2 - 1).first()
    assert old["age"] == 30 and old["revision"] == 0


def test_stale_save_conflict(vg, spark):
    vg.commit(vg.begin().create("person", _people(spark, [("p1", "ann", 30)])))
    upd = spark.createDataFrame([("p1", "ann", 31, 0)],
                                "id string, name string, age int, revision long")
    vg.commit(vg.begin().save("person", upd))
    with pytest.raises(ConflictError):
        vg.commit(vg.begin().save("person", upd))  # carries revision 0, now 1


def test_delete_and_active_edges(vg, spark):
    vg.commit(vg.begin().create("person", _people(spark, [
        ("p1", "ann", 30), ("p2", "bob", 40), ("p3", "cyd", 50)])))
    edges = spark.createDataFrame(
        [("e1", "p1", "p2", 1.0), ("e2", "p2", "p3", 1.0)],
        "id string, src string, dst string, weight double")
    vg.commit(vg.begin().create("knows", edges))
    vg.commit(vg.begin().mark_deleted("person", ["p3"]))
    store = vg.store()
    assert store.scan_vertices("person").count() == 2
    assert store.scan_vertices("person", include_deleted=True).count() == 3
    # active-edge-p: e2's endpoint p3 is deleted -> only e1 active
    assert [r["id"] for r in store.active_edges("knows").collect()] == ["e1"]


def test_retract_edges(vg, spark):
    vg.commit(vg.begin().create("person", _people(spark, [("p1", "a", 1),
                                                          ("p2", "b", 2)])))
    edges = spark.createDataFrame([("e1", "p1", "p2", 1.0)],
                                  "id string, src string, dst string, weight double")
    vg.commit(vg.begin().create("knows", edges))
    vg.retract_edges("knows", src="p1")
    assert vg.read("knows").count() == 0
    assert vg.read("knows", include_deleted=True).count() == 1


def test_snapshot_replay_roundtrip(vg, spark, tmp_path):
    vg.commit(vg.begin().create("person", _people(spark, [("p1", "ann", 30),
                                                          ("p2", "bob", 40)])))
    vg.commit(vg.begin().mark_deleted("person", ["p2"]))
    snap = str(tmp_path / "snap")
    vg.snapshot(snap)
    g2 = VersionedGraph.replay(spark, vg.registry, snap, str(tmp_path / "g2"))
    rows = g2.read("person").collect()
    assert [r["name"] for r in rows] == ["ann"]


def test_compact_crash_window_base_aside_recovers(vg, spark):
    """ADVICE r6 swap rule applied to compact(): a crash between the two
    renames of the base swap leaves the base only at the .old aside —
    the next read restores it instead of silently reading an empty
    base."""
    import os
    import shutil

    vg.commit(vg.begin().create("person", _people(spark, [("p1", "a", 1),
                                                          ("p2", "b", 2)])))
    vg.compact()
    base = vg._base_path(vg.registry.get("person"))
    assert os.path.isdir(base)
    # simulate the crash window
    os.rename(base, base + ".old")
    assert sorted(r["id"] for r in vg.read("person").collect()) == \
        ["p1", "p2"]
    assert os.path.isdir(base) and not os.path.exists(base + ".old")
    shutil.rmtree(base + ".old", ignore_errors=True)


def test_compact_preserves_state_and_retention(vg, spark):
    vg.commit(vg.begin().create("person", _people(spark, [("p1", "ann", 30)])))
    for age in (31, 32, 33):
        row = vg.read("person").first()
        upd = spark.createDataFrame([("p1", "ann", age, row["revision"])],
                                    "id string, name string, age int, revision long")
        vg.commit(vg.begin().save("person", upd))
    vg.compact()
    cur = vg.read("person").first()
    assert cur["age"] == 33 and cur["revision"] == 3
    # the log is gone, but the epoch does not go back
    assert vg.current_epoch() == 4
    # keep_revisions=1 -> exactly one superseded version retained
    hist = spark.read.parquet(str(vg.path) + "/history/vertex_person")
    assert hist.count() == 1 and hist.first()["age"] == 32
    # mutation after compaction still works
    row = vg.read("person").first()
    upd = spark.createDataFrame([("p1", "ann", 40, row["revision"])],
                                "id string, name string, age int, revision long")
    vg.commit(vg.begin().save("person", upd))
    assert vg.read("person").first()["age"] == 40


def test_compact_jobs_do_not_grow_with_unlogged_types(spark, tmp_path):
    """compact() finds the logged types from the driver-held log tail
    (past the driver bound, from one distinct collect), so types that
    have no log rows cost it no Spark job: its job count is the same
    with 0 or 3 extra registered types, in both regimes."""
    import contextlib

    def compact_jobs(extra: int, where: str) -> int:
        reg = SchemaRegistry()
        reg.def_vertex("person", {"name": T.StringType(),
                                  "age": T.IntegerType()})
        reg.def_edge("knows")
        for i in range(extra):
            reg.def_vertex(f"unlogged{i}", {})
        g = VersionedGraph(spark, reg, str(tmp_path / where))
        g.commit(g.begin().create("person", _people(
            spark, [("p1", "ann", 30), ("p2", "bob", 40)])))
        j0 = last_job_id(spark)
        g.compact()
        jobs = last_job_id(spark) - j0
        assert sorted(r["name"] for r in g.read("person").collect()) == \
            ["ann", "bob"]
        return jobs

    for regime in (contextlib.nullcontext, distributed_regime):
        with regime():
            name = regime.__name__
            assert (compact_jobs(0, f"{name}0")
                    == compact_jobs(3, f"{name}3")), name


def test_multi_type_atomic_commit(vg, spark):
    """One transaction spanning vertices AND edges lands under ONE epoch
    (atomic apply, transactions.lisp:1906-1952)."""
    tx = (vg.begin()
          .create("person", _people(spark, [("p1", "ann", 30),
                                            ("p2", "bob", 40)]))
          .create("knows", spark.createDataFrame(
              [("e1", "p1", "p2", 1.0)],
              "id string, src string, dst string, weight double")))
    epoch = vg.commit(tx)
    assert vg.read("person").count() == 2
    assert vg.read("knows").count() == 1
    epochs = {r["commit_epoch"]
              for r in vg.read("person", include_deleted=True).collect()}
    epochs |= {r["commit_epoch"]
               for r in vg.read("knows", include_deleted=True).collect()}
    assert epochs == {epoch}
    # snapshot BEFORE the epoch sees neither
    assert vg.read("person", as_of=epoch - 1).count() == 0
    assert vg.read("knows", as_of=epoch - 1).count() == 0


def test_timestamp_slots_keep_microseconds(spark, tmp_path):
    """A timestamp slot reads back with its microseconds through the log
    (``read``, ``get``, ``as_of``, in both regimes), after ``compact()``
    and after ``snapshot`` then ``replay``; a payload written with
    milliseconds still parses."""
    import datetime

    reg = SchemaRegistry()
    reg.def_vertex("ev", {"at": T.TimestampType(),
                          "wall": T.TimestampNTZType()})
    vg = VersionedGraph(spark, reg, str(tmp_path / "g"))
    t1 = datetime.datetime(2021, 2, 3, 4, 5, 6, 123456)
    t2 = datetime.datetime(2022, 12, 31, 23, 59, 59, 999999)
    schema = "id string, at timestamp, wall timestamp_ntz"
    e1 = vg.commit(vg.begin().create("ev", spark.createDataFrame(
        [("a", t1, t1)], schema)))
    vg.commit(vg.begin().save("ev", spark.createDataFrame(
        [("a", t2, t2, 0)], schema + ", revision long")))

    def slots(row):
        return row["at"], row["wall"]

    def check(graph, *, then=True):
        assert slots(graph.read("ev").first()) == (t2, t2)
        assert slots(graph.get("ev", "a")) == (t2, t2)
        if then:
            assert slots(graph.read("ev", as_of=e1).first()) == (t1, t1)

    check(vg)
    with distributed_regime():
        check(vg)
    snap = str(tmp_path / "snap")
    vg.snapshot(snap)
    check(VersionedGraph.replay(spark, reg, snap, str(tmp_path / "g2")),
          then=False)
    vg.compact()
    check(vg, then=False)
    # a payload logged with milliseconds, as older commits wrote it
    old = spark.createDataFrame([(
        9, "vertex", "ev", "insert", "b", 0, False, None, None, None,
        '{"at":"2020-01-01T00:00:00.250Z","wall":"2020-01-01T00:00:00.250"}',
        0.0)], LOG_SCHEMA)
    old.write.mode("append").parquet(vg.log_path)
    want = datetime.datetime(2020, 1, 1, 0, 0, 0, 250000)
    assert slots(vg.get("ev", "b")) == (want, want)
    with distributed_regime():
        assert slots(vg.get("ev", "b")) == (want, want)


def test_compact_waits_for_commit_lock(vg):
    """compact() takes the commit lock: while a writer holds it, a
    compaction must not start, or it would delete the writer's commit
    with the log."""
    import fcntl
    import os
    import threading
    import time

    done = []
    with open(os.path.join(vg.path, ".commit.lock"), "w") as lk:
        fcntl.flock(lk, fcntl.LOCK_EX)
        t = threading.Thread(target=lambda: done.append(vg.compact()))
        t.start()
        time.sleep(3)
        returned_while_locked = bool(done)
        fcntl.flock(lk, fcntl.LOCK_UN)
    t.join(120)
    assert not returned_while_locked
    assert not t.is_alive() and done


def _comparable(row: dict) -> dict:
    """A row dict whose NaNs compare equal."""
    return {k: "NaN" if isinstance(v, float) and v != v else v
            for k, v in row.items()}


def test_point_access_matches_merge_on_read(spark, tmp_path):
    """Differential test: ``get`` against ``read(t, include_deleted=True)``
    filtered to the id, and ``locate`` against probing each type's
    merge-on-read in registry order; and every read (``as_of`` and
    ``include_deleted`` included), store view, get, locate, edge listing
    (``incident_edges``, which past the bound is the
    ``store().active_edges()`` filter) and ``current_epoch`` answered from
    the driver-held log tail against the same call past the driver bound.
    Covers log-only inserts, updates, tombstones (of a vertex, so an edge
    loses an endpoint, and of an edge), an edge update that keeps its
    endpoints and weight, a payload of null, NaN, +-Infinity, date,
    decimal, array and timestamp slots, stale, missing-id and null-id
    conflicts on both commit paths (point probe, fused write), a probe of
    several base-only ids, a foreign writer, a compacted base, commits
    after compact(), log rows whose epoch is below the base's (replay), an
    unknown id, a vertex with no edges and one id held by two types."""
    import datetime
    import decimal

    reg = SchemaRegistry()
    reg.def_vertex("person", {"name": T.StringType(), "age": T.IntegerType()},
                   keep_revisions=1)
    reg.def_vertex("robot", {"name": T.StringType()})
    reg.def_edge("knows", {"since": T.IntegerType(), "x": T.DoubleType(),
                           "d": T.DateType(), "m": T.DecimalType(10, 2),
                           "a": T.ArrayType(T.IntegerType()),
                           "ts": T.TimestampType()})
    vg = VersionedGraph(spark, reg, str(tmp_path / "g"))
    ids = {"vertex": ["p1", "p2", "p3", "p4", "dup", "r1", "nobody"],
           "edge": ["e1", "e2", "e3"]}

    def rows_by_id(df):
        return {r["id"]: _comparable(r.asDict()) for r in df.collect()}

    def rows(df):
        return sorted(repr(sorted(_comparable(r.asDict()).items()))
                      for r in df.collect())

    def state():
        epoch = vg.current_epoch()
        out = {"epoch": epoch}
        for nt in reg.types():
            out[nt.name] = rows_by_id(vg.read(nt.name, as_of=epoch - 1))
        then = vg.store(as_of=epoch - 1)
        out["store"] = rows(then.scan_vertices()), rows(then.active_edges())
        # past the bound, incident_edges is the active_edges() filter
        for node_id in ("p1", "dup", "r1"):
            out["edges", node_id] = rows(vg.incident_edges(node_id))
        for kind, kind_ids in ids.items():
            held = {nt.name: rows_by_id(vg.read(nt.name, include_deleted=True))
                    for nt in reg.types(kind)}
            out[kind] = held
            for node_id in kind_ids:
                first = next((t for t, rows in held.items() if node_id in rows),
                             None)
                out["locate", node_id] = vg.locate(kind, node_id)
                assert out["locate", node_id] == first, node_id
                for tname, held_rows in held.items():
                    got = vg.get(tname, node_id)
                    out["get", tname, node_id] = (_comparable(got.asDict())
                                                  if got else None)
                    assert out["get", tname, node_id] == \
                        held_rows.get(node_id), (tname, node_id)
        return out

    def check():
        j0 = last_job_id(spark)
        vg.current_epoch()
        assert last_job_id(spark) == j0      # the tail fits: no job
        tail = state()
        with distributed_regime():
            assert state() == tail

    def save_age(node_id, age, graph=vg):
        cur = graph.get("person", node_id)
        upd = spark.createDataFrame(
            [(node_id, cur["name"], age, cur["revision"])],
            "id string, name string, age int, revision long")
        graph.commit(graph.begin().save("person", upd))

    vg.commit(vg.begin().create("person", _people(spark, [
        ("p1", "ann", 30), ("p2", "bob", 40), ("dup", "dee", 50)])))
    ts = datetime.datetime(2021, 2, 3, 4, 5, 6, 123456)
    vg.commit(vg.begin().create("knows", spark.createDataFrame([
        ("e1", "p1", "p2", 2.5, 2019, None, None, None, None, None),
        ("e2", "p1", "dup", 1.0, None, float("nan"),
         datetime.date(2020, 2, 29), decimal.Decimal("12.34"),
         [1, None, 3], ts),
        ("e3", "dup", "p1", 1.0, 2001, float("inf"), None,
         decimal.Decimal("-0.50"), [], ts)],
        "id string, src string, dst string, weight double, since int, "
        "x double, d date, m decimal(10,2), a array<int>, ts timestamp")))
    vg.commit(vg.begin().mark_deleted("knows", ["e3"]))
    for age in (31, 32, 33):
        save_age("p1", age)
    vg.commit(vg.begin().mark_deleted("person", ["p2"]))
    # an edge update without src/dst/weight keeps the current ones
    vg.commit(vg.begin().save("knows", spark.createDataFrame(
        [("e1", 2020, float("-inf"), 0)],
        "id string, since int, x double, revision long")))
    assert vg.get("knows", "e1")["src"] == "p1"
    assert vg.get("knows", "e1")["weight"] == 2.5
    check()                                   # log only
    # conflicts raise the same error in both regimes and write nothing;
    # a local-relation write-set is validated by point probe under the
    # tail, any other one by the fused write; a null id is unknown
    stale = [("p1", "ann", 99, 0)]
    stale_schema = T.StructType([
        T.StructField("id", T.StringType()), T.StructField("name", T.StringType()),
        T.StructField("age", T.IntegerType()),
        T.StructField("revision", T.LongType())])
    for tx in (vg.begin().save("person", spark.createDataFrame(stale,
                                                               stale_schema)),
               vg.begin().save("person", local_frame(spark, stale,
                                                     stale_schema)),
               vg.begin().mark_deleted("person", ["p1", "ghost"]),
               vg.begin().mark_deleted("person", [None]),
               vg.begin().mark_deleted("person", ["ghost", None, "p1"]),
               vg.begin().save("person", local_frame(
                   spark, [(None, "x", 1, 0)], stale_schema))):
        files = sorted(os.listdir(vg.log_path))
        with pytest.raises(ConflictError) as tail_err:
            vg.commit(tx)
        with distributed_regime(), pytest.raises(ConflictError) as dist_err:
            vg.commit(tx)
        assert str(tail_err.value) == str(dist_err.value)
        assert sorted(os.listdir(vg.log_path)) == files
    # a second handle on the same path is a foreign writer
    other = VersionedGraph(spark, reg, vg.path)
    other.commit(other.begin().create("person", _people(spark, [
        ("p4", "fay", 20)])))
    save_age("p1", 35, graph=other)
    check()
    vg.compact()
    save_age("p1", 34)
    # base-only ids, more than one: the probe semi-joins the base
    heads = [vg.get("person", i) for i in ("p4", "dup")]
    vg.commit(vg.begin().save("person", local_frame(
        spark, [(h["id"], h["name"], 60, h["revision"]) for h in heads],
        stale_schema)))
    tx = vg.begin().mark_deleted("person", ["zed", "p4", "ghost", "dup"])
    files = sorted(os.listdir(vg.log_path))
    with pytest.raises(ConflictError, match="unknown person id 'ghost'"):
        vg.commit(tx)
    with distributed_regime(), \
            pytest.raises(ConflictError, match="unknown person id 'ghost'"):
        vg.commit(tx)
    assert sorted(os.listdir(vg.log_path)) == files
    vg.commit(vg.begin().create("person", _people(spark, [("p3", "cy", 9)])))
    vg.commit(vg.begin().create("robot", spark.createDataFrame(
        [("dup", "r2d2"), ("r1", "c3po")], "id string, name string")))
    check()            # base only (p2, e1), base + log (p1), log only (p3)
    # replayed insert rows carry epoch 1, below the compacted base's
    # epochs: a log row still supersedes its base row
    snap = str(tmp_path / "snap")
    vg.snapshot(snap, include_deleted=True)
    VersionedGraph.replay(spark, reg, snap, vg.path)
    check()
    assert vg.locate("vertex", "dup") == "person"     # registry order
    assert vg.locate("vertex", "r1") == "robot"
    assert vg.locate("vertex", "nobody") is None
    assert vg.get("person", "p2")["deleted"] is True
