"""MVCC-epoch-keyed result cache: hit serves from cached parquet only,
any commit invalidates, fingerprints are rebuild-stable."""

import pyspark.sql.functions as F
import pytest
from pyspark.sql import types as T

from vivace_graph_v3_spark.mvcc import VersionedGraph
from vivace_graph_v3_spark.plans.result_cache import (ResultCache,
                                                      plan_fingerprint)
from vivace_graph_v3_spark.schema import SchemaRegistry


@pytest.fixture()
def vg(spark, tmp_path):
    reg = SchemaRegistry()
    reg.def_vertex("person", {"name": T.StringType(), "age": T.IntegerType()})
    g = VersionedGraph(spark, reg, str(tmp_path / "g"))
    rows = spark.createDataFrame(
        [("p1", "ann", 30), ("p2", "bob", 40), ("p3", "cy", 30)],
        "id string, name string, age int")
    g.commit(g.begin().create("person", rows))
    return g


def _agg(vg):
    return (vg.read("person").groupBy("age")
            .agg(F.count(F.lit(1)).alias("n")))


def test_hit_serves_from_cache_only(vg, tmp_path):
    rc = ResultCache(vg, str(tmp_path / "rc"))
    r1 = sorted(rc.run(lambda: _agg(vg)).collect())
    hit = rc.run(lambda: _agg(vg))
    assert sorted(hit.collect()) == r1 == [(30, 2), (40, 1)]
    assert rc.stats == {"hits": 1, "misses": 1}
    # the hit's scan reads ONLY the cached result parquet
    files = hit.inputFiles()
    assert files and all(str(tmp_path / "rc") in f for f in files)


def test_commit_invalidates(vg, spark, tmp_path):
    rc = ResultCache(vg, str(tmp_path / "rc"))
    assert sorted(rc.run(lambda: _agg(vg)).collect()) == [(30, 2), (40, 1)]
    rows = spark.createDataFrame([("p4", "dee", 40)],
                                 "id string, name string, age int")
    vg.commit(vg.begin().create("person", rows))
    fresh = sorted(rc.run(lambda: _agg(vg)).collect())
    assert fresh == [(30, 2), (40, 2)]
    assert rc.stats["misses"] == 2


def test_compaction_does_not_reuse_cached_epochs(vg, spark, tmp_path):
    """Epochs survive compact(): a commit after a compaction gets a new
    epoch, so a result cached before the compaction is not served."""
    def add(pid, name, age):
        vg.commit(vg.begin().create("person", spark.createDataFrame(
            [(pid, name, age)], "id string, name string, age int")))

    rc = ResultCache(vg, str(tmp_path / "rc"))
    # a compacted base from the start: both runs plan the same scans, so
    # only the epoch tells their results apart
    vg.compact()
    add("p4", "dee", 40)
    assert sorted(rc.run(lambda: _agg(vg)).collect()) == [(30, 2), (40, 2)]
    add("p5", "eve", 50)
    vg.compact()
    add("p6", "fay", 60)
    fresh = sorted(rc.run(lambda: _agg(vg)).collect())
    assert fresh == [(30, 2), (40, 2), (50, 1), (60, 1)]
    assert rc.stats["misses"] == 2


def test_fingerprint_stable_across_rebuilds(vg):
    # same query built twice = same fingerprint despite fresh expr ids;
    # a different query = different fingerprint
    assert plan_fingerprint(_agg(vg)) == plan_fingerprint(_agg(vg))
    other = vg.read("person").filter(F.col("age") > 30).select("id")
    assert plan_fingerprint(other) != plan_fingerprint(_agg(vg))


def test_fifo_eviction(vg, tmp_path):
    import os
    rc = ResultCache(vg, str(tmp_path / "rc"), max_entries=2)
    for k in range(3):
        rc.run(lambda k=k: vg.read("person").filter(F.col("age") > k))
    assert len(rc._index) == 2
    assert len(os.listdir(tmp_path / "rc")) == 2


def test_literal_only_difference_fingerprints_apart(vg):
    # regression (ADVICE r5): deleting every '#\d+' from the plan text
    # also deleted string literals that LOOK like expr ids, so these two
    # collided and the second silently got the first's cached result
    d1 = vg.read("person").filter(F.col("name") == "a#1").select("id")
    d2 = vg.read("person").filter(F.col("name") == "a#2").select("id")
    assert plan_fingerprint(d1) != plan_fingerprint(d2)


def test_output_alias_difference_fingerprints_apart(vg):
    # canonicalization strips aliases; the analyzed-text ingredient must
    # keep result-column renames apart or a hit returns wrong col names
    d1 = _agg(vg).withColumnRenamed("n", "x")
    assert plan_fingerprint(d1) != plan_fingerprint(_agg(vg))


def test_literal_collision_serves_fresh_result(vg, tmp_path):
    rc = ResultCache(vg, str(tmp_path / "rc"))
    q1 = rc.run(lambda: vg.read("person")
                .filter(F.col("name") == "ann#1").select("id"))
    q2 = rc.run(lambda: vg.read("person")
                .filter(F.col("name") == "ann").select("id"))
    assert q1.count() == 0 and q2.count() == 1
    assert rc.stats == {"hits": 0, "misses": 2}
