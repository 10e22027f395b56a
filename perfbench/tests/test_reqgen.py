"""Checks of the benchmark's own request generator and metric names; no
Spark session is started.  Run with ``python3 -m pytest perfbench/tests -q``
from the repository root."""

import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import bench_common as bc  # noqa: E402
import reqgen  # noqa: E402

N = 400


def write_ids(requests):
    """Vertex ids a request list writes (PUT, POST or DELETE)."""
    return {r.expect.get("id") or r.expect["deleted"]
            for r in requests if not r.is_read}


def streams(seed, n_clients=2):
    return [reqgen.client_requests(seed, c, n_clients, N)
            for c in range(n_clients)]


def test_same_seed_same_sequence():
    assert streams(7) == streams(7)
    assert streams(7) != streams(8)


def test_client_write_sets_are_disjoint():
    for n_clients in (1, 2, 3, 4):
        ids = [write_ids(s) for s in streams(11, n_clients)]
        for i in range(n_clients):
            assert ids[i]
            for j in range(i + 1, n_clients):
                assert not ids[i] & ids[j]


def test_mix_does_not_depend_on_the_seed():
    def mix(seed):
        return [sorted(r.route for r in s) for s in streams(seed)]
    assert mix(1) == mix(2) == mix(99)
    reads = sum(r.is_read for s in streams(1) for r in s)
    assert 0.45 <= reads / (2 * N) <= 0.55


def test_deletes_and_own_reads_follow_their_create():
    for s in streams(5):
        live = set()
        for r in s:
            if r.route == "post_vertex":
                live.add(r.expect["id"])
            elif r.route == "delete_vertex":
                assert r.expect["deleted"] in live
                live.remove(r.expect["deleted"])
            elif r.route == "get_vertex" and r.expect["id"].startswith("customer:new"):
                assert r.expect["id"] in live


def test_benchmark_json_names_match_the_code():
    with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == bc.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == bc.PER_LAYER
    import run
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    name = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
    unit = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert name.fullmatch(m["name"]), m["name"]
        assert unit.fullmatch(m["unit"]), m["unit"]
    assert len(spec["per_layer"]) <= 128 and len(spec["end_to_end"]) <= 16
