"""Seeded request streams for the REST workload.

A client replays its own list of :class:`Request` in a closed loop. The
list is a pure function of ``(seed, client, n_clients)``: the server sees
only these generated requests, and the same seed always yields the same
streams. Every client walks the same fixed cycle of request kinds (offset
per client), so the read/write mix of a run does not depend on the seed;
the seed picks ids, thresholds and written values. The benchmark drives
one client; the generator keeps the client split so that write sets stay
disjoint if more are driven.

Reads hit customer, orders and part vertices drawn Zipf-skewed over a
seeded permutation of each type's keys, so a few hot ids repeat. Writes
touch only the client's own ids: PUTs go to the customers whose key is
congruent to the client number modulo the client count, and POSTs create
ids that name the client, which a later DELETE of the same client removes.
Write sets of different clients are therefore disjoint and no optimistic
concurrency conflict (HTTP 409) is expected.
"""

from __future__ import annotations

import bisect
import itertools
import random
from dataclasses import dataclass, field

from datagen import N_CUSTOMER, N_ORDERS, N_PART

GRAPH = "tpch"
NAMED_QUERY = "rich_customers"
NAMED_LIMIT = 25
ZIPF_S = 1.1
NEW_KEY_BASE = 10_000_000

# One cycle of request kinds per client: 3 reads, 3 writes, one of each
# timed route. The DELETE removes the vertex the cycle's POST created.
CYCLE = ("get_vertex", "post_vertex", "pattern_query", "put_vertex",
         "named_query", "delete_vertex")
READ_ROUTES = frozenset({"get_vertex", "pattern_query", "named_query",
                         "list_edges"})
GET_TYPES = (("customer", "c_custkey", N_CUSTOMER),
             ("orders", "o_orderkey", N_ORDERS),
             ("part", "p_partkey", N_PART))


@dataclass(frozen=True)
class Request:
    route: str               # the server route this exercises
    method: str
    path: str
    body: dict | None
    expect: dict = field(default_factory=dict)

    @property
    def is_read(self) -> bool:
        return self.route in READ_ROUTES


class _Zipf:
    """Zipf(s) ranks over a seeded permutation of ``range(n)``."""

    def __init__(self, rng: random.Random, n: int, s: float = ZIPF_S):
        self.perm = list(range(n))
        rng.shuffle(self.perm)
        self.cum = list(itertools.accumulate(1.0 / (r + 1) ** s for r in range(n)))

    def draw(self, rng: random.Random) -> int:
        rank = bisect.bisect_left(self.cum, rng.random() * self.cum[-1])
        return self.perm[min(rank, len(self.perm) - 1)]


def _vertex_path(vid: str) -> str:
    return f"/graph/{GRAPH}/vertex/{vid}"


def pattern_request(thr: float, cap: int) -> Request:
    body = {"match": [{"vertex": "?c", "type": "customer"}],
            "where": [{"slot": ["?c", "c_acctbal"], "op": ">", "value": thr}],
            "select": ["?c", {"slot": ["?c", "c_acctbal"], "as": "?b"}],
            "limit": cap}
    return Request("pattern_query", "POST", f"/graph/{GRAPH}/query", body,
                   {"col": "b", "gt": thr, "cap": cap})


def named_request(min_bal: float) -> Request:
    return Request("named_query", "POST", f"/graph/{GRAPH}/query/{NAMED_QUERY}",
                   {"min_bal": min_bal},
                   {"col": "b", "ge": min_bal, "cap": NAMED_LIMIT})


def list_edges_request(seed: int) -> Request:
    key = random.Random(f"edges:{seed}").randrange(N_CUSTOMER)
    vid = f"customer:{key}"
    return Request("list_edges", "GET", _vertex_path(vid) + "/edges", None,
                   {"edge_src": vid})


def client_requests(seed: int, client: int, n_clients: int,
                    n_ops: int) -> list[Request]:
    """The first ``n_ops`` requests of one client's stream."""
    if not 0 <= client < n_clients:
        raise ValueError(f"client {client} outside 0..{n_clients - 1}")
    shared = random.Random(f"ids:{seed}")
    zipfs = [(_Zipf(shared, n), t, slot) for t, slot, n in GET_TYPES]
    rng = random.Random(f"client:{seed}:{client}")
    own_keys = range(client, N_CUSTOMER, n_clients)
    created: list[str] = []
    out: list[Request] = []
    n_get = n_new = 0
    start = client * len(CYCLE) // n_clients
    for i in range(n_ops):
        kind = CYCLE[(start + i) % len(CYCLE)]
        if kind == "delete_vertex" and not created:
            kind = "put_vertex"
        if kind == "get_vertex":
            zipf, tname, slot = zipfs[n_get % len(zipfs)]
            n_get += 1
            key = zipf.draw(rng)
            vid = f"{tname}:{key}"
            out.append(Request("get_vertex", "GET", _vertex_path(vid), None,
                               {"id": vid, "type": tname, "slots": {slot: key}}))
        elif kind == "pattern_query":
            out.append(pattern_request(round(rng.uniform(8000.0, 9900.0), 2),
                                       rng.randint(5, 50)))
        elif kind == "named_query":
            out.append(named_request(round(rng.uniform(8000.0, 9900.0), 2)))
        elif kind == "put_vertex":
            vid = f"customer:{rng.choice(own_keys)}"
            slots = {"c_acctbal": round(rng.uniform(-999.0, 9999.0), 2)}
            out.append(Request("put_vertex", "PUT", _vertex_path(vid), slots,
                               {"id": vid, "slots": slots}))
        elif kind == "post_vertex":
            key = NEW_KEY_BASE + (seed % 1000) * 100_000 + client * 10_000 + n_new
            n_new += 1
            vid = f"customer:new-{seed}-{client}-{n_new}"
            slots = {"c_custkey": key, "c_name": f"Customer#new{key}",
                     "c_nationkey": rng.randrange(25),
                     "c_acctbal": round(rng.uniform(-999.0, 9999.0), 2),
                     "c_mktsegment": "BUILDING"}
            created.append(vid)
            out.append(Request("post_vertex", "POST",
                               f"/graph/{GRAPH}/vertex/customer",
                               {"id": vid, **slots}, {"id": vid, "slots": slots}))
        elif kind == "delete_vertex":
            vid = created.pop()
            out.append(Request("delete_vertex", "DELETE", _vertex_path(vid), None,
                               {"deleted": vid, "type": "customer"}))
    return out

