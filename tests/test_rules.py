"""Rule (``<-`` clause) tests: non-recursive expansion, recursive transitive
closure via semi-naive fixpoint, mutual recursion, iteration budget, and use
of a rule goal inside ``select`` — mirroring the reference's rule coverage in
tests/prolog-functor-tests.lisp and the budget guard (prologc.lisp:160-173)."""

import pytest
from pyspark.sql import types as T

from vivace_graph_v3_spark.graph import GraphStore
from vivace_graph_v3_spark.query import builder as B
from vivace_graph_v3_spark.query.rules import (
    BudgetExceeded, RuleEvaluator, clear_rules, def_rule,
)
from vivace_graph_v3_spark.schema import SchemaRegistry

from tests.conftest import distributed_regime


@pytest.fixture()
def chain_graph(spark):
    """a -> b -> c -> d -> e plus a side edge b -> d."""
    reg = SchemaRegistry()
    reg.def_vertex("node", {"name": T.StringType()})
    reg.def_edge("next")
    g = GraphStore(spark, reg, name="chain", has_tombstones=False)
    ids = ["a", "b", "c", "d", "e"]
    g.add_vertices("node", spark.createDataFrame(
        [(i, "node", False, 0, 0, i.upper()) for i in ids],
        "id string, type string, deleted boolean, revision long, "
        "commit_epoch long, name string"))
    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("b", "d")]
    g.add_edges("next", spark.createDataFrame(
        [(f"e{i}", "next", False, 0, 0, s, d, 1.0)
         for i, (s, d) in enumerate(edges)],
        "id string, type string, deleted boolean, revision long, "
        "commit_epoch long, src string, dst string, weight double"))
    return g


@pytest.fixture(autouse=True)
def _fresh_rules():
    clear_rules()
    yield
    clear_rules()


def test_non_recursive_rule_union(chain_graph):
    # two clauses = union of solution streams (prologc.lisp:686-700)
    def_rule("hop_or_self", ["?x", "?y"],
             [("next", "?x", "?y")],
             [("is-a", "?x", "node"), ("=", "?y", "?x")])
    df = B.select(chain_graph, ["?x", "?y"], [("hop_or_self", "?x", "?y")])
    rows = {(r["x"], r["y"]) for r in df.collect()}
    assert ("a", "b") in rows and ("a", "a") in rows
    assert len(rows) == 5 + 5


def test_transitive_closure(chain_graph):
    def_rule("reach", ["?x", "?y"],
             [("next", "?x", "?y")],
             [("next", "?x", "?z"), ("reach", "?z", "?y")])
    df = B.select(chain_graph, ["?x", "?y"], [("reach", "?x", "?y")])
    rows = {(r["x"], r["y"]) for r in df.collect()}
    expected = {(s, d) for s in "abcde" for d in "abcde"
                if "abcde".index(s) < "abcde".index(d)}
    # b->d side edge adds no pairs beyond the chain order
    assert rows == expected


def test_rule_goal_with_bound_arg(chain_graph):
    def_rule("reach", ["?x", "?y"],
             [("next", "?x", "?y")],
             [("next", "?x", "?z"), ("reach", "?z", "?y")])
    df = B.select(chain_graph, ["?y"], [("reach", "c", "?y")])
    assert {r["y"] for r in df.collect()} == {"d", "e"}


def test_mutual_recursion(chain_graph):
    # even/odd path length from a node to 'e'
    def_rule("even_to_e", ["?x"],
             [("=", "?x", "e"), ("is-a", "?x", "node")],
             [("next", "?x", "?y"), ("odd_to_e", "?y")])
    def_rule("odd_to_e", ["?x"],
             [("next", "?x", "?y"), ("even_to_e", "?y")])
    ev = RuleEvaluator(chain_graph)
    even = {r["__a0"] for r in ev.relation("even_to_e").collect()}
    odd = {r["__a0"] for r in ev.relation("odd_to_e").collect()}
    # paths: e(0); d->e(1); c->..(2); b->c->d->e(3) and b->d->e(2); a: 4 or 3
    assert "e" in even and "d" in odd and "c" in even
    assert "b" in even and "b" in odd  # two parities via the side edge
    assert "a" in even and "a" in odd


def test_iteration_budget(chain_graph):
    def_rule("reach", ["?x", "?y"],
             [("next", "?x", "?y")],
             [("next", "?x", "?z"), ("reach", "?z", "?y")])
    ev = RuleEvaluator(chain_graph, max_iterations=1)
    with pytest.raises(BudgetExceeded):
        ev.relation("reach")


def test_rule_composed_with_other_goals(chain_graph):
    def_rule("reach", ["?x", "?y"],
             [("next", "?x", "?y")],
             [("next", "?x", "?z"), ("reach", "?z", "?y")])
    # reachable-from-a nodes whose name slot is after 'C'
    df = B.select(chain_graph, ["?y", "?n"],
                  [("reach", "a", "?y"),
                   ("node-slot-value", "?y", "name", "?n"),
                   (">", "?n", "C")])
    assert {r["n"] for r in df.collect()} == {"D", "E"}


def test_cut_in_rule_clause(chain_graph):
    # literal ! mid-clause (prologc.lisp:709-714 compiles ! as a block
    # barrier): commit to the first solution of the preceding goals
    # under the ascending-bind ordering contract. first_hop finds ONE
    # edge (the ascending-min (src, dst) pair = (a, b)) and then keeps
    # expanding from it; without the cut every edge would seed.
    def_rule("first_hop", ["?x", "?y"],
             [("next", "?x", "?z"), ("!",), ("next", "?z", "?y")])
    df = B.select(chain_graph, ["?x", "?y"], [("first_hop", "?x", "?y")])
    rows = {(r["x"], r["y"]) for r in df.collect()}
    # committed prefix: the ascending-first (?x, ?z) binding = (a, b);
    # continuations: b -> c and b -> d
    assert rows == {("a", "c"), ("a", "d")}


def test_cut_leading_in_clause_is_noop(chain_graph):
    def_rule("hop", ["?x", "?y"], [("!",), ("next", "?x", "?y")])
    df = B.select(chain_graph, ["?x", "?y"], [("hop", "?x", "?y")])
    assert df.count() == 5


def test_cut_in_select_goal_list(chain_graph):
    # select-surface cut: equivalent to once over the preceding goals
    df = B.select(chain_graph, ["?x", "?y"], [
        ("next", "?x", "?y"), ("!",),
    ])
    rows = [(r["x"], r["y"]) for r in df.collect()]
    assert rows == [("a", "b")]  # ascending-first solution, committed

    # and the desugaring matches an explicit once of the same prefix
    once = B.select(chain_graph, ["?x", "?y"], [
        ("once", ("next", "?x", "?y")),
    ])
    assert [(r["x"], r["y"]) for r in once.collect()] == rows


def test_cut_prunes_untried_clauses_when_guard_succeeds(chain_graph):
    # guarded-clause idiom: the reference compiles ! as return-from the
    # FUNCTOR (prologc.lisp:709-714), so a committed cut in clause 1
    # suppresses clause 2 entirely — without pruning, the self-rows of
    # clause 2 would leak into the union (ADVICE r8 medium)
    def_rule("pick", ["?x", "?y"],
             [("next", "?x", "?y"), ("!",)],
             [("is-a", "?x", "node"), ("=", "?y", "?x")])
    df = B.select(chain_graph, ["?x", "?y"], [("pick", "?x", "?y")])
    assert {(r["x"], r["y"]) for r in df.collect()} == {("a", "b")}


def test_cut_does_not_prune_when_guard_fails(chain_graph):
    # the cut only fires when execution reaches it: an empty committed
    # prefix means clause 2 must still contribute
    def_rule("pick", ["?x", "?y"],
             [("next", "?x", "?y"), ("=", "?y", "zzz"), ("!",)],
             [("is-a", "?x", "node"), ("=", "?y", "?x")])
    df = B.select(chain_graph, ["?x", "?y"], [("pick", "?x", "?y")])
    assert {(r["x"], r["y"]) for r in df.collect()} == {
        (i, i) for i in "abcde"}


def test_cut_fail_idiom_fails_predicate(chain_graph):
    # p :- guard, !, fail.  p :- b.   — guard succeeds, so the commit
    # prunes clause 2 AND the post-cut fail empties clause 1: the
    # predicate has no solutions (the prefix, not the full clause,
    # gates the prune)
    def_rule("blocked", ["?x", "?y"],
             [("next", "?x", "?y"), ("!",), ("fail",)],
             [("is-a", "?x", "node"), ("=", "?y", "?x")])
    df = B.select(chain_graph, ["?x", "?y"], [("blocked", "?x", "?y")])
    assert df.count() == 0


def test_broadcast_regime_differential(chain_graph):
    """r10 bounded-relation regime: the broadcast-hinted semi-naive joins
    (within the driver bound) must produce the identical relation as the
    shuffle-join regime (the 100 TB shape)."""
    def_rule("reach", ["?x", "?y"],
             [("next", "?x", "?y")],
             [("next", "?x", "?z"), ("reach", "?z", "?y")])
    on = {tuple(r) for r in
          RuleEvaluator(chain_graph).relation("reach").collect()}
    with distributed_regime():
        off = {tuple(r) for r in
               RuleEvaluator(chain_graph).relation("reach").collect()}
    assert on == off and on
