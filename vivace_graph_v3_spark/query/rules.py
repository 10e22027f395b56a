"""User-defined rules (``<-`` Horn clauses) with recursive evaluation.

Reference semantics reproduced (citations into /root/reference):

- ``<-`` asserts a clause for a functor; multiple clauses = union of solution
  streams; recursion is allowed and guarded only by the inference budget /
  deadline (prologc.lisp:744-746, 686-700, 626-640, 160-173, 871-900).
- A rule goal inside ``select`` behaves like any other relation goal
  (compile-call, prologc.lisp:198-212).

Spark-first: Spark has no recursive CTE, so recursion is a **driver-side
semi-naive fixpoint loop** over DataFrames (SURVEY.md §4.2 #1):

- clauses that don't reference the rule's recursive component seed ``total``;
- each iteration evaluates recursive clauses with one recursive occurrence
  bound to the last iteration's ``delta`` (and the rest to ``total``) — the
  classic semi-naive rewrite, so per-iteration work is proportional to the
  frontier, not the full relation;
- new tuples = evaluation − total (set semantics, as Datalog requires for
  termination); the loop stops when the delta is empty or the iteration
  budget (the ``*inference-budget*`` analog) is exhausted.

Mutually recursive rules are solved simultaneously as one strongly-connected
component. Every iteration's frontier is checkpointed (``util.materialized``):
it feeds the emptiness check, the union, and the next iteration's joins, and
the plan tree would otherwise grow exponentially with depth.

Cut semantics: the reference compiles ``!`` as return-from the functor
(prologc.lisp:709-714) — it commits within its clause AND prunes the
predicate's untried later clauses. Non-recursive rules reproduce both
halves (clauses evaluate in definition order; a non-empty committed cut
prefix stops the walk). Rules inside a recursive SCC get only the
within-clause commit: bottom-up fixpoint evaluation has no per-call
frame, so inter-clause pruning is undefined there and is documented as
not provided (QUERY_API.md).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from vivace_graph_v3_spark.graph import GraphStore
from vivace_graph_v3_spark import util
from vivace_graph_v3_spark.query.builder import (
    Plan, QueryError, Select, is_var, var_col,
)

_RULES: dict[str, "Rule"] = {}


class BudgetExceeded(QueryError):
    """Fixpoint iteration budget exhausted (the reference's
    prolog-budget-exceeded, prologc.lisp:160-173)."""


@dataclass
class Rule:
    """One named rule: ``head`` is the argument variable list, ``clauses``
    the bodies (each a goal list). All clauses of a name = union."""

    name: str
    head: list[str]
    clauses: list[list[tuple]] = field(default_factory=list)

    @property
    def arity(self) -> int:
        return len(self.head)


def def_rule(name: str, head: list[str], *clauses: list) -> Rule:
    """``(<- (name ?a ?b) body...)`` — each call may add clauses; redefining
    with different arity replaces (matching the reference's retract-on-
    redefine behavior in spirit)."""
    r = _RULES.get(name)
    if r is None or r.arity != len(head):
        r = Rule(name=name, head=list(head))
        _RULES[name] = r
    for body in clauses:
        r.clauses.append(list(body))
    return r


def get_rule(name: str) -> Rule | None:
    return _RULES.get(name)


def clear_rules() -> None:
    _RULES.clear()


# -- dependency analysis ------------------------------------------------------

def _referenced_rules(body: list[tuple]) -> set[str]:
    out: set[str] = set()
    for goal in body:
        head = goal[0]
        if head in _RULES:
            out.add(head)
        for a in goal[1:]:
            if isinstance(a, list) and a and isinstance(a[0], tuple):
                out |= _referenced_rules(a)
            elif isinstance(a, tuple):
                out |= _referenced_rules([a])
    return out


def _scc_of(name: str) -> set[str]:
    """Rules mutually recursive with ``name`` (incl. itself if recursive)."""
    deps: dict[str, set[str]] = {}

    def dep(n: str) -> set[str]:
        if n not in deps:
            deps[n] = set()
            for body in _RULES[n].clauses:
                deps[n] |= _referenced_rules(body)
        return deps[n]

    def reachable(start: str) -> set[str]:
        seen, frontier = set(), {start}
        while frontier:
            n = frontier.pop()
            for m in dep(n):
                if m not in seen:
                    seen.add(m)
                    frontier.add(m)
        return seen

    fwd = reachable(name)
    return {m for m in fwd if name in reachable(m)} & fwd | (
        {name} if name in fwd else set())


# -- evaluation ----------------------------------------------------------------

class RuleEvaluator:
    """Evaluates rule relations over one graph, memoizing solved relations."""

    def __init__(self, graph: GraphStore, *, max_iterations: int = 64,
                 select_opts: dict | None = None) -> None:
        self.graph = graph
        self.max_iterations = max_iterations
        self.select_opts = select_opts or {}
        self._solved: dict[str, DataFrame] = {}

    @staticmethod
    def _broadcastable(rows: int) -> bool:
        """Bounded-relation regime (as pagerank/HITS state): delta/total
        relations whose EXACT row count (known for free — counts ride
        the delta checkpoints as observations) fits the driver bound are
        broadcast into the semi-naive joins and the freshness anti-join,
        so an iteration is map-side work plus the one candidate-dedup
        exchange. Checkpointed scans have no catalyst stats, so without
        the hint every iteration shuffles BOTH sides of both joins. Past
        the bound — the 100 TB regime — the shuffle joins are unchanged.
        A bound of 0 disables broadcasting altogether."""
        return bool(util.DRIVER_ROWS) and util.fits_driver(rows)

    def relation(self, name: str) -> DataFrame:
        """The full relation of a rule, columns ``__a0..__a{k-1}``."""
        if name in self._solved:
            return self._solved[name]
        # the memoized relations are what later plans read, so the scope
        # keeps every checkpoint they read (nested solves included)
        with util.materialized() as m:
            scc = _scc_of(name)
            if not scc:
                # non-recursive: union of clause evaluations IN CLAUSE ORDER
                # with cut pruning — the reference compiles '!' as
                # return-from the whole functor (prologc.lisp:709-714), so a
                # clause whose committed cut prefix is non-empty also prunes
                # the predicate's UNTRIED later clauses (the guarded-clause
                # idiom ``p :- guard, !, a.  p :- b.``). The prefix — not
                # the full clause — gates the prune, so the cut-fail idiom
                # ``p :- guard, !, fail.`` correctly fails the predicate.
                # Emptiness is probed on the checkpointed <=1-row commit.
                rule = _RULES[name]
                frames = []
                for body in rule.clauses:
                    commits: list[DataFrame] = []
                    frames.append(self._eval_clause(m, rule, body, {}, {},
                                                    cut_commits=commits))
                    if any(not c.isEmpty() for c in commits):
                        break
                self._solved[name] = self._union(frames, arity=rule.arity)
            else:
                self._solve_scc(m, scc)
            for df in self._solved.values():
                m.keep(df)
        return self._solved[name]

    # totals are kept as LISTS of already-checkpointed delta arms and
    # consumed as a lazy union: every arm is disjoint by construction
    # (each delta is anti-joined against the total before it is added),
    # so the union IS the total — re-checkpointing the whole growing
    # relation every round (O(|total|) per round, the old shape) bought
    # nothing. Arms collapse into one checkpoint past this width so the
    # per-iteration join plans stay bounded for deep fixpoints.
    _TOTAL_COLLAPSE_ARMS = 8

    def _solve_scc(self, m, scc: set[str]) -> None:
        arms: dict[str, list[DataFrame]] = {}
        arm_rows: dict[str, int] = {}
        deltas: dict[str, DataFrame] = {}
        delta_rows: dict[str, int] = {}
        for n in scc:
            rule = _RULES[n]
            base = [b for b in rule.clauses if not (_referenced_rules(b) & scc)]
            df = self._union([self._eval_clause(m, rule, b, {}, {})
                              for b in base], arity=rule.arity)
            df, n_base = m.checkpoint(df.dropDuplicates())
            arms[n] = [df]
            arm_rows[n] = n_base  # arms are disjoint: the sum IS the total
            deltas[n] = df
            delta_rows[n] = n_base

        def totals_view() -> dict[str, DataFrame]:
            return {n: self._union(a) for n, a in arms.items()}

        for it in range(self.max_iterations):
            totals = totals_view()
            new_deltas: dict[str, DataFrame] = {}
            # delta sizes ride the delta checkpoints as observations
            # (util.materialized.checkpoint): the emptiness decisions below
            # cost zero extra jobs instead of up to two isEmpty probes
            # per rule per iteration
            new_counts: dict[str, int] = {}
            for n in scc:
                rule = _RULES[n]
                rec = [b for b in rule.clauses if _referenced_rules(b) & scc]
                frames = []
                for body in rec:
                    occs = sum(1 for g in body if g[0] in scc)
                    # semi-naive: one pass per recursive occurrence, that
                    # occurrence sees delta, the others see total
                    for i in range(occs):
                        frames.append(self._eval_clause(
                            m, rule, body, totals, deltas, delta_occurrence=i,
                            totals_rows=arm_rows, deltas_rows=delta_rows))
                if not frames:
                    new_deltas[n] = self._empty(rule.arity)
                    new_counts[n] = 0
                    continue
                cand = self._union(frames, arity=rule.arity).dropDuplicates()
                tot = totals[n]
                if self._broadcastable(arm_rows[n]):
                    tot = F.broadcast(tot)
                fresh, n_fresh = m.checkpoint(
                    cand.join(tot, on=list(cand.columns),
                              how="left_anti"))
                new_deltas[n] = fresh
                new_counts[n] = n_fresh
            if all(c == 0 for c in new_counts.values()):
                for n in scc:
                    self._solved[n] = totals_view()[n]
                return
            for n in scc:
                if new_counts[n]:
                    arms[n].append(new_deltas[n])
                    arm_rows[n] += new_counts[n]  # disjoint by construction
                    if len(arms[n]) >= self._TOTAL_COLLAPSE_ARMS:
                        arms[n] = [m.checkpoint(self._union(arms[n]))[0]]
                deltas[n] = new_deltas[n]
                delta_rows[n] = new_counts[n]
        raise BudgetExceeded(
            f"rule fixpoint for {sorted(scc)} exceeded "
            f"{self.max_iterations} iterations")

    # -- clause -> DataFrame ----------------------------------------------------

    def _eval_clause(self, m, rule: Rule, body: list[tuple],
                     totals: dict[str, DataFrame], deltas: dict[str, DataFrame],
                     delta_occurrence: int | None = None,
                     cut_commits: list | None = None,
                     totals_rows: dict[str, int] | None = None,
                     deltas_rows: dict[str, int] | None = None) -> DataFrame:
        sel = Select(self.graph, rule.head, [], **self.select_opts)
        plan = Plan()
        occ = 0
        for goal in body:
            head = goal[0]
            if head == "!":
                # literal cut in a rule clause (prologc.lisp:709-714):
                # commit to the FIRST solution of the goals preceding it,
                # under the ascending-bind ordering contract (the same
                # contract as once/1, SURVEY §4.1(5)). A clause body has
                # no outer context (bottom-up evaluation), so the commit
                # is global to the clause. Leading cut: no-op.
                # orderBy().limit(1) plans as TakeOrderedAndProject
                # (per-partition top-1 + merge) — a lit(1)-partitioned
                # window would funnel the whole prefix through one task
                # (VERDICT r8 finding 2). The <=1-row commit is eagerly
                # checkpointed: it feeds both the downstream joins and
                # the caller's clause-pruning emptiness check.
                if plan.df is not None:
                    cols = sorted(plan.df.columns)
                    committed, _ = m.checkpoint(
                        plan.df.orderBy(*cols).limit(1))
                    if cut_commits is not None:
                        cut_commits.append(committed)
                    plan = Plan(committed)
                continue
            if head in totals or head in deltas:
                use_delta = occ == delta_occurrence
                rel = (deltas if use_delta else totals)[head]
                # bounded-relation broadcast: exact counts are known from
                # the delta-checkpoint observations; joining a bounded
                # delta/total in map-side keeps the iteration's only
                # exchange the candidate dedup (checkpointed scans carry
                # no stats, so the planner can't pick this by itself)
                rows = ((deltas_rows if use_delta else totals_rows)
                        or {}).get(head)
                if (plan.df is not None and rows is not None
                        and self._broadcastable(rows)):
                    rel = F.broadcast(rel)
                plan = self._merge_rule_goal(plan, rel, goal[1:])
                occ += 1
            elif head in _RULES and head not in totals:
                plan = self._merge_rule_goal(plan, self.relation(head), goal[1:])
            else:
                plan = sel.compile_goal(plan, goal)
        cols = []
        for i, v in enumerate(rule.head):
            c = var_col(v)
            if c not in plan.bound:
                raise QueryError(f"rule {rule.name}: head var {v} unbound "
                                 f"in clause {body}")
            cols.append(F.col(c).alias(f"__a{i}"))
        return plan.df.select(*cols)

    def _merge_rule_goal(self, plan: Plan, rel: DataFrame, args) -> Plan:
        out_vars = []
        for i, term in enumerate(args):
            col = f"__a{i}"
            if is_var(term):
                v = var_col(term)
                if v in [ov for ov in out_vars]:
                    # repeated var within the goal: equality filter
                    rel = rel.filter(F.col(col) == F.col(v))
                else:
                    rel = rel.withColumnRenamed(col, v)
                    out_vars.append(v)
            else:
                rel = rel.filter(F.col(col) == F.lit(term))
        rel = rel.select(*out_vars)
        return plan.merge(rel, out_vars)

    # -- helpers ---------------------------------------------------------------

    def _empty(self, arity: int) -> DataFrame:
        schema = ", ".join(f"__a{i} string" for i in range(arity))
        return self.graph.spark.createDataFrame([], schema)

    def _union(self, frames: list[DataFrame], arity: int | None = None) -> DataFrame:
        frames = [f for f in frames if f is not None]
        if not frames:
            if arity is None:
                raise QueryError("rule has no clauses")
            return self._empty(arity)
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out


# -- Select integration --------------------------------------------------------

_orig = Select.compile_goal


def _compile_goal_with_rules(self, plan, goal):
    head = goal[0]
    if head in _RULES and not hasattr(self, f"_g_{head}"):
        ev = getattr(self, "_rule_evaluator", None)
        if ev is None:
            ev = RuleEvaluator(self.graph)
            self._rule_evaluator = ev
        return ev._merge_rule_goal(plan, ev.relation(head), goal[1:])
    return _orig(self, plan, goal)


Select.compile_goal = _compile_goal_with_rules
