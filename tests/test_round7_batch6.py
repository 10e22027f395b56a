"""Unit tests for the round-7 session-3 (batch-6) operators: PassJoin
edit-distance dedup, trade-flow SCC / bow-tie decomposition, and exact
isotonic (PAVA) calibration."""

import itertools

from pyspark.sql import functions as F

from vivace_graph_v3_spark.pipeline.dedup import edit_distance_pairs

from tests.conftest import distributed_regime


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


class TestEditDistancePairs:
    def test_complete_vs_bruteforce(self, spark):
        # PassJoin must find EVERY pair within distance k (pigeonhole
        # completeness), and nothing above k — compare to brute force
        base = "the quick brown fox jumps over the lazy dog again and again"
        docs = [
            ("d0", base),
            ("d1", base.replace("quick", "quack")),           # ed 1
            ("d2", base.replace("jumps", "jumped") + " x"),   # small edits
            ("d3", base[:-6] + "often"),
            ("d4", "a completely different document about spark engines ok"),
            ("d5", base.replace("brown", "blue") + " tail"),
            ("d6", "  THE   Quick brown fox jumps over the lazy dog"
                   " again and again "),                      # normalizes close
        ]
        df = spark.createDataFrame(docs, "doc_id string, text string")
        k = 4
        got = {(r["id_a"], r["id_b"]): r["edit_distance"]
               for r in edit_distance_pairs(df, k=k).collect()}

        def norm(t):
            return " ".join(t.lower().split())

        want = {}
        for (ia, ta), (ib, tb) in itertools.combinations(docs, 2):
            d = _lev(norm(ta), norm(tb))
            if d <= k:
                want[(min(ia, ib), max(ia, ib))] = d
        assert got == want
        assert want, "fixture must generate at least one pair"
        assert any(d > 0 for d in want.values())

    def test_short_texts_out_of_scope(self, spark):
        df = spark.createDataFrame(
            [("a", "tiny text"), ("b", "tiny text")],
            "doc_id string, text string")
        assert edit_distance_pairs(df, k=4, min_len=20).count() == 0

    def test_exact_duplicates_distance_zero(self, spark):
        t = "identical content stretched to pass the minimum length gate"
        df = spark.createDataFrame(
            [("a", t), ("b", t)], "doc_id string, text string")
        rows = edit_distance_pairs(df, k=2).collect()
        assert [(r["id_a"], r["id_b"], r["edit_distance"])
                for r in rows] == [("a", "b", 0)]


from fractions import Fraction

from vivace_graph_v3_spark.operators.stats_inference import isotonic_fit


def _pava(bins):
    """Reference pool-adjacent-violators over (bin, n, pos), exact."""
    pools = [[b, n, pos] for b, n, pos in sorted(bins)]
    out = []
    for p in pools:
        out.append(p[:])
        while len(out) >= 2 and (Fraction(out[-2][2], out[-2][1])
                                 > Fraction(out[-1][2], out[-1][1])):
            b2, n2, p2 = out.pop()
            out[-1][1] += n2
            out[-1][2] += p2
    fit = {}
    i = 0
    for b, n, pos in sorted(bins):
        # find the pool containing b
        while not (out[i][0] <= b and (i + 1 == len(out) or b < out[i + 1][0])):
            i += 1
        fit[b] = Fraction(out[i][2], out[i][1])
    return fit


class TestIsotonicFit:
    def _check(self, spark, rows):
        df = spark.createDataFrame(
            [(b, bool(y)) for b, n, pos in rows
             for y in [1] * pos + [0] * (n - pos)],
            "qbin long, label boolean")
        got = {r["bin"]: (r["n"], r["n_pos"], r["fitted_ppm"])
               for r in isotonic_fit(df, "qbin", "label").collect()}
        want = _pava(rows)
        assert set(got) == {b for b, _, _ in rows}
        for b, n, pos in rows:
            gn, gpos, gfit = got[b]
            assert (gn, gpos) == (n, pos)
            assert gfit == (want[b].numerator * 1000000
                            // want[b].denominator), (b, gfit, want[b])
        fits = [got[b][2] for b in sorted(got)]
        assert all(a <= c for a, c in zip(fits, fits[1:]))

    def test_hand_example(self, spark):
        # classic PAVA fixture: the middle violation pools bins 2-3
        self._check(spark, [(0, 10, 1), (1, 10, 5), (2, 10, 9), (3, 10, 6),
                            (4, 10, 10)])

    def test_already_monotone_is_identity(self, spark):
        rows = [(0, 5, 0), (1, 5, 1), (2, 5, 3), (3, 5, 5)]
        self._check(spark, rows)

    def test_all_decreasing_pools_to_global_mean(self, spark):
        rows = [(0, 4, 4), (1, 4, 2), (2, 4, 0)]
        self._check(spark, rows)
        # single pool: global mean 6/12
        df = spark.createDataFrame(
            [(b, bool(y)) for b, n, pos in rows
             for y in [1] * pos + [0] * (n - pos)], "qbin long, label boolean")
        fits = {r["fitted_ppm"]
                for r in isotonic_fit(df, "qbin", "label").collect()}
        assert fits == {500000}

    def test_random_vs_reference(self, spark):
        import random
        rng = random.Random(7)
        for trial in range(3):
            rows = [(b, n, rng.randint(0, n))
                    for b, n in ((i, rng.randint(1, 8)) for i in range(12))]
            self._check(spark, rows)

    def test_mass_preservation(self, spark):
        # sum n * fitted_fraction == total positives (checked in ppm with
        # bounded floor error: < 1 per bin)
        rows = [(0, 7, 5), (1, 3, 1), (2, 9, 4), (3, 5, 5)]
        df = spark.createDataFrame(
            [(b, bool(y)) for b, n, pos in rows
             for y in [1] * pos + [0] * (n - pos)], "qbin long, label boolean")
        got = isotonic_fit(df, "qbin", "label").collect()
        approx = sum(r["n"] * r["fitted_ppm"] for r in got) / 1e6
        total = sum(pos for _, _, pos in rows)
        assert abs(approx - total) < len(rows) * 1e-6 * sum(
            n for _, n, _ in rows)


from vivace_graph_v3_spark.operators.graph_algorithms import (
    bowtie_decomposition, strongly_connected_components)


def _tarjan(nodes, edges):
    """Iterative Tarjan SCC; returns {node: min-member-of-its-scc}."""
    adj = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
    index, low, onstack, stack = {}, {}, set(), []
    sccs, counter = [], [0]
    for root in sorted(nodes):
        if root in index:
            continue
        work = [(root, iter(adj.get(root, [])))]
        index[root] = low[root] = counter[0]; counter[0] += 1
        stack.append(root); onstack.add(root)
        while work:
            v, it = work[-1]
            advanced = False
            for w in it:
                if w not in index:
                    index[w] = low[w] = counter[0]; counter[0] += 1
                    stack.append(w); onstack.add(w)
                    work.append((w, iter(adj.get(w, []))))
                    advanced = True
                    break
                elif w in onstack:
                    low[v] = min(low[v], index[w])
            if advanced:
                continue
            work.pop()
            if work:
                pv = work[-1][0]
                low[pv] = min(low[pv], low[v])
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stack.pop(); onstack.discard(w); comp.append(w)
                    if w == v:
                        break
                sccs.append(comp)
    return {n: min(c) for c in sccs for n in c}


class TestStronglyConnectedComponents:
    def test_hand_graph(self, spark):
        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "a"), ("d", "a"), ("c", "e"),
             ("f", "g"), ("x", "y"), ("y", "x")], "src string, dst string")
        got = dict((r["id"], r["scc_id"])
                   for r in strongly_connected_components(edges).collect())
        assert got == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "e",
                       "f": "f", "g": "g", "x": "x", "y": "x"}

    def test_random_vs_tarjan(self, spark):
        import random
        rng = random.Random(11)
        for trial in range(2):
            nodes = [f"n{i:02d}" for i in range(24)]
            edges = {(rng.choice(nodes), rng.choice(nodes))
                     for _ in range(60)}
            edges = [(s, d) for s, d in edges if s != d]
            df = spark.createDataFrame(edges, "src string, dst string")
            got = dict((r["id"], r["scc_id"])
                       for r in strongly_connected_components(df).collect())
            touched = {s for s, _ in edges} | {d for _, d in edges}
            want = {n: c for n, c in _tarjan(touched, edges).items()}
            assert got == want

    def test_two_cycles_bridged(self, spark):
        # a->b->a, c->d->c, b->c: two SCCs, NOT merged by the one-way bridge
        edges = spark.createDataFrame(
            [("a", "b"), ("b", "a"), ("c", "d"), ("d", "c"), ("b", "c")],
            "src string, dst string")
        got = dict((r["id"], r["scc_id"])
                   for r in strongly_connected_components(edges).collect())
        assert got == {"a": "a", "b": "a", "c": "c", "d": "c"}

    def test_local_finish_equals_distributed(self, spark):
        # the bounded-local Tarjan finish must label exactly like the
        # distributed peel loop
        import random
        rng = random.Random(23)
        nodes = [f"n{i:02d}" for i in range(30)]
        edges = sorted({(rng.choice(nodes), rng.choice(nodes))
                        for _ in range(90)})
        edges = [(s, d) for s, d in edges if s != d]
        df = spark.createDataFrame(edges, "src string, dst string")
        local = dict((r["id"], r["scc_id"])
                     for r in strongly_connected_components(df).collect())
        with distributed_regime():
            dist = dict((r["id"], r["scc_id"])
                        for r in strongly_connected_components(df).collect())
        assert local == dist


class TestBowtie:
    def test_hand_graph(self, spark):
        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "a"), ("d", "a"), ("c", "e"),
             ("f", "g"), ("x", "y"), ("y", "x")], "src string, dst string")
        scc = strongly_connected_components(edges)
        got = dict((r["id"], r["klass"])
                   for r in bowtie_decomposition(edges, scc).collect())
        assert got == {"a": "core", "b": "core", "c": "core", "d": "in",
                       "e": "out", "f": "other", "g": "other",
                       "x": "other", "y": "other"}

    def test_in_out_chains(self, spark):
        # chains into and out of the core classify transitively
        edges = spark.createDataFrame(
            [("m", "n"), ("n", "m"), ("i2", "i1"), ("i1", "m"),
             ("n", "o1"), ("o1", "o2"), ("t1", "i1")],
            "src string, dst string")
        scc = strongly_connected_components(edges)
        got = dict((r["id"], r["klass"])
                   for r in bowtie_decomposition(edges, scc).collect())
        assert got == {"m": "core", "n": "core", "i1": "in", "i2": "in",
                       "o1": "out", "o2": "out", "t1": "in"}

    def test_local_finish_equals_distributed(self, spark):
        # the bounded-local reach closures must classify exactly like
        # the distributed min_label_fixpoint runs
        import random
        rng = random.Random(29)
        nodes = [f"n{i:02d}" for i in range(26)]
        edges = sorted({(rng.choice(nodes), rng.choice(nodes))
                        for _ in range(70)})
        edges = [(s, d) for s, d in edges if s != d]
        df = spark.createDataFrame(edges, "src string, dst string")
        scc = strongly_connected_components(df)
        local = dict((r["id"], r["klass"])
                     for r in bowtie_decomposition(df, scc).collect())
        with distributed_regime():
            dist = dict((r["id"], r["klass"])
                        for r in bowtie_decomposition(df, scc).collect())
        assert local == dist


from vivace_graph_v3_spark.pipeline.text import rouge_l_pairs


def _lcs_len(a, b):
    dp = [[0] * (len(b) + 1) for _ in range(len(a) + 1)]
    for i in range(1, len(a) + 1):
        for j in range(1, len(b) + 1):
            dp[i][j] = max(dp[i - 1][j], dp[i][j - 1],
                           dp[i - 1][j - 1] + (a[i - 1] == b[j - 1]))
    return dp[len(a)][len(b)]


class TestRougeLPairs:
    def test_hand_pairs(self, spark):
        docs = [
            ("d1", "g1", "the dog bites the man today"),
            ("d2", "g1", "the man bites the dog today"),
            ("d3", "g1", "completely unrelated words here now"),
            ("d4", "g2", "alpha beta gamma delta"),
            ("d5", "g2", "alpha beta gamma delta"),
        ]
        df = spark.createDataFrame(docs, "doc_id string, source string, text string")
        got = {(r["id_a"], r["id_b"]): (r["lcs_len"], r["rouge_l_f_ppm"])
               for r in rouge_l_pairs(df).collect()}
        # adjacent pairs per group: (d1,d2), (d2,d3), (d4,d5)
        assert set(got) == {("d1", "d2"), ("d2", "d3"), ("d4", "d5")}
        # 'the ... bites the ... today' -> LCS 4 despite full word overlap
        assert got[("d1", "d2")][0] == 4
        assert got[("d2", "d3")][0] == 0
        assert got[("d4", "d5")] == (4, 1000000)

    def test_random_vs_reference(self, spark):
        import random
        rng = random.Random(3)
        vocab = [f"w{i}" for i in range(8)]
        docs = [(f"d{i:02d}", "g", " ".join(rng.choices(vocab, k=rng.randint(1, 20))))
                for i in range(14)]
        df = spark.createDataFrame(docs, "doc_id string, source string, text string")
        got = {(r["id_a"], r["id_b"]): r["lcs_len"]
               for r in rouge_l_pairs(df).collect()}
        txt = dict((d, t.split()[:16]) for d, _, t in docs)
        ids = sorted(txt)
        want = {(ids[i], ids[i + 1]): _lcs_len(txt[ids[i]], txt[ids[i + 1]])
                for i in range(len(ids) - 1)}
        assert got == want


from vivace_graph_v3_spark.operators.graph_algorithms import (
    triad_census, triad_mask_table)


def _census_bruteforce(edges):
    """Independent census: enumerate node triples, classify by explicit
    permutation canonicalization over the 7 complete-triad classes."""
    import itertools
    E = set(edges)
    nodes = sorted({n for e in edges for n in e})
    counts = {}
    for tri in itertools.combinations(nodes, 3):
        sub = {(a, b) for a, b in E if a in tri and b in tri}
        und = {frozenset(e) for e in sub}
        if len(und) != 3:
            continue
        # canonical signature: lexicographically smallest adjacency
        # matrix over all orderings of the triple
        best = min(tuple((x, y) in sub for x in p for y in p if x != y)
                   for p in itertools.permutations(tri))
        counts[best] = counts.get(best, 0) + 1
    # name signatures via known exemplars
    def sig(es):
        tri = (0, 1, 2)
        import itertools as it
        return min(tuple((x, y) in set(es) for x in p for y in p if x != y)
                   for p in it.permutations(tri))
    names = {
        sig([(0,1),(1,0),(0,2),(2,0),(1,2),(2,1)]): "300",
        sig([(0,1),(1,0),(0,2),(2,0),(1,2)]): "210",
        sig([(0,1),(1,0),(2,0),(2,1)]): "120U",
        sig([(0,1),(1,0),(0,2),(1,2)]): "120D",
        sig([(0,1),(1,0),(0,2),(2,1)]): "120C",
        sig([(0,1),(1,2),(0,2)]): "030T",
        sig([(0,1),(1,2),(2,0)]): "030C",
    }
    return {names[s]: c for s, c in counts.items()}


class TestTriadCensus:
    def test_mask_table_complete(self):
        t = triad_mask_table()
        assert len(t) == 27
        from collections import Counter
        assert Counter(t.values()) == Counter(
            {"030T": 6, "120C": 6, "210": 6, "120D": 3, "120U": 3,
             "030C": 2, "300": 1})

    def test_hand_exemplars(self, spark):
        # one triangle per class, on disjoint node sets
        edges = []
        edges += [("a1","a2"),("a2","a1"),("a1","a3"),("a3","a1"),
                  ("a2","a3"),("a3","a2")]                     # 300
        edges += [("b1","b2"),("b2","b1"),("b1","b3"),("b3","b1"),
                  ("b2","b3")]                                 # 210
        edges += [("c1","c2"),("c2","c3"),("c1","c3")]         # 030T
        edges += [("d1","d2"),("d2","d3"),("d3","d1")]         # 030C
        df = spark.createDataFrame(edges, "src string, dst string")
        got = {r["triad_class"]: r["n_triads"]
               for r in triad_census(df).collect()}
        assert got == {"300": 1, "210": 1, "030T": 1, "030C": 1}

    def test_random_vs_bruteforce(self, spark):
        import random
        rng = random.Random(5)
        for _ in range(2):
            nodes = [f"n{i}" for i in range(12)]
            edges = list({(rng.choice(nodes), rng.choice(nodes))
                          for _ in range(55)})
            edges = [(a, b) for a, b in edges if a != b]
            df = spark.createDataFrame(edges, "src string, dst string")
            got = {r["triad_class"]: r["n_triads"]
                   for r in triad_census(df).collect()}
            want = _census_bruteforce(edges)
            assert got == want


from vivace_graph_v3_spark.operators.graph_algorithms import dyad_census


class TestDyadCensus:
    def test_hand_graph(self, spark):
        # a<->b mutual; a->c asym; d->e asym; 5 nodes -> 10 pairs
        edges = spark.createDataFrame(
            [("a", "b"), ("b", "a"), ("a", "c"), ("d", "e")],
            "src string, dst string")
        r = dyad_census(edges).collect()[0]
        assert (r["n_nodes"], r["mutual"], r["asym"], r["null_pairs"]) \
            == (5, 1, 2, 7)
        assert r["reciprocity_ppm"] == 1000000 // 3

    def test_all_mutual(self, spark):
        edges = spark.createDataFrame(
            [("a", "b"), ("b", "a")], "src string, dst string")
        r = dyad_census(edges).collect()[0]
        assert (r["mutual"], r["asym"], r["null_pairs"],
                r["reciprocity_ppm"]) == (1, 0, 0, 1000000)


from vivace_graph_v3_spark.operators.product_analytics import (
    markov_steady_state)


class TestMarkovSteady:
    def test_two_state_chain(self, spark):
        # one user: A B B A B -> transitions A->B x2, B->B, B->A
        # P = [[0, 1], [1/2, 1/2]], steady = (1/3, 2/3)
        rows = [(1, i, i, t) for i, t in enumerate(["A", "B", "B", "A", "B"])]
        ev = spark.createDataFrame(
            rows, "user_id long, event_id long, ts long, event_type string")
        got = {r["event_type"]: r["steady_ppm"]
               for r in markov_steady_state(ev).collect()}

        # python mirror of the exact integer recurrence
        trans = {("A", "B"): 2, ("B", "B"): 1, ("B", "A"): 1}
        na = {"A": 2, "B": 2}
        p = {k: (n // na[k[0]]) * 10**6 + (n % na[k[0]]) * 10**6 // na[k[0]]
             for k, n in trans.items()}
        pi = {"A": 10**9 // 2, "B": 10**9 // 2}
        for _ in range(12):
            nxt = {"A": 0, "B": 0}
            for (a, b), pv in p.items():
                nxt[b] += pi[a] * pv // 10**6
            pi = nxt
        want = {s: v // 1000 for s, v in pi.items()}
        assert got == want
        assert abs(got["A"] - 333333) < 2000 and abs(got["B"] - 666666) < 2000

    def test_mass_roughly_conserved(self, spark):
        rows = [(u, i, i, t) for u in range(3)
                for i, t in enumerate("XYZXYZXY")]
        ev = spark.createDataFrame(
            rows, "user_id long, event_id long, ts long, event_type string")
        got = [r["steady_ppm"] for r in markov_steady_state(ev).collect()]
        # floors lose < iters * n_states millionths
        assert 1_000_000 - 100 <= sum(got) <= 1_000_000


from vivace_graph_v3_spark.pipeline.dedup import dedup_clusters


class TestDistributedClusters:
    def test_distributed_equals_driver_unionfind(self, spark):
        import random
        rng = random.Random(9)
        ids = [f"d{i:03d}" for i in range(40)]
        pairs = list({tuple(sorted(rng.sample(ids, 2))) for _ in range(30)})
        df = spark.createDataFrame(pairs, "id_a string, id_b string")
        drv = {(r["id"], r["cluster"])
               for r in dedup_clusters(df).collect()}
        with distributed_regime():
            dist = {(r["id"], r["cluster"])
                    for r in dedup_clusters(df).collect()}
        assert drv == dist and drv


class TestWordBurstiness:
    def test_moment_identity_vs_bruteforce(self, spark):
        import vivace_graph_v3_spark.entry_queries as eq
        docs = [
            ("d1", "aaa aaa aaa bbb", "en", "s", 15),
            ("d2", "bbb ccc", "en", "s", 7),
            ("d3", "bbb ccc ccc aaa", "en", "s", 15),
            ("d4", "ddd", "en", "s", 3),
        ]
        # mimic the entry on an in-memory 'documents' table via the
        # operator logic inline (same moment identity)
        from vivace_graph_v3_spark.pipeline.text import tokens
        df = spark.createDataFrame(
            docs, "doc_id string, text string, lang string, source string,"
                  " n_chars long")
        n_docs = df.count()
        w = (df.select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
             .groupBy("w", "doc_id").agg(F.count(F.lit(1)).alias("c")))
        stats = (w.groupBy("w").agg(F.count(F.lit(1)).alias("df"),
                                    F.sum("c").alias("s1"),
                                    F.sum(F.col("c") * F.col("c")).alias("s2"))
                 .select("w", F.expr(f"(({n_docs} * s2 - s1 * s1) * 1000000)"
                                     f" div ({n_docs} * s1)").alias("vmr_ppm")))
        got = {r["w"]: r["vmr_ppm"] for r in stats.collect()}
        # brute force over per-doc counts including zeros
        import collections
        texts = {d: t.split() for d, t, *_ in docs}
        vocab = {w for t in texts.values() for w in t}
        want = {}
        for word in vocab:
            xs = [texts[d].count(word) for d in texts]
            n, s1 = len(xs), sum(xs)
            mean = s1 / n
            var = sum((x - mean) ** 2 for x in xs) / n
            want[word] = int(var / mean * 1_000_000)
        for word in vocab:
            assert abs(got[word] - want[word]) <= 1, (word, got, want)
        # 'aaa' is bursty (concentrated), 'bbb' near-uniform
        assert got["aaa"] > got["bbb"]


class TestSccDeeperRandom:
    def test_denser_random_vs_tarjan(self, spark):
        # denser + larger than TestStronglyConnectedComponents: exercises
        # multi-round peeling (chained SCCs settle across rounds)
        import random
        rng = random.Random(23)
        nodes = [f"m{i:02d}" for i in range(30)]
        edges = list({(rng.choice(nodes), rng.choice(nodes))
                      for _ in range(90)})
        edges = [(s, d) for s, d in edges if s != d]
        # add two deliberate disjoint cycles chained by one-way bridges
        edges += [("m90", "m91"), ("m91", "m90"), ("m91", "m92"),
                  ("m92", "m93"), ("m93", "m92")]
        df = spark.createDataFrame(edges, "src string, dst string")
        got = dict((r["id"], r["scc_id"])
                   for r in strongly_connected_components(df).collect())
        touched = {s for s, _ in edges} | {d for _, d in edges}
        assert got == _tarjan(touched, edges)


class TestFormatRoundtripAudit:
    def test_checksums_match_source(self, spark):
        import vivace_graph_v3_spark.entry_queries as eq
        rows = eq.q_format_roundtrip_audit(
            spark, "/root/testdata/sf0.001").collect()
        assert [r["fmt"] for r in rows] == ["csv", "jsonl", "orc"]
        ns = {r["n_docs"] for r in rows}
        cks = {r["checksum"] for r in rows}
        assert len(ns) == 1 and len(cks) == 1, rows
