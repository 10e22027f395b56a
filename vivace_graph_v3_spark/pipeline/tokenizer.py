"""Distributed tokenizer-training statistics.

Training a subword tokenizer (BPE / WordPiece) over a 100 TB corpus has one
step that actually touches the corpus: building the word-frequency table.
Everything after — pair counting, merge selection — runs over the DISTINCT
word vocabulary weighted by frequency, which Heaps' law keeps orders of
magnitude smaller than the corpus. These operators implement that split
Spark-first: one map-side-combined shuffle over the corpus, then
vocab-bounded expression work, no Python in either phase.

Reference scope note: the reference engine (kraison/vivace-graph-v3) has no
tokenizer surface; this extends the LLM-data-pipeline operator set the
engine targets (see SURVEY.md §2 beyond-reference block).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from vivace_graph_v3_spark.util import ensure_parallelism, materialized

# lowercase alphabetic runs: the word universe for pair statistics (digits
# and punctuation are single symbols in a real byte-level BPE and never
# participate in early merges on natural text)
WORD_RE = "[a-z]+"


def word_frequencies(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """(w, f) word-frequency table — the ONLY corpus-bounded step of
    tokenizer training. regexp_extract_all + explode + count stays in
    whole-stage codegen; the groupBy map-side combines, so the shuffle
    carries the per-partition vocabulary, not the corpus."""
    return (ensure_parallelism(df)
            .select(F.explode(F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit(WORD_RE), F.lit(0)))
                .alias("w"))
            .groupBy("w").agg(F.count(F.lit(1)).alias("f")))


def bpe_pair_stats(df: DataFrame, *, text_col: str = "text",
                   top_k: int = 30) -> DataFrame:
    """The first BPE merge iteration (Sennrich et al. 2016, "Neural
    Machine Translation of Rare Words with Subword Units"): count
    adjacent character-pair occurrences across the corpus and rank the
    merge candidates. Pair positions count individually ("aaa" yields
    "aa" twice) — the BPE counting convention.

    Returns the ``top_k`` (pair, freq) rows, freq desc / pair asc (a
    total order, so the cut is deterministic).

    Scale shape: pairs are generated from the DISTINCT vocabulary
    weighted by word frequency — after word_frequencies' single corpus
    shuffle, the explode touches |vocab| * avg_word_len rows, not the
    corpus. Top-k is TakeOrdered (per-partition heads + driver merge),
    never a global sort."""
    wf = word_frequencies(df, text_col=text_col)
    pairs = (wf.filter(F.length("w") >= 2)
             .select("f", F.explode(F.expr(
                 "transform(sequence(1, length(w) - 1), "
                 "          i -> substring(w, i, 2))")).alias("pair")))
    return (pairs.groupBy("pair")
            .agg(F.sum("f").cast("long").alias("freq"))
            .orderBy(F.desc("freq"), "pair")
            .limit(top_k))


BPE_SEP = "\x1f"   # unit separator: never occurs inside [a-z]+ words


def bpe_learn_merges(df: DataFrame, *, n_merges: int = 3,
                     text_col: str = "text") -> list[dict]:
    """Iterative BPE merge LEARNING (Sennrich et al. 2016) — the actual
    training loop, not just the first iteration's statistics: start from
    character segmentations of the frequency-weighted vocabulary, and
    ``n_merges`` times (a) count adjacent token pairs, (b) pick the most
    frequent (ties: count desc, then left/right token asc — a total
    order), (c) merge every occurrence greedily left-to-right.

    Returns the learned merge table as a list of dicts
    (step, lhs, rhs, pair_count, new_token) — driver-side by nature:
    each merge decision is ONE aggregated row that must become a
    plan-time literal for the next iteration (the train_centroids /
    codebook seam; the sequential dependence is inherent to BPE).

    Scale shape: after word_frequencies' single corpus shuffle,
    everything operates on the DISTINCT vocabulary (Heaps-bounded): the
    segmentation state is a separator-joined string column rebuilt by
    chained ``replace`` expressions (both engines share replace's
    non-overlapping left-to-right semantics, so "aaa" + merge (a,a) ->
    [aa, a] — the BPE greedy convention), and each pair count is one
    vocab-sized aggregate with a 1-row collect. Production trainers
    update pair counts incrementally instead of recounting; at
    |vocab| ~ 1e6 rows the recount is noise next to the corpus pass.
    The char-segmented vocabulary is materialized ONCE (a checkpoint)
    before the loop — each merge step's aggregate used to re-derive it
    from the corpus, paying one full corpus scan per merge (optimization
    round 9, guide §1.2 step 1)."""
    with materialized() as m:
        return _learn_merges_from_base(
            _bpe_char_base(m, df, text_col=text_col), n_merges)


def _bpe_char_base(m, df: DataFrame, *, text_col: str) -> DataFrame:
    """(f, w, seg) — the frequency-weighted vocabulary with its char-level
    segmentation, checkpointed in ``m`` so the corpus is scanned once no
    matter how many merge steps (or a downstream apply pass) consume it."""
    wf = word_frequencies(df, text_col=text_col)
    seg = F.expr("array_join(transform(sequence(1, length(w)), "
                 f"i -> substring(w, i, 1)), '{BPE_SEP}')")
    return m.checkpoint(wf.select("f", "w", seg.alias("seg")))[0]


def _learn_merges_from_base(base: DataFrame, n_merges: int) -> list[dict]:
    merges: list[dict] = []
    for step in range(1, n_merges + 1):
        toks = F.split(F.col("seg"), BPE_SEP)
        pair = F.explode(F.zip_with(
            F.slice(toks, 1, F.size(toks) - 1),
            F.slice(toks, 2, F.size(toks) - 1),
            lambda a, b: F.struct(a.alias("l"), b.alias("r"))))
        top = (base.filter(F.size(toks) >= 2)
               .select("f", pair.alias("p"))
               .groupBy("p.l", "p.r")
               .agg(F.sum("f").cast("long").alias("cnt"))
               .orderBy(F.desc("cnt"), "l", "r")
               .take(1))
        if not top:
            break
        l, r, cnt = top[0]["l"], top[0]["r"], top[0]["cnt"]
        merges.append({"step": step, "lhs": l, "rhs": r,
                       "pair_count": int(cnt), "new_token": l + r})
        base = base.select("f", F.expr(
            f"replace(seg, '{l}{BPE_SEP}{r}', '{l}{r}')").alias("seg"))
    return merges


def bpe_compression(df: DataFrame, *, n_merges: int = 3,
                    text_col: str = "text") -> DataFrame:
    """Learn ``n_merges`` BPE merges (bpe_learn_merges), APPLY them to
    the vocabulary, and report the corpus-level compression they buy —
    the learn->apply round trip that tells you whether the next merge
    budget is worth it (tokens-per-char is the tokenizer-quality number
    that feeds cost models).

    Returns one row: (n_merges, n_word_types, n_word_occurrences,
    chars_total, tokens_after, saved_ppm) — chars_total is the
    char-level token count (the BPE starting point), tokens_after the
    count after the learned merges, saved_ppm the integer round-half-up
    savings rate. All integer arithmetic; the apply step is the same
    replace chain the learner used, evaluated once over the
    Heaps-bounded vocabulary (which learn and apply now SHARE: one
    corpus scan total, where the old shape paid one per merge step in
    the learner plus another for the apply aggregate)."""
    with materialized() as m:
        base = _bpe_char_base(m, df, text_col=text_col)
        merges = _learn_merges_from_base(base, n_merges)
        # apply: the same replace chain the learner used, nested expressions
        col = F.col("seg")
        for mg in merges:
            col = F.replace(col, F.lit(mg["lhs"] + BPE_SEP + mg["rhs"]),
                            F.lit(mg["lhs"] + mg["rhs"]))
        toks_after = F.size(F.split(col, BPE_SEP))
        agg = base.agg(
            F.count(F.lit(1)).cast("long").alias("n_word_types"),
            F.sum("f").cast("long").alias("n_word_occurrences"),
            F.sum(F.col("f") * F.length("w")).cast("long")
            .alias("chars_total"),
            F.sum(F.col("f") * toks_after).cast("long").alias("tokens_after"))
        saved = F.expr("((chars_total - tokens_after) * 2000000 + chars_total)"
                       " div (chars_total * 2)")
        return m.keep(agg.select(
            F.lit(len(merges)).cast("long").alias("n_merges"),
            "n_word_types", "n_word_occurrences", "chars_total",
            "tokens_after", saved.cast("long").alias("saved_ppm")))


def viterbi_vocab(df: DataFrame, *, text_col: str = "text",
                  max_word_len: int = 16,
                  top_bigrams: int = 200) -> DataFrame:
    """Deterministic unigram-LM piece vocabulary for Viterbi segmentation:
    every single character seen in the (length-capped) word vocabulary,
    plus the ``top_bigrams`` most frequent character bigrams (freq desc,
    pair asc — a total order, so the cut is deterministic). Piece cost is
    the integer inverse-frequency milli unit
    cost(p) = total_char_occurrences * 1000 div occ(p) — monotone in
    frequency and exact in any engine, standing in for -log p in the
    unigram objective (same argmin family, no transcendental ops).

    All frames are vocabulary-bounded (chars + top bigrams), weighted by
    word frequency so the corpus is scanned exactly once
    (word_frequencies' shuffle). Returns (piece, plen, cost_milli)."""
    # the frame is lazy, so a persist released on return would never be
    # read
    return _viterbi_vocab_from_wf(
        word_frequencies(df, text_col=text_col)
        .filter(F.length("w") <= max_word_len), top_bigrams)


def _viterbi_vocab_from_wf(wf: DataFrame, top_bigrams: int) -> DataFrame:
    """Piece vocabulary from an already length-capped (w, f) frequency
    frame — viterbi_vocab's body, split out so viterbi_segment_stats can
    reuse a word-frequency frame it already materialized instead of
    paying a second corpus scan. All arithmetic identical."""
    chars = (wf.select("f", F.explode(F.expr(
        "transform(sequence(1, length(w)), i -> substring(w, i, 1))"))
        .alias("piece"))
        .groupBy("piece").agg(F.sum("f").alias("occ")))
    total = chars.agg(F.sum("occ").alias("total"))
    bigr = (wf.filter(F.length("w") >= 2)
            .select("f", F.explode(F.expr(
                "transform(sequence(1, length(w) - 1), "
                "          i -> substring(w, i, 2))")).alias("piece"))
            .groupBy("piece").agg(F.sum("f").alias("occ"))
            .orderBy(F.desc("occ"), "piece").limit(int(top_bigrams)))
    return (chars.select("piece", "occ")
            .unionByName(bigr.select("piece", "occ"))
            .crossJoin(F.broadcast(total))
            .select("piece", F.length("piece").alias("plen"),
                    F.expr("total * 1000 div occ").alias("cost_milli")))


def viterbi_segment_stats(df: DataFrame, *, text_col: str = "text",
                          group_col: str = "lang",
                          max_word_len: int = 16,
                          top_bigrams: int = 200) -> DataFrame:
    """SentencePiece-style Viterbi segmentation (Kudo 2018 unigram LM
    inference) as PURE relational iteration — no Python in the loop, no
    UDF: per distinct word, the minimum-cost split into vocabulary
    pieces via the classic DP
    best(i) = min over pieces p ending at i of best(i - |p|) + cost(p),
    run as ``max_word_len`` rounds of (broadcast vocab join + per-word
    min-struct aggregate) over the DISTINCT word vocabulary — after
    word_frequencies' one corpus shuffle, every frame is
    vocabulary-bounded, which is what makes a tokenizer pass feasible at
    100 TB (the corpus is never re-scanned per round). Ties on cost
    break by fewest pieces via lexicographic struct min; single
    characters guarantee every word is segmentable.

    Returns per ``group_col``: n_tokens (token occurrences of capped
    words), n_distinct_words, total pieces and cost weighted by token
    frequency, and pieces_per_token_milli — the fertility metric a
    tokenizer ablation reads. Exact integers end to end.

    Execution shape (optimization round 9; guide §1.2 step 1, §4.2): the
    corpus is scanned ONCE into the per-(group, word) count frame; the
    word-frequency table and the piece vocabulary both derive from that
    materialization. The per-word DP itself — max_word_len rounds of a
    2-candidate min over a ~226-piece vocabulary — runs as one
    Arrow-vectorized kernel over the DISTINCT word frame (int64
    numpy arithmetic, identical lexicographic (cost, np) struct min),
    replacing the former 16-round broadcast-join + min-aggregate +
    checkpoint loop: 17 sequential vocab-bounded Spark jobs and a
    16-way union (which overflowed the 64 KB whole-stage-codegen method
    limit and fell back to interpreted execution) become one map-only
    stage. The piece vocabulary is collected to the driver — bounded at
    |chars| + top_bigrams rows by construction, the same bounded-literal
    seam as the k-means/PQ codebooks."""
    # ONE corpus scan: per-(group, word) counts of length-capped words.
    # Checkpointed because three consumers read it (word frequencies ->
    # vocab, the DP's distinct-word frame, and the final weighted join).
    with materialized() as m:
        lw, _ = m.checkpoint(
            ensure_parallelism(df)
            .select(F.col(group_col).alias("group"),
                    F.explode(F.regexp_extract_all(
                        F.lower(F.col(text_col)), F.lit(WORD_RE), F.lit(0)))
                    .alias("w"))
            .filter(F.length("w") <= max_word_len)
            .groupBy("group", "w").agg(F.count(F.lit(1)).alias("c")))
        # same (w, f) table word_frequencies(df) yields after the length cap:
        # summing exact per-group counts == counting over the corpus
        wf = lw.groupBy("w").agg(F.sum("c").cast("long").alias("f"))
        pieces = _viterbi_vocab_from_wf(wf, top_bigrams).collect()
        cost1 = {r["piece"]: r["cost_milli"] for r in pieces if r["plen"] == 1}
        cost2 = {r["piece"]: r["cost_milli"] for r in pieces if r["plen"] == 2}
        mwl = int(max_word_len)

        def dp(batches):
            import numpy as np
            import pandas as pd

            # sentinel: larger than any reachable path cost (cost_milli <=
            # total*1000 and paths have <= mwl pieces), small enough that
            # INF + INF never wraps int64
            inf = np.int64(1) << 61
            c1 = np.full(256, inf, dtype=np.int64)
            for p, c in cost1.items():
                c1[ord(p)] = c
            c2 = np.full(65536, inf, dtype=np.int64)
            for p, c in cost2.items():
                c2[ord(p[0]) * 256 + ord(p[1])] = c
            for pdf in batches:
                n = len(pdf)
                if n == 0:
                    yield pd.DataFrame({"w": pdf["w"],
                                        "cost": np.empty(0, dtype=np.int64),
                                        "np": np.empty(0, dtype=np.int64)})
                    continue
                # fixed-width ASCII matrix, NUL-padded (words are [a-z]+)
                ch = (np.array(pdf["w"].to_numpy(), dtype=f"S{mwl}")
                      .view(np.uint8).reshape(n, mwl).astype(np.int32))
                wl = pdf["w"].str.len().to_numpy()
                bc = np.empty((mwl + 1, n), dtype=np.int64)
                bn = np.empty((mwl + 1, n), dtype=np.int64)
                bc[0] = 0
                bn[0] = 0
                for i in range(1, mwl + 1):
                    cc = bc[i - 1] + c1[ch[:, i - 1]]
                    cn = bn[i - 1] + 1
                    if i >= 2:
                        gc = bc[i - 2] + c2[ch[:, i - 2] * 256 + ch[:, i - 1]]
                        gn = bn[i - 2] + 1
                        take2 = (gc < cc) | ((gc == cc) & (gn < cn))
                        cc = np.where(take2, gc, cc)
                        cn = np.where(take2, gn, cn)
                    # clamp the past-end-of-word lanes (NUL chars hit the inf
                    # cost every level) so repeated inf additions cannot wrap;
                    # real lanes are far below inf and unaffected
                    bc[i] = np.minimum(cc, inf)
                    bn[i] = cn
                idx = np.arange(n)
                yield pd.DataFrame({"w": pdf["w"],
                                    "cost": bc[wl, idx], "np": bn[wl, idx]})

        final = (lw.select("w").dropDuplicates()
                 .mapInPandas(dp, "w string, cost long, np long"))
        return m.keep(lw.join(final, "w")
                .groupBy("group")
                .agg(F.sum("c").cast("long").alias("n_tokens"),
                     F.count(F.lit(1)).cast("long").alias("n_distinct_words"),
                     F.sum(F.col("c") * F.col("np")).cast("long")
                     .alias("total_pieces"),
                     F.sum(F.col("c") * F.col("cost")).cast("long")
                     .alias("total_cost_milli"))
                .withColumn("pieces_per_token_milli",
                            F.expr("total_pieces * 1000 div n_tokens")))
