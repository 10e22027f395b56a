"""Text-analysis operators for large-scale training-data pipelines.

Beyond the reference's surface (SURVEY.md §7.1 step 10): language ID,
quality scoring (heuristic, Gopher-style repetition, unigram
self-perplexity), token counting, document fingerprinting, token-window
chunking, deterministic sampling / source-weighted mixing, and BM25
keyword retrieval. All hot paths are built-in ``pyspark.sql.functions``
expressions or map-side-combined relational aggregates (whole-stage
codegen, no Python), so they scale to 100 TB document tables untouched;
only the winnowing fingerprint drops to a pandas UDF, and it is
windowed/vectorized.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.functions import pandas_udf

from vivace_graph_v3_spark.util import ensure_parallelism, materialized

# -- tokenization -------------------------------------------------------------

WORD_SPLIT = r"\s+"
# BPE-ish: words, numbers, or single punctuation — the common pre-tokenizer
# regex shape (GPT-2 style, simplified to RE2-compatible).
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(col: Column) -> Column:
    """Whitespace tokens, empty strings removed (JVM-side)."""
    return F.filter(F.split(F.trim(col), WORD_SPLIT), lambda t: t != "")


def vmr_ppm_expr(n_docs: int, s1_col: str = "s1",
                 s2_col: str = "s2") -> Column:
    """Variance-to-mean ratio in exact integer ppm from word moments:
    VMR = (N*s2 - s1^2) / (N*s1) with N the corpus doc count, s1/s2 the
    per-word sum and sum-of-squares of per-document counts (zeros for
    absent docs implied by the identity, never materialized).

    Moment terms carry in DECIMAL(38,0) (ADVICE r7): for a high-
    frequency word at large SF, s1^2 and N*s2 pass 2^63 and a LONG
    product wraps silently under non-ANSI Spark, diverging from a
    HUGEINT oracle exactly where the exactness discipline claims it
    can't. Numerator >= 0 by Cauchy-Schwarz (s1^2 <= df*s2 <= N*s2), so
    decimal `div` (truncating) and HUGEINT floor `//` agree at any
    scale."""
    nd = f"cast({int(n_docs)} as decimal(38,0))"
    return F.expr(
        f"(({nd} * {s2_col} - cast({s1_col} as decimal(38,0)) * {s1_col})"
        f" * 1000000) div ({nd} * {s1_col})")


def with_token_count(df: DataFrame, text_col: str = "text",
                     out_col: str = "n_tokens",
                     bpe_col: str | None = "n_bpe_tokens") -> DataFrame:
    """Whitespace token count + a BPE-ish sub-token count via regexp
    extraction. Both pure expressions."""
    out = df.withColumn(out_col, F.size(tokens(F.col(text_col))))
    if bpe_col:
        out = out.withColumn(
            bpe_col, F.size(F.regexp_extract_all(F.col(text_col),
                                                 F.lit(BPE_TOKEN_RE), F.lit(0))))
    return out


# -- quality scoring -----------------------------------------------------------

STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are", "was",
    "for", "on", "with", "as", "at", "by", "it", "this", "that",
]


def with_quality_score(df: DataFrame, text_col: str = "text",
                       out_col: str = "quality") -> DataFrame:
    """Heuristic document quality in [0,1] from length / punctuation /
    stopword ratios (the C4/Gopher-style signals), entirely JVM-side:

    - length_score: saturating chars/500
    - punct_ratio: non-alnum-non-space chars / chars (lower better)
    - stop_ratio: stopword tokens / tokens (presence indicates naturalness)
    - mean_word_len sanity band [3, 12]
    """
    text = F.col(text_col)
    n_chars = F.length(text)
    toks = tokens(text)
    n_toks = F.size(toks)
    punct = F.length(F.regexp_replace(text, r"[A-Za-z0-9\s]", ""))
    stop_set = tuple(STOPWORDS)
    stops = F.size(F.filter(F.transform(toks, F.lower),
                            lambda t: t.isin(*stop_set)))
    mean_wl = (n_chars - n_toks + 1) / F.greatest(n_toks, F.lit(1))

    length_score = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    punct_score = F.lit(1.0) - F.least(
        punct / F.greatest(n_chars, F.lit(1)) * 5.0, F.lit(1.0))
    stop_score = F.least(
        stops.cast("double") / F.greatest(n_toks, F.lit(1)) * 5.0, F.lit(1.0))
    wl_score = F.when((mean_wl >= 3.0) & (mean_wl <= 12.0), 1.0).otherwise(0.3)

    q = (length_score * 0.3 + punct_score * 0.2 + stop_score * 0.3
         + wl_score * 0.2)
    # floor(x*1e6 + 0.5)/1e6 instead of round(x, 6): IEEE double arithmetic
    # is bit-determined, so identical inputs give identical 6-decimal values
    # in every engine, with no dependence on the engine's rounding mode.
    def _r6(x):
        return (F.floor(x * F.lit(1000000.0) + F.lit(0.5)).cast("double")
                / F.lit(1000000.0))

    return (df.withColumn(out_col, _r6(q))
            .withColumn("n_chars_obs", n_chars)
            .withColumn("punct_ratio",
                        _r6(punct / F.greatest(n_chars, F.lit(1)))))


# -- language identification -----------------------------------------------------

# Tiny per-language marker lexicons (character-ngram-free heuristic: stopword
# hits). Real deployments swap in fastText/CLD3 via the same column contract.
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein"],
    "fr": ["le", "la", "les", "et", "est", "dans", "pour", "que"],
    "es": ["el", "la", "los", "y", "es", "en", "que", "por"],
    "zh": [],  # no-space script: detected by CJK char ratio below
}


def with_lang_id(df: DataFrame, text_col: str = "text",
                 out_col: str = "lang_pred") -> DataFrame:
    """Heuristic language ID: per-language stopword-hit counts (JVM array
    intersection per language) + CJK character ratio; argmax wins, 'und' when
    nothing scores."""
    toks = F.transform(tokens(F.col(text_col)), F.lower)

    def marker_test(markers):
        # closure factory: pyspark's higher-order-function adapter passes a
        # lambda variable for EVERY python parameter, so default-arg capture
        # would receive a Column — close over the list instead
        return lambda t: t.isin(*markers)

    scores = []
    for lang, markers in LANG_MARKERS.items():
        if markers:
            # count tokens that are markers (with multiplicity)
            hits = F.size(F.filter(toks, marker_test(tuple(markers))))
        else:
            cjk = F.length(F.regexp_replace(
                F.col(text_col), r"[^一-鿿]", ""))
            hits = (cjk * 2)  # CJK chars count double: no-space script
        scores.append(F.struct(hits.cast("long").alias("score"),
                               F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*scores))
    return df.withColumn(
        out_col,
        F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und")))


# -- fingerprinting --------------------------------------------------------------

def with_fingerprint(df: DataFrame, text_col: str = "text",
                     out_col: str = "fingerprint") -> DataFrame:
    """Content fingerprint = xxhash64 of normalized text (whitespace-collapsed,
    lowercased). Pure expression; the exact-dedup key."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return df.withColumn(out_col, F.xxhash64(norm))


def with_winnowing_fingerprint(df: DataFrame, text_col: str = "text",
                               out_col: str = "winnow_fp", k: int = 5,
                               window: int = 4) -> DataFrame:
    """Winnowing (Schleimer et al. 2003): min rolling-hash per window over
    k-gram hashes -> set fingerprint (as sorted distinct array). Vectorized
    pandas UDF; used for robust near-dup detection on shuffled text."""

    @pandas_udf("array<long>")
    def _winnow(texts):
        import pandas as pd

        def fp(s):
            if s is None:
                return []
            s = " ".join(s.lower().split())
            if len(s) < k:
                return []
            B, M = 1_000_003, (1 << 61) - 1
            hashes = []
            h, power = 0, pow(B, k - 1, M)
            for i, ch in enumerate(s):
                h = (h * B + ord(ch)) % M
                if i >= k - 1:
                    hashes.append(h)
                    h = (h - ord(s[i - k + 1]) * power) % M
            out = set()
            for i in range(0, max(len(hashes) - window + 1, 1)):
                out.add(min(hashes[i:i + window]))
            return sorted(v - (1 << 62) for v in out)  # fit signed long

        return pd.Series([fp(t) for t in texts])

    return df.withColumn(out_col, _winnow(F.col(text_col)))


# -- repetition / chunking --------------------------------------------------------

def repetition_stats(df: DataFrame, *, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1: repeated
    words/n-grams mark low-quality or templated documents). Per document
    (with >= 1 token): (id, n_words, top_word_frac, dup_bigram_frac).

    - ``top_word_frac``: count of the most frequent word / word count —
      computed relationally (explode -> count) so the per-(doc, word)
      aggregate gets map-side combine and the only shuffle carries at most
      |vocab-per-doc| rows per document;
    - ``dup_bigram_frac``: 1 - distinct bigrams / bigrams, a pure per-row
      expression (no shuffle at all).

    Both fractions are rounded to 6 decimals in pure integer arithmetic —
    round(a/b, 6) == ((2*a*10^6 + b) div (2*b)) / 10^6 for non-negative
    ints — so the result is bit-identical across engines regardless of
    their double-rounding mode (a HALF_UP double round can flip an ulp
    differently in Spark vs DuckDB on exact-half boundaries)."""
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    bg = F.when(n >= 2, F.transform(
        F.sequence(F.lit(0), n - 2),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 2)))
    ).otherwise(F.array().cast("array<string>"))
    base = df.select(F.col(id_col), toks.alias("__t"), bg.alias("__bg"))
    wc = (base.select(id_col, F.explode("__t").alias("w"))
          .groupBy(id_col, "w").agg(F.count(F.lit(1)).alias("c")))
    top = (wc.groupBy(id_col)
           .agg(F.max("c").alias("top_c"), F.sum("c").alias("n_words")))
    per_row = base.select(
        F.col(id_col),
        F.size("__bg").cast("long").alias("n_bg"),
        F.size(F.array_distinct("__bg")).cast("long").alias("n_dbg"))
    def _ratio6(num, den):
        # round(num/den, 6) via integer round-half-up: exact in any engine.
        k = F.expr(f"({num} * 2000000L + {den}) div ({den} * 2L)")
        return k.cast("double") / F.lit(1000000.0)

    dup = F.when(F.col("n_bg") > 0,
                 _ratio6("(n_bg - n_dbg)", "n_bg")).otherwise(F.lit(0.0))
    return (top.join(per_row, id_col)
            .select(F.col(id_col), F.col("n_words"),
                    _ratio6("top_c", "n_words").alias("top_word_frac"),
                    dup.alias("dup_bigram_frac")))


def chunk_tokens(df: DataFrame, *, text_col: str = "text",
                 id_col: str = "doc_id", chunk_size: int = 32,
                 stride: int = 24) -> DataFrame:
    """Fixed-token-window chunking with overlap — the standard
    document -> training-sample step. Emits one row per window:
    (id, chunk_idx, n_chunk_tokens, chunk_text), windows starting every
    ``stride`` tokens (so consecutive chunks overlap by
    ``chunk_size - stride``). Pure per-row expressions + one explode: no
    shuffle, no Python — the 100 TB corpus rewrite is map-only."""
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    starts = F.when(n > 0, F.sequence(F.lit(0), n - 1, F.lit(stride))) \
              .otherwise(F.array().cast("array<int>"))
    chunks = F.transform(starts, lambda s: F.struct(
        (s / stride).cast("long").alias("chunk_idx"),
        F.least(F.lit(chunk_size), n - s).cast("long")
         .alias("n_chunk_tokens"),
        F.concat_ws(" ", F.slice(toks, s + 1, chunk_size))
         .alias("chunk_text")))
    return (df.select(F.col(id_col), F.explode(chunks).alias("__c"))
            .select(F.col(id_col), F.col("__c.chunk_idx"),
                    F.col("__c.n_chunk_tokens"), F.col("__c.chunk_text")))


# -- deterministic sampling / mixture weighting -----------------------------------

def deterministic_sample(df: DataFrame, rate: float, *,
                         key_col: str = "doc_id",
                         buckets: int = 10_000) -> DataFrame:
    """Reproducible content-keyed sampling: keep a row iff
    ``hash(key) mod buckets < rate * buckets``. Unlike RNG sampling this is
    stable across runs, engines, partitionings, and re-ingestions of the
    same keys — the property a training pipeline needs so a re-run (or an
    incremental top-up) selects the SAME subset. Map-only: no shuffle, no
    state. Uses the cross-engine md5-derived 64-bit hash
    (pipeline/dedup.md5_hash64) so external tools can reproduce the split
    exactly."""
    from vivace_graph_v3_spark.pipeline.dedup import md5_hash64

    thresh = int(rate * buckets)
    b = F.pmod(md5_hash64(F.col(key_col).cast("string")), F.lit(buckets))
    return df.filter(b < thresh)


def stratified_sample(df: DataFrame, k: int, *,
                      group_col: str = "source",
                      key_col: str = "doc_id") -> DataFrame:
    """Deterministic per-group top-k sample: within each group keep the k
    rows with the smallest (md5-hash64(key), key) — a reproducible
    stratified sample whose membership is stable across runs, engines and
    partitionings (the same property as deterministic_sample, but with an
    exact per-stratum COUNT instead of an expected rate — the shape
    eval-set construction and per-source inspection pulls need).

    Scale: one hash-partitioned window per group; group cardinality is
    small (sources/languages), row volume within a group is the corpus —
    rank-then-filter is the standard two-phase top-k per key and never
    global-sorts."""
    from vivace_graph_v3_spark.pipeline.dedup import md5_hash64

    h = md5_hash64(F.col(key_col).cast("string"))
    w = Window.partitionBy(group_col).orderBy(h.asc(), F.col(key_col).asc())
    return (df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k).drop("__rn"))


def boilerplate_chunks(df: DataFrame, *, text_col: str = "text",
                       id_col: str = "doc_id", chunk_tokens: int = 8,
                       min_docs: int = 2) -> DataFrame:
    """The boilerplate table for remove_boilerplate: disjoint
    ``chunk_tokens``-token spans (the last span may be shorter) that occur
    in >= ``min_docs`` DISTINCT documents — the exact repeated-span unit
    C4/RefinedWeb-style cleaning removes (headers, footers, licence
    blurbs). Returns (chunk, n_docs). One explode + one groupBy; the
    span table is duplicate-bounded, far smaller than the corpus."""
    toks = tokens(F.col(text_col))
    n_chunks = F.ceil(F.size(toks) / F.lit(chunk_tokens)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(
            F.slice(toks, i * chunk_tokens + 1, chunk_tokens), " "))
    return (df.filter(F.size(toks) > 0)
            .select(F.col(id_col).alias("__id"),
                    F.explode(chunks).alias("chunk"))
            .groupBy("chunk")
            .agg(F.countDistinct("__id").alias("n_docs"))
            .filter(F.col("n_docs") >= min_docs))


def remove_boilerplate(df: DataFrame, *, text_col: str = "text",
                       id_col: str = "doc_id", chunk_tokens: int = 8,
                       min_docs: int = 2) -> DataFrame:
    """Exact repeated-span (boilerplate) removal: re-emit every document
    with its cross-document-repeated ``chunk_tokens``-token spans deleted
    (whitespace-normalized, spans joined by single spaces). Returns
    (id, n_chunks, n_removed, cleaned) — the cleaned text plus audit
    counts.

    Scale shape: chunking is map-only; the boilerplate table is matched
    with a LEFT JOIN on the chunk string (hash shuffle on the span — the
    span table side is duplicate-bounded and usually broadcastable, which
    Catalyst/AQE decides from its measured size), and the document is
    reassembled with an order-preserving groupBy fold — no window over
    the corpus, no driver loop."""
    toks = tokens(F.col(text_col))
    n_chunks = F.ceil(F.size(toks) / F.lit(chunk_tokens)).cast("int")
    # guard the empty doc: sequence(0, -1) would emit [0, -1], not []
    chunks = F.when(F.size(toks) > 0, F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(
            F.slice(toks, i * chunk_tokens + 1, chunk_tokens), " "))
    ).otherwise(F.expr("CAST(array() AS array<string>)"))
    bp = boilerplate_chunks(df, text_col=text_col, id_col=id_col,
                            chunk_tokens=chunk_tokens, min_docs=min_docs)
    exploded = (df.select(F.col(id_col).alias("id"),
                          F.posexplode_outer(chunks)
                          .alias("chunk_i", "chunk")))
    marked = (exploded.join(bp.select("chunk",
                                      F.lit(True).alias("__bp")),
                            "chunk", "left"))
    return (marked.groupBy("id")
            .agg(F.count("chunk").alias("n_chunks"),
                 F.sum(F.when(F.col("__bp"), 1).otherwise(0))
                 .alias("n_removed"),
                 F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(
                             F.when(F.col("__bp").isNull() &
                                    F.col("chunk").isNotNull(),
                                    F.struct("chunk_i", "chunk")))),
                         lambda s: s["chunk"]),
                     " ").alias("cleaned")))


def doremi_mix_weights(df: DataFrame, *, text_col: str = "text",
                       source_col: str = "source",
                       smoothing: float = 0.2) -> DataFrame:
    """One-step DoReMi-style domain reweighting (Xie et al. 2023,
    arXiv:2305.10429, simplified to a single excess-loss step with the
    corpus-self-trained unigram LM as the reference model): domains whose
    words are less probable under the corpus distribution (higher mean
    negative log-prob than the corpus mean) get up-weighted
    proportionally to their EXCESS loss, then mixed with a uniform prior:

        w_s = (1 - smoothing) * excess_s / sum(excess) + smoothing / k

    (uniform when no domain has excess). Returns per source: n_words,
    mean_nll, excess, weight_ppm.

    Determinism: word-level neg-log-probs accumulate per source in
    DECIMAL(38,12) (order-independent); means/excess/weights are pinned
    double chains from those exact sums; the excess normalizer re-sums
    DECIMAL-rounded excesses. Scale shape: the corpus is touched by ONE
    exploded-word aggregate pair (vocab frame + per-source sums, both
    map-side combined); everything downstream is |sources| rows."""
    words = (ensure_parallelism(df)
             .select(F.col(source_col).alias("source"),
                     F.explode(tokens(F.col(text_col))).alias("w")))
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    total = vocab.agg(F.sum("c").alias("total"))
    scored = (words.join(vocab, "w")
              .crossJoin(F.broadcast(total))
              .select("source", (-F.log2(F.col("c") / F.col("total")))
                      .alias("neg_logp")))
    per_s = (scored.groupBy("source")
             .agg(F.count(F.lit(1)).alias("n_words"),
                  F.sum(F.col("neg_logp").cast("decimal(38,12)"))
                  .alias("nll")))
    corpus = per_s.agg(F.sum("nll").alias("nll_t"),
                       F.sum("n_words").alias("nw_t"))
    mean_s = F.col("nll").cast("double") / F.col("n_words").cast("double")
    ref = F.col("nll_t").cast("double") / F.col("nw_t").cast("double")
    per = (per_s.crossJoin(F.broadcast(corpus))
           .select("source", "n_words", F.col("nll").alias("nll_d"),
                   mean_s.alias("mean_nll"),
                   F.greatest(F.lit(0.0), mean_s - ref).alias("excess")))
    per = per.withColumn("excess_dec",
                         F.col("excess").cast("decimal(38,12)"))
    tots = per.agg(F.sum("excess_dec").alias("tot_dec"),
                   F.count(F.lit(1)).alias("k"))
    s = float(smoothing)
    shared = (F.lit(1.0 - s)
              * (F.col("excess_dec").cast("double")
                 / F.col("tot_dec").cast("double"))
              + F.lit(s) / F.col("k").cast("double"))
    uniform = F.lit(1.0) / F.col("k").cast("double")
    w = F.when(F.col("tot_dec") == 0, uniform).otherwise(shared)
    return (per.crossJoin(F.broadcast(tots))
            .select("source", "n_words",
                    F.round("mean_nll", 6).alias("mean_nll"),
                    F.round("excess", 6).alias("excess"),
                    F.round(w * 1_000_000).cast("long")
                    .alias("weight_ppm")))


def quantile_normalize(df: DataFrame, *, group_col: str = "source",
                       value_col: str = "len",
                       id_col: str = "doc_id") -> DataFrame:
    """Quantile normalization (Bolstad et al. 2003 — the microarray /
    batch-effect workhorse) of an integer metric across groups: rank
    within each group (ties broken by id for a total order), then map
    every rank to the MEAN of the values holding that rank across
    groups — after which every group has an identical distribution.
    With unequal group sizes a rank beyond a group's end simply
    averages over the groups that reach it (the standard
    truncated-reference generalization).

    Exactness: the reference is sum(value)/count at each rank — exact
    BIGINT sum, one pinned double division. Scale shape: one
    group-partitioned rank window (parallel across groups), a
    rank-grid-bounded reference frame (max group size rows), one
    broadcast-able join back."""
    w = Window.partitionBy(group_col).orderBy(value_col, id_col)
    ranked = df.select(id_col, group_col,
                       F.col(value_col).cast("long").alias(value_col)) \
        .withColumn("__r", F.row_number().over(w))
    ref = (ranked.groupBy("__r")
           .agg(F.count(F.lit(1)).alias("k"),
                F.sum(value_col).alias("s")))
    ref = ref.select("__r", (F.col("s").cast("double")
                             / F.col("k").cast("double")).alias("norm"))
    return (ranked.join(F.broadcast(ref), "__r")
            .select(id_col, group_col, value_col,
                    F.col("__r").cast("long").alias("rank"), "norm"))


def training_mix(df: DataFrame, weights: dict[str, float], *,
                 source_col: str = "source",
                 key_col: str = "doc_id",
                 buckets: int = 10_000) -> DataFrame:
    """Source-weighted corpus mixture: per-source deterministic sampling
    rates (e.g. {"wiki": 1.0, "crawl": 0.25}) applied in ONE map-only pass —
    the down-weighting step of a training-data mix. Sources absent from
    ``weights`` are dropped. Same hash-bucket determinism as
    deterministic_sample; the per-source rate is looked up with a small
    CASE expression, so the 100 TB corpus is filtered at scan speed."""
    from vivace_graph_v3_spark.pipeline.dedup import md5_hash64

    b = F.pmod(md5_hash64(F.col(key_col).cast("string")), F.lit(buckets))
    thresh = F.lit(0)  # sources without a weight are dropped
    for src, rate in sorted(weights.items(), reverse=True):
        thresh = (F.when(F.col(source_col) == src,
                         F.lit(int(rate * buckets)))
                  .otherwise(thresh))
    return df.filter(b < thresh)


def token_budget_mix(df: DataFrame, budgets: dict[str, int], *,
                     source_col: str = "source", key_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Token-BUDGETED corpus mixture: for each source, keep documents in
    deterministic (md5-hash64(key), key) order while the running token
    total stays within that source's budget — "fill N tokens per source"
    is how training mixes are actually specified, where training_mix's
    per-source RATES need the corpus size known up front. Sources absent
    from ``budgets`` are dropped. A doc is kept iff the cumulative count
    INCLUDING it fits (the first overflowing doc is cut, nothing after it
    is backfilled — order-stable membership). Returns the kept rows plus
    (n_tokens, cum_tokens).

    Scale: one window cumsum per source (group count is small — sources,
    not docs) over the hash order; no global sort, no driver state."""
    from vivace_graph_v3_spark.pipeline.dedup import md5_hash64

    h = md5_hash64(F.col(key_col).cast("string"))
    w = (Window.partitionBy(source_col)
         .orderBy(h.asc(), F.col(key_col).asc())
         .rowsBetween(Window.unboundedPreceding, 0))
    budget = F.lit(0)
    for src, b in sorted(budgets.items(), reverse=True):
        budget = F.when(F.col(source_col) == src, F.lit(int(b))) \
            .otherwise(budget)
    ntok = F.size(tokens(F.col(text_col)))
    return (df.withColumn("n_tokens", ntok.cast("long"))
            .withColumn("cum_tokens", F.sum("n_tokens").over(w))
            # budget > 0 guard: a 0-token doc in an unbudgeted source
            # would otherwise pass cum(0) <= budget(0)
            .filter((budget > 0) & (F.col("cum_tokens") <= budget)))


def sft_pairs(df: DataFrame, *, text_col: str = "text",
              id_col: str = "doc_id", prompt_tokens: int = 32) -> DataFrame:
    """Supervised-fine-tuning example construction: split each document at
    a fixed token boundary into (prompt, completion) — the continuation
    objective's data prep. Returns (id, prompt, completion, n_prompt,
    n_completion); documents at or under the boundary get an empty
    completion (callers typically filter n_completion > 0). Whitespace is
    normalized to single spaces by the token join, so the pair is a pure
    function of the token sequence. Map-only: expression-only split at
    scan speed, no shuffle."""
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    prompt = F.array_join(F.slice(toks, 1, prompt_tokens), " ")
    completion = F.when(
        n > prompt_tokens,
        F.array_join(F.slice(toks, prompt_tokens + 1,
                             F.greatest(n - prompt_tokens, F.lit(0))), " ")
    ).otherwise(F.lit(""))
    return df.select(
        F.col(id_col).alias("id"),
        prompt.alias("prompt"),
        completion.alias("completion"),
        F.least(n, F.lit(prompt_tokens)).cast("long").alias("n_prompt"),
        F.greatest(n - prompt_tokens, F.lit(0)).cast("long")
        .alias("n_completion"))


def training_mix_upsample(df: DataFrame, weights: dict[str, float], *,
                          source_col: str = "source",
                          key_col: str = "doc_id",
                          buckets: int = 10_000) -> DataFrame:
    """Source-weighted mixture that also UPSAMPLES: a weight of 2.5 emits
    every row of that source twice plus a deterministic half of it a third
    time (training_mix only downsamples — but real mixes repeat the
    scarce high-quality sources for multiple epochs). Emits a ``copy``
    ordinal (0-based) so downstream shuffling/packing can tell repeats
    apart; fractional selection is hash-keyed per (key, copy), so re-runs
    and incremental top-ups reproduce the identical multiset. Sources
    absent from ``weights`` are dropped.

    Scale shape: one map-only explode of at most ceil(weight) per row —
    no shuffle, no state; the 100 TB corpus is expanded at scan speed."""
    from vivace_graph_v3_spark.pipeline.dedup import md5_hash64

    max_copies = F.lit(0)
    thresh = F.lit(-1)  # per-copy fractional threshold in bucket units
    for src, wgt in sorted(weights.items(), reverse=True):
        if wgt < 0:
            raise ValueError(f"negative weight for {src}")
        whole = int(wgt)
        frac = int(round((wgt - whole) * buckets))
        max_copies = F.when(F.col(source_col) == src,
                            F.lit(whole + (1 if frac else 0))) \
            .otherwise(max_copies)
        thresh = F.when(F.col(source_col) == src, F.lit(frac)) \
            .otherwise(thresh)
    copies = F.explode(F.sequence(F.lit(0), max_copies - 1))
    out = (df.filter(max_copies > 0)
           .withColumn("copy", copies)
           .withColumn("__whole", max_copies
                       - F.when(thresh > 0, 1).otherwise(0)))
    # the final (fractional) copy keeps only rows whose (key, copy) hash
    # lands under the fraction; whole copies keep everything
    b = F.pmod(md5_hash64(F.concat(F.col(key_col).cast("string"),
                                   F.lit("#"),
                                   F.col("copy").cast("string"))),
               F.lit(buckets))
    return (out.filter((F.col("copy") < F.col("__whole")) | (b < thresh))
            .drop("__whole"))


def unigram_logprob(df: DataFrame, *, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Corpus-self-trained unigram negative log-probability per document —
    the perplexity-style quality proxy of CCNet-class pipelines (docs whose
    words are improbable under the corpus distribution score high = likely
    noise; no external LM needed). Returns (id, n_words, avg_neg_logp).

    Two relational passes over the exploded words: a global word-count
    (map-side combined; vocabulary-sized result) joined back to the word
    stream, then a per-doc mean. The vocabulary frame is aggregated, so at
    100 TB the join is shuffle-bounded by |vocab|, not corpus size."""
    words = (ensure_parallelism(df)
             .select(F.col(id_col).alias("id"),
                     F.explode(tokens(F.col(text_col))).alias("w")))
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    total = vocab.agg(F.sum("c").alias("total"))
    scored = (words.join(vocab, "w")
              .crossJoin(F.broadcast(total))
              .select("id", (-F.log2(F.col("c") / F.col("total")))
                      .alias("neg_logp")))
    # decimal-accumulated mean: order-independent, engine-stable
    return (scored.groupBy("id")
            .agg(F.count(F.lit(1)).alias("n_words"),
                 F.round((F.sum(F.col("neg_logp").cast("decimal(38,12)"))
                          .cast("double") / F.count(F.lit(1))), 6)
                 .alias("avg_neg_logp")))


class Bm25Index:
    """The persisted half of BM25 retrieval: term-frequency postings,
    per-doc lengths, and corpus stats. At 100 TB these three frames are
    written ONCE at ingest (postings partitioned/bucketed by term so a
    query prunes to its terms' buckets) and every query touches only its
    inverted-index slice — recomputing them per query would rescan the
    corpus. ``bm25_topk`` builds one inline for the ad-hoc case."""

    def __init__(self, postings: DataFrame, doc_len: DataFrame,
                 stats: DataFrame) -> None:
        self.postings = postings  # (id, w, tf)
        self.doc_len = doc_len    # (id, dl)
        self.stats = stats        # 1 row: (n_docs, avgdl)


def bm25_index(df: DataFrame, *, text_col: str = "text",
               id_col: str = "doc_id") -> Bm25Index:
    """Build the ingest-time BM25 index: one explode + two map-side
    combined aggregates over the corpus. All three outputs are plain
    DataFrames, so the caller persists them however the deployment stores
    tables (for the scale path: postings bucketed by ``w``)."""
    words = (ensure_parallelism(df)
             .select(F.col(id_col).alias("id"),
                     F.explode(tokens(F.col(text_col))).alias("w")))
    postings = words.groupBy("id", "w").agg(F.count(F.lit(1)).alias("tf"))
    dl = words.groupBy("id").agg(F.count(F.lit(1)).alias("dl"))
    # avgdl as exact-int-sum / count: bit-identical across engines and
    # aggregation orders (double avg() accumulates order-dependently)
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"),
                   (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"))
    return Bm25Index(postings, dl, stats)


def bm25_topk_indexed(index: Bm25Index, query_terms: list[str],
                      k: int = 10, *, k1: float = 1.2,
                      b: float = 0.75) -> DataFrame:
    """Query-time BM25 against a prebuilt index: the postings filter is the
    only corpus-sized touch, and with term-bucketed postings it prunes to
    the query's buckets. Returns (id, score, rank)."""
    tf = index.postings.filter(F.col("w").isin(*query_terms))
    dfreq = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5) + 1.0)
    dl, stats = index.doc_len, index.stats
    norm = F.col("tf") * (k1 + 1) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
    scored = (tf.join(F.broadcast(dfreq), "w")
              .join(dl, "id")
              .crossJoin(F.broadcast(stats))
              .select("id", (idf * norm).alias("s")))
    totals = (scored.groupBy("id")
              .agg(F.round(F.sum(F.col("s").cast("decimal(38,12)"))
                           .cast("double"), 6).alias("score")))
    # two-phase top-k via TakeOrderedAndProject (orderBy+limit): each
    # partition keeps its local top-k and only those merge — never a
    # single-task global sort of every matching doc (a common query term
    # at 100 TB would otherwise funnel the corpus slice into one task).
    # The rank window then runs over exactly k rows.
    top = totals.orderBy(F.col("score").desc(), F.col("id").asc()).limit(k)
    w = Window.orderBy(F.col("score").desc(), F.col("id").asc())
    return (top.withColumn("rank", F.row_number().over(w))
            .select("id", "score", "rank"))


def bm25_topk(df: DataFrame, query_terms: list[str], k: int = 10, *,
              k1: float = 1.2, b: float = 0.75,
              text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """BM25 keyword retrieval (Robertson-Spärck Jones): top-k documents for
    a bag of query terms — the lexical complement to the embedding ANN
    operators in pipeline/similarity.py. Returns (id, score, rank), ranked
    by the 6-decimal-rounded score with id as the deterministic tiebreak.

    Ad-hoc form, and deliberately NOT ``bm25_topk_indexed`` over an inline
    ``bm25_index``: that shape explodes the full token stream into three
    corpus-wide aggregates (postings/doc-length/stats) — 4 Generate + 8
    Exchange at plan level — when only the query's |terms| counts matter.
    Instead both per-doc quantities come from map-only expressions (dl =
    size(tokens), tf_i = size(filter(tokens, == term_i))), the corpus
    stats + per-term doc frequencies fold into ONE map-side-combined
    aggregate broadcast as a single row, and the only shuffles left are
    the matching-doc score aggregate and the two-phase top-k. Arithmetic
    is expression-identical to the indexed path (same doubles bit for
    bit). Deployments that serve many queries persist ``bm25_index``
    output once instead — see Bm25Index for the 100 TB shape. idf uses
    the standard +1 form (never negative)."""
    terms = list(dict.fromkeys(query_terms))
    toks = tokens(F.col(text_col))

    def _is_term(t):
        # bind t per term; a default-arg lambda would change F.filter's
        # perceived arity (2-arg form receives the element index)
        return lambda x: x == t

    tf_struct = F.array(*[
        F.struct(F.size(F.filter(toks, _is_term(t))).cast("long").alias("tf"),
                 F.lit(i + 1).alias("pos"))
        for i, t in enumerate(terms)])
    per_doc = df.select(F.col(id_col).alias("id"),
                        F.size(toks).cast("long").alias("dl"),
                        tf_struct.alias("tfs"))
    # one row: corpus n_docs / avgdl (docs with >= 1 token, matching the
    # exploded-postings definition) plus df_i per term — all from one
    # map-side-combined pass
    stats = per_doc.agg(
        F.count(F.when(F.col("dl") > 0, F.lit(1))).alias("n_docs"),
        F.sum("dl").alias("sdl"),
        *[F.sum(F.when(F.col("tfs")[i]["tf"] > 0, F.lit(1))
                .otherwise(F.lit(0))).alias(f"df_{i}")
          for i in range(len(terms))])
    # avgdl exactly as bm25_index: exact-int sum / count (long/long -> double)
    stats = stats.select("n_docs", (F.col("sdl") / F.col("n_docs"))
                         .alias("avgdl"),
                         *[F.col(f"df_{i}") for i in range(len(terms))])
    tf_rows = (per_doc
               .select("id", "dl", F.explode("tfs").alias("x"))
               .select("id", "dl", F.col("x.tf").alias("tf"),
                       F.col("x.pos").alias("pos"))
               .filter(F.col("tf") > 0))
    dfr = F.element_at(F.array(*[F.col(f"df_{i}")
                                 for i in range(len(terms))]), F.col("pos"))
    idf = F.log((F.col("n_docs") - dfr + 0.5) / (dfr + 0.5) + 1.0)
    norm = F.col("tf") * (k1 + 1) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
    scored = (tf_rows.crossJoin(F.broadcast(stats))
              # a term with zero matching docs contributes no tf_rows, so
              # dfr is never read at df=0 — same as the indexed inner join
              .select("id", (idf * norm).alias("s")))
    totals = (scored.groupBy("id")
              .agg(F.round(F.sum(F.col("s").cast("decimal(38,12)"))
                           .cast("double"), 6).alias("score")))
    # two-phase top-k via TakeOrderedAndProject, rank window over k rows
    # (same rationale as bm25_topk_indexed)
    top = totals.orderBy(F.col("score").desc(), F.col("id").asc()).limit(k)
    w = Window.orderBy(F.col("score").desc(), F.col("id").asc())
    return (top.withColumn("rank", F.row_number().over(w))
            .select("id", "score", "rank"))


# -- PII redaction -------------------------------------------------------------

# Patterns chosen to parse identically under Java regex (Spark) and RE2
# (DuckDB): no backrefs, no lookaround, \b word boundaries only.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b\d{3}[- ]\d{3,4}\b"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def redact_pii(df: DataFrame, *, text_col: str = "text",
               out_col: str = "redacted") -> DataFrame:
    """Regex PII scrubbing — the mandatory pre-training hygiene pass
    (emails, phone-shaped numbers, IPv4 literals replaced by typed
    placeholder tags) plus per-kind match counts for audit reporting.
    Entirely `regexp_replace` / `regexp_extract_all` expressions: map-only,
    whole-stage codegen, zero shuffle — a 100 TB corpus is scrubbed at scan
    speed. Patterns are deliberately RE2-compatible so external audit tools
    (and the DuckDB oracle) reproduce the redaction bit-for-bit."""
    t = F.col(text_col)
    out = (df
           .withColumn("n_emails",
                       F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE),
                                                   F.lit(0))))
           .withColumn("n_phones",
                       F.size(F.regexp_extract_all(t, F.lit(PHONE_RE),
                                                   F.lit(0))))
           .withColumn("n_ips",
                       F.size(F.regexp_extract_all(t, F.lit(IPV4_RE),
                                                   F.lit(0)))))
    red = F.regexp_replace(t, EMAIL_RE, "<EMAIL>")
    red = F.regexp_replace(red, IPV4_RE, "<IP>")
    red = F.regexp_replace(red, PHONE_RE, "<PHONE>")
    return out.withColumn(out_col, red)


def dataset_split(df: DataFrame, *, key_col: str = "doc_id",
                  val_pct: int = 5, test_pct: int = 5,
                  buckets: int = 10_000,
                  out_col: str = "split") -> DataFrame:
    """Deterministic train/val/test assignment by content-keyed hash
    bucket — the split survives re-runs, re-partitionings, engine changes,
    and incremental corpus top-ups (a new doc lands in a stable split;
    existing docs never migrate), which RNG splits cannot guarantee.
    Map-only, no shuffle; same cross-engine md5-derived hash as
    deterministic_sample. Buckets [0, test) -> test, [test, test+val) ->
    val, rest -> train."""
    from vivace_graph_v3_spark.pipeline.dedup import md5_hash64

    t = int(test_pct * buckets / 100)
    v = int(val_pct * buckets / 100)
    b = F.pmod(md5_hash64(F.col(key_col).cast("string")), F.lit(buckets))
    return df.withColumn(
        out_col,
        F.when(b < t, "test").when(b < t + v, "val").otherwise("train"))


# -- collocation mining --------------------------------------------------------

def collocations_pmi(df: DataFrame, *, text_col: str = "text",
                     min_count: int = 5, k: int = 20) -> DataFrame:
    """Top-k adjacent-bigram collocations by pointwise mutual information —
    the standard corpus-statistics pass for tokenizer/vocab induction and
    phrase mining (Church & Hanks 1990). Returns
    (w1, w2, n_pair, pmi_ratio, rank) where ``pmi_ratio`` is the PMI
    argument p(xy)/(p(x)p(y)) = (c_xy·N1²)/(N·c_x·c_y); ranking by the
    ratio equals ranking by PMI (log2 is monotone) while avoiding
    engine-dependent ulp drift in transcendental log implementations — the
    ratio is a fixed-order chain of exactly-rounded IEEE multiply/divides,
    bit-identical across engines.

    Scale shape: bigrams come from one zip of the token array with its own
    tail (map-only explode); both count tables are map-side-combined
    aggregates bounded by vocabulary size, and the scoring join is
    vocab-sized, never corpus-sized. Final top-k is orderBy+limit
    (TakeOrderedAndProject), not a global sort."""
    toks = tokens(F.col(text_col))
    # bigram structs: zip the token array with its own one-step shift
    base = ensure_parallelism(df).select(toks.alias("x"))
    bigrams = (base
               .filter(F.size("x") >= 2)
               .select(F.explode(F.zip_with(
                   F.slice(F.col("x"), 1, F.size("x") - 1),
                   F.slice(F.col("x"), 2, F.size("x") - 1),
                   lambda a, b: F.struct(a.alias("w1"), b.alias("w2"))))
                   .alias("p"))
               .select("p.w1", "p.w2"))
    uni = (base.select(F.explode("x").alias("w"))
           .groupBy("w").agg(F.count(F.lit(1)).alias("c")))
    n1 = uni.agg(F.sum("c").alias("n1"))
    big = (bigrams.groupBy("w1", "w2")
           .agg(F.count(F.lit(1)).alias("n_pair"))
           .filter(F.col("n_pair") >= min_count))
    nb = bigrams.agg(F.count(F.lit(1)).alias("nb"))
    c1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    c2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    ratio = ((F.col("n_pair").cast("double") * F.col("n1") * F.col("n1"))
             / (F.col("nb").cast("double") * F.col("c1") * F.col("c2")))
    scored = (big.join(c1, "w1").join(c2, "w2")
              .crossJoin(F.broadcast(n1)).crossJoin(F.broadcast(nb))
              .select("w1", "w2", "n_pair",
                      F.round(ratio, 6).alias("pmi_ratio")))
    top = scored.orderBy(F.col("pmi_ratio").desc(), F.col("w1").asc(),
                         F.col("w2").asc()).limit(k)
    w = Window.orderBy(F.col("pmi_ratio").desc(), F.col("w1").asc(),
                       F.col("w2").asc())
    return (top.withColumn("rank", F.row_number().over(w))
            .select("w1", "w2", "n_pair", "pmi_ratio", "rank"))


# -- hashed-feature linear classifier ------------------------------------------

def classifier_score(df: DataFrame, *, text_col: str = "text",
                     id_col: str = "doc_id", dims: int = 1_000_003,
                     out_col: str = "clf_score") -> DataFrame:
    """Hashed-feature linear text classifier — the fastText/VW shape
    (Weinberger et al. 2009 feature hashing; Joulin et al. 2016): each
    token is hashed into one of ``dims`` buckets, each bucket carries a
    weight, and the document score is the mean bucket weight. Returns
    (id, n_tokens, clf_score, keep).

    The weight table here is the deterministic identity embedding
    w(bucket) = bucket/dims - 0.5 in [-0.5, 0.5) — the seam where a
    trained model's weights would plug in as a broadcast array literal or
    a map-side join against a ``dims``-row weight frame; the execution
    shape (and the 100 TB cost) is identical either way.

    Scale shape: ZERO shuffle — the token hash, bucket lookup, and mean
    fold all happen inside one row-local ``transform``/``aggregate``
    expression chain (whole-stage codegen), so scoring a 100 TB corpus is
    a map-only scan. The mean is computed from an exact integer sum with
    integer round-half-up (see repetition_stats), bit-identical across
    engines."""
    from vivace_graph_v3_spark.pipeline.dedup import md5_hash64

    toks = tokens(F.col(text_col))
    feats = F.transform(toks, lambda t: F.pmod(md5_hash64(t), F.lit(dims)))
    base = df.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("__n"),
        F.aggregate(feats, F.lit(0).cast("long"),
                    lambda acc, x: acc + x).alias("__s"))
    # round(sum/(n*dims), 6) - 0.5, all-integer until the final /1e6
    k = F.expr(f"(__s * 2000000 + __n * {dims}L) div (__n * {dims}L * 2)")
    score = F.when(F.col("__n") > 0,
                   k.cast("double") / F.lit(1_000_000.0) - F.lit(0.5)
                   ).otherwise(F.lit(0.0))
    return base.select(
        F.col(id_col), F.col("__n").alias("n_tokens"),
        score.alias(out_col),
        (score > 0).alias("keep"))


# -- vocabulary induction / coverage -------------------------------------------

def vocab_topn(df: DataFrame, *, text_col: str = "text",
               vocab_size: int = 500) -> DataFrame:
    """Top-N vocabulary by corpus frequency with a deterministic
    (count desc, word asc) tie-break — the first step of tokenizer/vocab
    training. The count table is a map-side-combined aggregate bounded by
    |vocab|; the top-N is orderBy+limit, which Spark executes as
    TakeOrderedAndProject (per-partition partial top-N merged on one
    reducer over N·P rows), never a global sort of the vocabulary."""
    words = (ensure_parallelism(df)
             .select(F.explode(tokens(F.col(text_col))).alias("w")))
    counts = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    return (counts.orderBy(F.col("c").desc(), F.col("w").asc())
            .limit(vocab_size))


def vocab_coverage(df: DataFrame, *, text_col: str = "text",
                   source_col: str = "source",
                   vocab_size: int = 500) -> DataFrame:
    """Out-of-vocabulary rate per source against the corpus top-N
    vocabulary — the coverage diagnostic run before freezing a tokenizer
    (a source whose OOV rate is high will fragment into byte-level
    tokens). Returns (source, n_tokens, n_oov, oov_rate).

    Scale shape: the vocabulary is N rows by construction, so the
    membership join is an explicit ``broadcast`` (the one case where a
    forced broadcast is size-safe at any corpus scale); the word stream
    is never shuffled except for the final per-source aggregate, which
    map-side-combines down to |sources| rows. The rate uses the integer
    round-half-up from repetition_stats (engine-stable)."""
    words = (ensure_parallelism(df)
             .select(F.col(source_col).alias("source"),
                     F.explode(tokens(F.col(text_col))).alias("w")))
    vocab = (vocab_topn(df, text_col=text_col, vocab_size=vocab_size)
             .select("w", F.lit(1).alias("__in")))
    joined = words.join(F.broadcast(vocab), "w", "left")
    agg = (joined.groupBy("source")
           .agg(F.count(F.lit(1)).cast("long").alias("n_tokens"),
                F.sum(F.when(F.col("__in").isNull(), 1).otherwise(0))
                .cast("long").alias("n_oov")))
    rate = F.expr("(n_oov * 2000000 + n_tokens) div (n_tokens * 2)") \
        .cast("double") / F.lit(1_000_000.0)
    return agg.select("source", "n_tokens", "n_oov", rate.alias("oov_rate"))


def distinctive_terms(df: DataFrame, *, text_col: str = "text",
                      group_col: str = "source", k: int = 5,
                      min_count: int = 5) -> DataFrame:
    """Top-k distinctive terms per group by class-based TF-IDF — the
    cluster-labeling statistic of BERTopic-style corpus exploration
    (Grootendorst 2022): score(w, g) = tf(w in g) * N_total /
    (tf_g_total * tf(w overall)), i.e. how over-represented w is in g
    versus the corpus. Ranking by the ratio form keeps the arithmetic a
    fixed-order IEEE multiply/divide chain (no transcendental log — same
    rationale as collocations_pmi). Returns (group, term, n, score, rank).

    Scale shape: both count tables are map-side-combined aggregates
    bounded by |vocab| (x |groups| for the per-group one); the scoring
    join is vocab-sized; per-group top-k is a rank window over the
    already-aggregated (group, term) frame — never corpus-sized."""
    words = (ensure_parallelism(df)
             .select(F.col(group_col).alias("group"),
                     F.explode(tokens(F.col(text_col))).alias("w")))
    per_group = (words.groupBy("group", "w")
                 .agg(F.count(F.lit(1)).alias("n"))
                 .filter(F.col("n") >= min_count))
    overall = words.groupBy("w").agg(F.count(F.lit(1)).alias("n_all"))
    g_tot = words.groupBy("group").agg(F.count(F.lit(1)).alias("g_total"))
    n_tot = words.agg(F.count(F.lit(1)).alias("n_total"))
    score = (F.col("n").cast("double") * F.col("n_total")
             / (F.col("g_total").cast("double") * F.col("n_all")))
    scored = (per_group.join(overall, "w").join(F.broadcast(g_tot), "group")
              .crossJoin(F.broadcast(n_tot))
              .select("group", F.col("w").alias("term"), "n",
                      F.round(score, 6).alias("score")))
    w_rank = Window.partitionBy("group").orderBy(
        F.col("score").desc(), F.col("term").asc())
    return (scored.withColumn("rank", F.row_number().over(w_rank))
            .filter(F.col("rank") <= k))


def bigram_logprob(df: DataFrame, *, text_col: str = "text",
                   id_col: str = "doc_id",
                   lam: float = 0.75) -> DataFrame:
    """Corpus-self-trained INTERPOLATED bigram negative log-probability per
    document — the stronger LM-based quality proxy (the KenLM-filtering
    shape used by CCNet/ROOTS-class pipelines, here trained on the corpus
    itself so no external model is needed):

        p(w2|w1) = lam * c(w1 w2)/c(w1) + (1-lam) * c(w2)/N

    Returns (id, n_bigrams, avg_neg_logp2); fluent/templated text scores
    low, noise scores high. ``lam``'s default 0.75 is an exact binary
    fraction, so the interpolation arithmetic is engine-exact; log2 is
    evaluated per distinct probability value and the per-doc mean
    accumulates in decimal (the unigram_logprob convention).

    Scale shape: both count tables are map-side-combined aggregates —
    unigrams |vocab|-bounded, bigrams bounded by DISTINCT OBSERVED pairs
    (Zipf-small relative to the corpus); the scoring joins key the
    corpus's bigram stream against those aggregated frames and nothing
    else. At 100 TB the count frames are ingest-time artifacts exactly
    like Bm25Index."""
    toks = tokens(F.col(text_col))
    base = (ensure_parallelism(df)
            .select(F.col(id_col).alias("id"), toks.alias("x"))
            .filter(F.size("x") >= 2))
    bigrams = (base.select(
        "id",
        F.explode(F.zip_with(
            F.slice(F.col("x"), 1, F.size("x") - 1),
            F.slice(F.col("x"), 2, F.size("x") - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))).alias("p"))
        .select("id", "p.w1", "p.w2"))
    uni = (ensure_parallelism(df)
           .select(F.explode(tokens(F.col(text_col))).alias("w"))
           .groupBy("w").agg(F.count(F.lit(1)).alias("c")))
    n_tot = uni.agg(F.sum("c").alias("n"))
    big = (bigrams.groupBy("w1", "w2")
           .agg(F.count(F.lit(1)).alias("c12")))
    c1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    c2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    p = (F.lit(lam) * F.col("c12") / F.col("c1")
         + F.lit(1.0 - lam) * F.col("c2") / F.col("n"))
    scored = (bigrams.join(big, ["w1", "w2"]).join(c1, "w1").join(c2, "w2")
              .crossJoin(F.broadcast(n_tot))
              .select("id", (-F.log2(p)).alias("nlp")))
    return (scored.groupBy("id")
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 F.round(F.sum(F.col("nlp").cast("decimal(38,12)"))
                         .cast("double") / F.count(F.lit(1)), 6)
                 .alias("avg_neg_logp2")))


def quality_gate(df: DataFrame, *, text_col: str = "text",
                 id_col: str = "doc_id", source_col: str = "source",
                 keep_pct: int = 75) -> DataFrame:
    """Per-source quality gate: keep the top ``keep_pct`` percent of each
    source's documents by classifier score — the composition a curation
    pipeline actually ships (score -> per-stratum percentile cut, so one
    noisy source cannot crowd out the rest of the mix). Returns the kept
    (doc_id, source, clf_score, n_tokens).

    The cut is all-integer rank arithmetic over the 6-decimal score with
    id tie-break (rank*100 <= count*keep_pct), the embedding_outliers
    convention — engine-exact, no percentile interpolation. The rank
    window hash-partitions by source (strata are numerous and balanced in
    a real mix; an extreme stratum can swap in a sketch threshold, same
    caveat as label_centroid_outliers)."""
    scored = classifier_score(df.select(id_col, source_col, text_col),
                              text_col=text_col, id_col=id_col)
    scored = scored.join(df.select(id_col, source_col), id_col)
    w = Window.partitionBy(source_col).orderBy(
        F.col("clf_score").desc(), F.col(id_col).asc())
    cnt = Window.partitionBy(source_col)
    return (scored
            .withColumn("__keep",
                        F.row_number().over(w) * 100
                        <= F.count(F.lit(1)).over(cnt) * keep_pct)
            .filter(F.col("__keep"))
            .select(id_col, source_col, "clf_score", "n_tokens"))


def span_corruption(df: DataFrame, *, text_col: str = "text",
                    id_col: str = "doc_id", rate_pct: int = 15) -> DataFrame:
    """T5-style span-corruption objective construction (Raffel et al.
    2020 §3.1.4): deterministically mask ~``rate_pct``% of tokens (a
    content-keyed hash decides each position, so the sample is
    reproducible across runs/engines/partitionings), collapse each
    contiguous masked run into one ``<extra_id_K>`` sentinel in the
    inputs, and emit the masked spans behind their sentinels as the
    target. Returns (doc_id, n_tokens, n_masked, inputs, targets).

    Scale shape: ZERO shuffle — mask decisions, run grouping, and both
    output strings are built by one row-local ``aggregate`` fold over
    the token array (whole-stage codegen), the same map-only profile as
    classifier_score. The 100 TB objective-construction pass is a plain
    scan. Cost note: the fold re-copies its accumulator arrays, so work
    is O(L^2) array elements per document — negligible at chunk-sized L
    (a 4k-token chunk is ~8M element moves) but run AFTER chunk_tokens,
    not on mile-long raw documents."""
    from vivace_graph_v3_spark.pipeline.dedup import md5_hash64

    toks = tokens(F.col(text_col))
    n = F.size(toks)
    idx = F.sequence(F.lit(1), n)

    def masked(i):
        h = md5_hash64(F.concat(F.col(id_col).cast("string"), F.lit(":"),
                                i.cast("string")))
        return F.pmod(h, F.lit(100)) < F.lit(rate_pct)

    pairs = F.zip_with(toks, idx,
                       lambda t, i: F.struct(t.alias("t"),
                                             masked(i).alias("m")))
    empty = F.array().cast("array<string>")
    init = F.struct(empty.alias("inp"), empty.alias("tgt"),
                    F.lit(0).alias("k"), F.lit(False).alias("prev"))

    def step(acc, x):
        sent = F.concat(F.lit("<extra_id_"), acc["k"].cast("string"),
                        F.lit(">"))
        new_run = x["m"] & ~acc["prev"]
        inp = F.when(x["m"] & acc["prev"], acc["inp"]) \
            .when(x["m"], F.concat(acc["inp"], F.array(sent))) \
            .otherwise(F.concat(acc["inp"], F.array(x["t"])))
        tgt = F.when(new_run, F.concat(acc["tgt"], F.array(sent, x["t"]))) \
            .when(x["m"], F.concat(acc["tgt"], F.array(x["t"]))) \
            .otherwise(acc["tgt"])
        return F.struct(inp.alias("inp"), tgt.alias("tgt"),
                        (acc["k"] + new_run.cast("int")).alias("k"),
                        x["m"].alias("prev"))

    folded = F.aggregate(pairs, init, step)
    n_masked = F.size(F.filter(pairs, lambda x: x["m"]))
    return df.select(
        F.col(id_col), n.cast("long").alias("n_tokens"),
        n_masked.cast("long").alias("n_masked"),
        F.array_join(folded["inp"], " ").alias("inputs"),
        F.array_join(folded["tgt"], " ").alias("targets"))


def decontaminated_split(df: DataFrame, *, text_col: str = "text",
                         id_col: str = "doc_id", val_pct: int = 5,
                         test_pct: int = 5, n: int = 5,
                         min_common: int = 1) -> DataFrame:
    """Leakage-safe dataset split: assign deterministic train/val/test
    buckets (dataset_split), then EVICT from train every document that
    shares an n-gram shingle with any val/test document — the combined
    split+decontamination step that keeps held-out sets honest (a train
    doc that near-quotes an eval doc inflates eval scores exactly like
    benchmark contamination). Returns (doc_id, split) where evicted train
    docs are labeled 'quarantined' (dropping them silently would hide the
    leakage rate; callers filter split == 'train').

    Scale shape: the split is map-only; the eviction is
    ngram_contamination's join — the val/test shingle set is eval-sized,
    so AQE broadcasts it and the corpus is never shuffled by shingle."""
    from vivace_graph_v3_spark.pipeline.dedup import ngram_contamination

    labeled = dataset_split(df, key_col=id_col, val_pct=val_pct,
                            test_pct=test_pct)
    held = labeled.filter(F.col("split") != "train") \
        .select(id_col, text_col)
    train = labeled.filter(F.col("split") == "train")
    contaminated = ngram_contamination(
        train.select(id_col, text_col), held, text_col=text_col,
        id_col=id_col, n=n, min_common=min_common) \
        .select(F.col("id").alias(id_col))
    quarantined = train.join(contaminated, id_col, "left_semi") \
        .select(id_col, F.lit("quarantined").alias("split"))
    clean_train = train.join(contaminated, id_col, "left_anti") \
        .select(id_col, F.col("split"))
    return (labeled.filter(F.col("split") != "train")
            .select(id_col, "split")
            .unionByName(clean_train).unionByName(quarantined))


def grid_quantile_gate(df: DataFrame, *, quality_col: str = "quality",
                       group_col: str = "source",
                       drop_pct: int = 25) -> DataFrame:
    """Per-group adaptive quality threshold via an EXACT grid quantile:
    drop each group's bottom ``drop_pct`` percent by quality. Returns one
    row per group: (group, n_docs, n_kept, threshold), where threshold is
    the k-th smallest quality (k = ceil(drop_pct% * n)) and kept rows are
    those with quality >= threshold.

    Scale contrast with quality_gate: that operator ranks ROWS inside a
    per-source window — fine when strata are balanced, row-bounded when
    one source is corpus-sized. Here the quantile is computed over the
    VALUE GRID instead: quality is 6-decimal rounded, so per-(group,
    value) counts map-side combine the corpus away and the cumulative
    window runs over at most 1e6+1 distinct values per group (the
    ks_drift shape) — exact, sketch-free, and safe when a single stratum
    holds 10^10 rows. All rank arithmetic is integer (rank*100 vs
    n*drop_pct convention), no percentile interpolation."""
    g, q = F.col(group_col), F.col(quality_col)
    counts = (df.groupBy(g.alias("g"), q.alias("q"))
              .agg(F.count(F.lit(1)).alias("c")))
    totals = counts.groupBy("g").agg(F.sum("c").alias("n"))
    wg = (Window.partitionBy("g").orderBy("q")
          .rowsBetween(Window.unboundedPreceding, 0))
    cum = counts.withColumn("cum", F.sum("c").over(wg))
    # k = ceil(n * drop_pct / 100), at least 1 when the group is non-empty
    thr = (cum.join(totals, "g")
           .filter(F.col("cum") * 100 >= F.col("n") * drop_pct)
           .groupBy("g")
           .agg(F.min("q").alias("threshold"), F.any_value("n").alias("n")))
    kept = (df.join(thr.select(F.col("g").alias(group_col), "threshold"),
                    group_col)
            .filter(q >= F.col("threshold"))
            .groupBy(g.alias("g"))
            .agg(F.count(F.lit(1)).alias("n_kept")))
    return (thr.join(kept, "g")
            .select(F.col("g").alias(group_col),
                    F.col("n").cast("long").alias("n_docs"),
                    F.col("n_kept").cast("long").alias("n_kept"),
                    "threshold"))


def doc_keywords(df: DataFrame, *, text_col: str = "text",
                 id_col: str = "doc_id", k: int = 3,
                 min_len: int = 4) -> DataFrame:
    """Top-k keywords per document by tf-idf with the LINEAR idf ratio:
    score(w, d) = tf(w, d) * N_docs / df(w) — the per-document companion
    to distinctive_terms' class-based variant, and the cheapest useful
    keyword extractor for corpus triage/routing. The ratio form (no
    transcendental log) keeps the score a fixed-order IEEE
    multiply/divide chain, deterministic in any engine; the ranking it
    induces favors the same rare-but-frequent-here terms. Tokens shorter
    than ``min_len`` chars are dropped (articles/particles dominate
    otherwise). Returns (id, term, tf, score, rank), rank 1..k with
    (score desc, term asc) tie-break.

    Scale shape: tf is a map-side-combined (doc, term) aggregate; df is
    vocab-bounded; the scoring join shuffles the (doc, term) frame on the
    term — O(corpus tokens), one shuffle more than a pure scan and never
    quadratic. Per-doc top-k is a rank window over (doc, term) counts,
    doc-bounded."""
    words = (ensure_parallelism(df)
             .select(F.col(id_col).alias("id"),
                     F.explode(F.transform(tokens(F.col(text_col)), F.lower))
                     .alias("w"))
             .filter(F.length("w") >= min_len))
    tf = words.groupBy("id", "w").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (words.dropDuplicates()
             .groupBy("w").agg(F.count(F.lit(1)).alias("df")))
    n_docs = df.select(F.col(id_col)).dropDuplicates() \
        .agg(F.count(F.lit(1)).alias("n_docs"))
    score = (F.col("tf").cast("double") * F.col("n_docs") / F.col("df"))
    scored = (tf.join(dfreq, "w").crossJoin(F.broadcast(n_docs))
              .select("id", F.col("w").alias("term"), "tf",
                      F.round(score, 6).alias("score")))
    w_rank = Window.partitionBy("id").orderBy(
        F.col("score").desc(), F.col("term").asc())
    return (scored.withColumn("rank", F.row_number().over(w_rank))
            .filter(F.col("rank") <= k))


def sparse_dot_pairs(df: DataFrame, *, text_col: str = "text",
                     id_col: str = "doc_id", min_dot: int = 6,
                     df_cap: int = 200, top_k: int = 100) -> DataFrame:
    """Sparse lexical similarity pairs: documents scored by the integer dot
    product of their term-frequency vectors, generated through an inverted
    index (term-at-a-time self-join) — the sparse-vector complement of the
    dense embedding pair generators in pipeline/dedup.py.

    Terms with document frequency > df_cap are dropped before pairing
    (the DISCO/prefix-filter hub guard: a stopword-grade term in D docs
    would alone fan out D^2 candidate pairs); terms in a single doc
    cannot pair and are dropped too. Returns the deterministic top_k
    (doc_a, doc_b, dot) by dot desc then ids — all-BIGINT.

    Scale shape: tf and df are one map-side-combining aggregate each; the
    pair generator shuffles by TERM so each task sees one posting list,
    and the df cap bounds every list at df_cap entries -> at most
    df_cap^2/2 pairs per term regardless of corpus size. The final
    aggregate shuffles on the pair key. No all-pairs stage anywhere."""
    tf = (df.select(F.col(id_col).alias("d"),
                    F.explode(tokens(F.lower(F.col(text_col)))).alias("t"))
          .groupBy("d", "t").agg(F.count(F.lit(1)).alias("tf")))
    dfreq = (tf.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
             .filter((F.col("df") >= 2) & (F.col("df") <= df_cap)))
    posted = tf.join(dfreq.select("t"), "t")
    a = posted.select("t", F.col("d").alias("doc_a"), F.col("tf").alias("tfa"))
    b = posted.select("t", F.col("d").alias("doc_b"), F.col("tf").alias("tfb"))
    return (a.join(b, "t")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.sum(F.col("tfa") * F.col("tfb")).alias("dot"))
            .filter(F.col("dot") >= min_dot)
            .orderBy(F.desc("dot"), "doc_a", "doc_b")
            .limit(top_k))


def classifier_calibration(df: DataFrame, *, text_col: str = "text",
                           id_col: str = "doc_id", label_col: str = "lang",
                           positive: str = "en",
                           bins: int = 50) -> DataFrame:
    """Calibration table for the hashed-feature classifier above: scores
    bucketed into ``bins`` equal-width cells over [-0.5, 0.5) against a
    ground-truth label column — the reliability-diagram input an ML data
    pipeline checks before trusting a quality filter's threshold.

    Returns (bucket, n, n_pos, pos_ppm): bucket = floor((score+0.5)*bins)
    clamped to bins-1 (fixed-order IEEE arithmetic on the round-6 score,
    identical in any engine); pos_ppm = n_pos*1e6 div n in BIGINT.

    Scale shape: scoring is the map-only expression fold of
    classifier_score; the calibration table is ONE map-side-combining
    aggregate over a bins-bounded key — corpus volume only affects the
    scan."""
    scored = classifier_score(df.select(F.col(id_col), F.col(text_col),
                                        F.col(label_col)),
                              text_col=text_col, id_col=id_col)
    labeled = scored.join(df.select(id_col, label_col), id_col)
    bucket = F.least(F.floor((F.col("clf_score") + 0.5) * bins).cast("long"),
                     F.lit(bins - 1))
    return (labeled
            .groupBy(bucket.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.when(F.col(label_col) == positive, 1).otherwise(0))
                 .alias("n_pos"))
            .select("bucket", "n", "n_pos",
                    F.expr("n_pos * 1000000 div n").alias("pos_ppm")))


def vocab_growth(df: DataFrame, *, text_col: str = "text",
                 id_col: str = "doc_id", bucket: int = 50) -> DataFrame:
    """Heaps-law vocabulary growth curve: cumulative distinct vocabulary
    and token volume after each ``bucket`` of documents in id order —
    the diagnostic that tells a tokenizer/dedup pipeline whether a
    corpus's vocabulary is saturating (duplicated crawls flatten early;
    fresh domains keep climbing, Heaps 1978).

    Exact and shuffle-light: a token's contribution to the curve is its
    FIRST-occurrence document, so the corpus reduces to one min()
    aggregate per distinct token (vocab-bounded), then a cumulative sum
    over the bucket grid. Token volume is a per-bucket count. No window
    ever touches corpus-sized data.

    Returns (bucket_end, n_docs, cum_tokens, cum_vocab): buckets are
    over the doc-ID VALUE grid (bucket_end = ceil(id/bucket)*bucket),
    not a global rank — ranking would need a corpus-sized sort window,
    while value bucketing is map-only (ingest order and id order
    coincide in append-only corpora, which is what the curve means)."""
    based = (df.select(F.col(id_col).cast("long").alias("r"),
                       tokens(F.col(text_col)).alias("ws")))
    w = based.select("r", F.explode("ws").alias("w"))
    b = F.expr(f"((r + {bucket - 1}L) div {bucket}L) * {bucket}L")
    first = (w.groupBy("w").agg(F.min("r").alias("fr"))
             .select(F.expr(f"((fr + {bucket - 1}L) div {bucket}L) "
                            f"* {bucket}L").alias("b"))
             .groupBy("b").agg(F.count(F.lit(1)).alias("new_vocab")))
    toks = (w.select(b.alias("b"))
            .groupBy("b").agg(F.count(F.lit(1)).alias("n_tok")))
    docs = (based.select(b.alias("b"))
            .groupBy("b").agg(F.count(F.lit(1)).alias("n_docs")))
    wb = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    return (docs.join(toks, "b", "left").join(first, "b", "left")
            .select(F.col("b").alias("bucket_end"),
                    F.sum("n_docs").over(wb).cast("long").alias("n_docs"),
                    F.sum(F.coalesce("n_tok", F.lit(0))).over(wb)
                    .cast("long").alias("cum_tokens"),
                    F.sum(F.coalesce("new_vocab", F.lit(0))).over(wb)
                    .cast("long").alias("cum_vocab")))


def zipf_slope(df: DataFrame, *, text_col: str = "text",
               top_n: int = 500) -> DataFrame:
    """Zipf rank-frequency fit over the corpus vocabulary: least-squares
    slope of ln(freq) on ln(rank) for the ``top_n`` most frequent types —
    the one-number corpus health check (natural text ~ -1; templated or
    spam-heavy corpora bend far from it; a shifted slope between two
    snapshots means the token distribution moved).

    slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2) with x = ln(rank),
    y = ln(freq). Ranks come from a window over the VOCAB-BOUNDED
    (type, count) aggregate — one corpus-sized map-side-combined pass,
    then |vocab| rows; ties rank by (count desc, word asc) so the fit is
    deterministic. ln per row in IEEE doubles, the four sums accumulate
    in DECIMAL(38,12) (order-independent), slope rounded to 6.

    Returns one row: (n_types, n_tokens_top, zipf_slope)."""
    freq = (ensure_parallelism(df)
            .select(F.explode(tokens(F.col(text_col))).alias("w"))
            .groupBy("w").agg(F.count(F.lit(1)).alias("c")))
    w = Window.partitionBy(F.lit(1)).orderBy(
        F.col("c").desc(), F.col("w").asc())
    ranked = (freq.withColumn("r", F.row_number().over(w))
              .filter(F.col("r") <= top_n))
    x = F.log(F.col("r").cast("double"))
    y = F.log(F.col("c").cast("double"))
    sums = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").cast("long").alias("n_tokens_top"),
        F.sum(x.cast("decimal(38,12)")).alias("sx"),
        F.sum(y.cast("decimal(38,12)")).alias("sy"),
        F.sum((x * y).cast("decimal(38,12)")).alias("sxy"),
        F.sum((x * x).cast("decimal(38,12)")).alias("sxx"))
    # fold in DOUBLES after the order-independent decimal sums: decimal
    # multiply would force engine-specific precision/scale clamping,
    # while double x double is IEEE-identical everywhere
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    n = F.col("n").cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return sums.select(F.col("n").cast("long").alias("n_types"),
                       "n_tokens_top",
                       F.round(slope, 6).alias("zipf_slope"))


def curriculum_order(df: DataFrame, *, score_col: str,
                     source_col: str = "source",
                     id_col: str = "doc_id") -> DataFrame:
    """Deterministic curriculum ordering for training-data feeding:
    rank documents WITHIN each source by (score desc, id), then
    interleave sources round-robin by rank — so the training stream
    sees the best examples of every source first, with no source
    monopolizing any window of the schedule (the data-ordering /
    source-interleaving step of a curriculum or annealing recipe).

    curriculum_rank = dense global position of (src_rank, source, id) —
    all ties broken, fully reproducible.

    Scale shape: one window shuffle keyed by source for src_rank; the
    global interleave rank is a second window over (src_rank, source) —
    at scale that global row_number is replaced by writing out sorted by
    (src_rank, source, id) (repartitionByRange + sortWithinPartitions,
    the zorder_write_plan pattern); the contract keeps the explicit rank
    column so the order itself is oracle-checked."""
    ws = Window.partitionBy(source_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc())
    ranked = df.select(id_col, source_col, score_col) \
        .withColumn("src_rank", F.row_number().over(ws))
    wg = Window.partitionBy(F.lit(1)).orderBy(
        "src_rank", source_col, id_col)
    return (ranked.withColumn("curriculum_rank",
                              F.row_number().over(wg))
            .select(id_col, source_col,
                    F.col("src_rank").cast("long").alias("src_rank"),
                    F.col("curriculum_rank").cast("long")
                    .alias("curriculum_rank")))


def train_logreg(df: DataFrame, *, text_col: str = "text",
                 label_col: str = "y", id_col: str = "doc_id",
                 buckets: int = 32, steps: int = 2,
                 lr: float = 0.5) -> DataFrame:
    """Distributed training of a hashed-feature LOGISTIC REGRESSION
    quality classifier — full-batch gradient descent, the trainable
    counterpart of classifier_score's fixed-weight seam:

        p   = sigmoid(x . w)            (per doc)
        g_b = sum_docs (p - y) * tf_b / n
        w_b <- round(w_b - lr * g_b, 6)

    Determinism is engineered at every step: features are the md5-64
    token hash pmod ``buckets`` (the cross-engine classifier_score
    convention) plus a bias bucket -1; per-doc scores and per-bucket
    gradients accumulate term-wise in DECIMAL(38,12)
    (order-independent); the sigmoid output and each weight update are
    rounded to 6 decimals, so the weight vector after every step is an
    exact 6-dp decimal both engines agree on — an oracle can replay the
    whole training run in staged SQL CTEs and match bit-for-bit.

    Scale shape: the corpus is touched once per step through a
    (doc, bucket, tf) frame (map-side-combined); the weight table
    (``buckets``+1 rows) broadcasts into the score join and comes back
    to the driver once per step as plan-time literals for the next —
    the train_centroids / bpe_learn_merges seam; lr defaults to an
    exact binary fraction. Returns the final (bucket, w) frame."""
    from vivace_graph_v3_spark.pipeline.dedup import md5_hash64

    toks = tokens(F.col(text_col))
    tf = (df.select(F.col(id_col).alias("id"),
                    F.col(label_col).cast("int").alias("y"),
                    F.explode(toks).alias("t"))
          .select("id", "y",
                  F.pmod(md5_hash64(F.col("t")), F.lit(buckets)).alias("b"))
          .groupBy("id", "y", "b").agg(F.count(F.lit(1)).alias("tf")))
    bias = df.select(F.col(id_col).alias("id"),
                     F.col(label_col).cast("int").alias("y"),
                     F.lit(-1).alias("b"), F.lit(1).alias("tf"))
    with materialized() as m:
        x, _ = m.checkpoint(tf.unionByName(bias))
        n = df.count()
        all_b = [-1] + list(range(buckets))
        w = {b: 0.0 for b in all_b}
        spark = df.sparkSession
        for _ in range(steps):
            wmap = F.create_map(*[F.lit(v) for b_ in all_b
                                  for v in (b_, w[b_])])
            z = (x.groupBy("id", "y")
                 .agg(F.sum((F.col("tf") * F.element_at(wmap, F.col("b")))
                            .cast("decimal(38,12)")).alias("zd")))
            p = z.select("id", "y",
                         F.round(F.lit(1.0) / (F.lit(1.0)
                                 + F.exp(-F.col("zd").cast("double"))), 6)
                         .alias("p"))
            grad = (x.join(p.select("id", "p"), "id")
                    .groupBy("b")
                    .agg(F.sum(((F.col("p") - F.col("y")) * F.col("tf"))
                               .cast("decimal(38,12)")).alias("s")))
            upd = grad.select(
                "b",
                F.round(F.element_at(wmap, F.col("b"))
                        - F.lit(lr) * (F.col("s").cast("double") / F.lit(n)),
                        6).alias("w"))
            rows = upd.collect()
            hit = {r["b"]: (r["w"] or 0.0) for r in rows}
            # buckets never hit by any token keep their previous weight in
            # the working vector (needed for element_at next step) ...
            w = {b_: hit.get(b_, w[b_]) for b_ in all_b}
        # ... but only TRAINED buckets (ones that received gradient — i.e.
        # appeared in the feature frame) are emitted: an absent feature has
        # no learned weight, and scoring treats missing buckets as 0
        return spark.createDataFrame(
            sorted(hit.items()), "bucket int, w double")


def dataset_card(df: DataFrame, *, text_col: str = "text",
                 source_col: str = "source", lang_col: str = "lang",
                 id_col: str = "doc_id") -> DataFrame:
    """Per-source dataset card — the one-table summary a corpus release
    ships with: document/char/token volumes, English share, exact-dup
    rate, and source vocabulary size. Composes the subsystems a real
    card draws on (token counting, fingerprint dedup, vocab induction)
    into one oracle-checkable report.

    Scale shape: three map-side-combined aggregates over one corpus
    scan each — (source) volumes, (fingerprint) dup classes joined back
    source-bounded, (source, token) vocab counts — all reduced to
    |sources|-row frames before the final broadcast joins."""
    from vivace_graph_v3_spark.pipeline.dedup import md5_hash64

    toks = tokens(F.col(text_col))
    base = df.select(F.col(source_col).alias("src"),
                     F.col(lang_col).alias("lang"),
                     F.length(text_col).alias("n_chars"),
                     F.size(toks).alias("n_toks"),
                     md5_hash64(F.col(text_col)).alias("fp"))
    vols = (base.groupBy("src")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").cast("long").alias("n_chars"),
                 F.sum("n_toks").cast("long").alias("n_tokens"),
                 F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
                 .alias("n_en")))
    dup_classes = (base.groupBy("fp")
                   .agg(F.count(F.lit(1)).alias("cnt"))
                   .filter(F.col("cnt") > 1))
    dups = (base.join(F.broadcast(dup_classes), "fp", "left_semi")
            .groupBy("src").agg(F.count(F.lit(1)).alias("dup_docs")))
    vocab = (df.select(F.col(source_col).alias("src"),
                       F.explode(toks).alias("t"))
             .groupBy("src")
             .agg(F.countDistinct("t").alias("vocab_size")))
    en_ppm = F.expr("(n_en * 2000000 + n_docs) div (n_docs * 2)")
    dup_ppm = F.expr("(coalesce(dup_docs, 0) * 2000000 + n_docs)"
                     " div (n_docs * 2)")
    return (vols.join(dups, "src", "left").join(vocab, "src", "left")
            .select(F.col("src").alias(source_col),
                    F.col("n_docs").cast("long").alias("n_docs"),
                    "n_chars", "n_tokens",
                    en_ppm.cast("long").alias("en_ppm"),
                    F.coalesce(F.col("dup_docs"), F.lit(0)).cast("long")
                    .alias("dup_docs"),
                    dup_ppm.cast("long").alias("dup_ppm"),
                    F.coalesce(F.col("vocab_size"), F.lit(0)).cast("long")
                    .alias("vocab_size")))


def readability_stats(df: DataFrame, *, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Flesch reading-ease per document with a DETERMINISTIC syllable
    heuristic — the classic curation-time difficulty signal (used to
    stratify corpora by complexity, e.g. educational-content filters).

    score = 206.835 - 1.015*(words/sentences) - 84.6*(syllables/words)

    Heuristics, all expression-only and engine-mirrorable:
    - sentences: runs of [.!?] (min 1 so headlines don't divide by zero)
    - syllables: vowel-group count [aeiouy]+ over the lowercased text,
      plus 1 for each vowel-less word (every word sounds at least once)

    The score is a chain of IEEE double div/mul/sub over exact integers
    — bit-identical in any IEEE-754 engine, no libm calls. Banding
    thresholds compare those stable doubles. Map-only; no shuffle."""
    text = F.col(text_col)
    toks = tokens(text)
    n_words = F.size(toks)
    n_sent = F.greatest(
        F.size(F.regexp_extract_all(text, F.lit(r"[.!?]+"), F.lit(0))),
        F.lit(1))
    vgroups = F.size(F.regexp_extract_all(F.lower(text),
                                          F.lit(r"[aeiouy]+"), F.lit(0)))
    novowel = F.size(F.filter(
        toks, lambda w: ~w.rlike("[aeiouyAEIOUY]")))
    n_syl = vgroups + novowel
    wps = n_words.cast("double") / n_sent.cast("double")
    spw = n_syl.cast("double") / n_words.cast("double")
    flesch = (F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw)
    return (df.filter(n_words > 0)
            .select(F.col(id_col),
                    n_words.cast("long").alias("n_words"),
                    n_sent.cast("long").alias("n_sentences"),
                    n_syl.cast("long").alias("n_syllables"),
                    flesch.alias("flesch"),
                    F.when(flesch >= 60.0, "easy")
                    .when(flesch >= 30.0, "medium")
                    .otherwise("hard").alias("band")))


def tokenizer_fertility(df: DataFrame, *, text_col: str = "text",
                        lang_col: str = "lang") -> DataFrame:
    """Tokenizer fertility per language: BPE-ish subtokens per whitespace
    word and characters per subtoken — the standard multilingual-tokenizer
    efficiency audit (a language with fertility 2x pays 2x context for the
    same text; see e.g. the XLM-R/BLOOM tokenizer analyses). Integer-ppm
    ratios over exact BIGINT sums; one map-side-combined aggregate."""
    text = F.col(text_col)
    per = df.select(
        F.col(lang_col).alias("lang"),
        F.size(tokens(text)).alias("w"),
        F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), F.lit(0)))
        .alias("b"),
        F.length(text).alias("ch"))
    agg = (per.groupBy("lang")
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum("w").alias("n_words"),
                F.sum("b").alias("n_bpe_tokens"),
                F.sum("ch").alias("n_chars")))
    return agg.select(
        "lang", "n_docs", "n_words", "n_bpe_tokens", "n_chars",
        F.expr("(n_bpe_tokens * 2000000 + n_words) div (n_words * 2)")
        .alias("fertility_ppm"),
        F.expr("(n_chars * 2000000 + n_bpe_tokens) div (n_bpe_tokens * 2)")
        .alias("chars_per_bpe_ppm"))


def preference_pairs(df: DataFrame, *, text_col: str = "text",
                     id_col: str = "doc_id",
                     source_col: str = "source") -> DataFrame:
    """DPO/RLHF-style preference-pair construction from a scalar quality
    signal: within each source, rank documents by the heuristic quality
    score (ties broken by id — fully deterministic), then pair rank i
    with rank (n - i + 1): best vs worst, second-best vs second-worst,
    floor(n/2) pairs per source, keeping only strictly-positive margins.
    This is the classifier-margin recipe for synthesizing preference
    data from unlabeled corpora when no human ranking exists.

    The margin is a subtraction of two 6-dp-stabilized doubles — engine
    stable. One window shuffle on source; the pairing is a self-join on
    the domain-bounded (source, rank) key. Returns
    (source, pair_rank, chosen_id, rejected_id, chosen_q, rejected_q,
    margin)."""
    scored = (with_quality_score(df, text_col=text_col)
              .select(F.col(id_col).alias("id"),
                      F.col(source_col).alias("src"), "quality"))
    w = Window.partitionBy("src").orderBy(F.col("quality").desc(),
                                          F.col("id").asc())
    ranked = (scored.withColumn("rn", F.row_number().over(w))
              .withColumn("cnt", F.count(F.lit(1))
                          .over(Window.partitionBy("src"))))
    top = (ranked.filter(F.col("rn") * 2 <= F.col("cnt"))
           .select("src", F.col("rn").alias("pair_rank"),
                   F.col("id").alias("chosen_id"),
                   F.col("quality").alias("chosen_q")))
    bot = (ranked.filter(F.col("rn") * 2 > F.col("cnt"))
           .select("src", (F.col("cnt") - F.col("rn") + 1).alias("pair_rank"),
                   F.col("id").alias("rejected_id"),
                   F.col("quality").alias("rejected_q")))
    return (top.join(bot, ["src", "pair_rank"])
            .withColumn("margin", F.col("chosen_q") - F.col("rejected_q"))
            .filter(F.col("margin") > 0)
            .select(F.col("src").alias(source_col), "pair_rank",
                    "chosen_id", "rejected_id", "chosen_q", "rejected_q",
                    "margin"))


def truncation_loss_curve(df: DataFrame, *, text_col: str = "text",
                          max_lens: tuple = (64, 128, 256, 512)) -> DataFrame:
    """Context-length planning table: for each candidate max sequence
    length L, what fraction of corpus tokens survives truncating every
    document at L, and how many documents get cut at all — the numbers
    that pick a pretraining context length / packing window. One
    map-side-combined aggregate over (doc x L) where L is a tiny literal
    grid (map-only explode, fanout |max_lens|). All integer; the kept
    share is exact ppm.

    Returns (max_len, n_docs, n_docs_truncated, kept_tokens,
    total_tokens, kept_ppm)."""
    n = F.size(tokens(F.col(text_col)))
    per = df.select(n.alias("n")).select(
        "n", F.explode(F.array(*[F.lit(int(l)) for l in max_lens]))
        .alias("max_len"))
    return (per.groupBy("max_len")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.when(F.col("n") > F.col("max_len"), 1)
                       .otherwise(0)).cast("long")
                 .alias("n_docs_truncated"),
                 F.sum(F.least(F.col("n"), F.col("max_len"))).cast("long")
                 .alias("kept_tokens"),
                 F.sum("n").cast("long").alias("total_tokens"))
            .withColumn("kept_ppm",
                        F.expr("(kept_tokens * 2000000 + total_tokens)"
                               " div (total_tokens * 2)")))


def _isqrt_col(x) -> Column:
    """Exact integer square root of a non-negative BIGINT column.

    floor(sqrt(double)) alone can be off by one when the true root sits
    within half an ulp of an integer; the two CASE adjustments repair
    both directions, so the result is the exact isqrt in ANY engine with
    a correctly-rounded double sqrt (Spark and DuckDB both) — no
    cross-engine float agreement is needed, which is what makes the
    temperature weights below oracle-exact. Exact for the full BIGINT
    range: the candidate clamps to isqrt(2^63-1) = 3037000499 and the
    upward probe is CASE-guarded behind that bound, so no intermediate
    square overflows even under ANSI arithmetic."""
    lim = 3037000499  # isqrt(2^63 - 1)
    s0 = F.least(F.floor(F.sqrt(x.cast("double"))).cast("long"),
                 F.lit(lim))
    s1 = s0 - F.when(s0 * s0 > x, F.lit(1)).otherwise(F.lit(0))
    return s1 + (F.when(s1 >= lim, F.lit(0))
                 .when((s1 + 1) * (s1 + 1) <= x, F.lit(1))
                 .otherwise(F.lit(0)))


def temperature_mix_weights(df: DataFrame, *, group_col: str = "lang",
                            text_col: str = "text") -> DataFrame:
    """Temperature-scaled multilingual sampling weights at alpha = 0.5 —
    the mC4/XLM-R exponentiated-share mix (Conneau et al. 2020 §5.1;
    Raffel et al. 2020 mC4) that upsamples low-resource groups:
    w_g ∝ n_g^alpha. alpha = 0.5 is the square root, which has an EXACT
    integer form (see _isqrt_col) — the one temperature where the mix
    table is engine-exact ppm arithmetic rather than transcendental pow.

    One map-side-combined aggregate over the corpus (group count is
    tiny — languages, not documents), then a broadcastable totals join:
    no shuffle beyond the group-by, no driver state; the shape is
    volume-independent at 100 TB.

    Returns (group, n_docs, n_tokens, raw_share_ppm, isqrt_tokens,
    weight_ppm) where weight_ppm is the alpha=0.5 sampling weight and
    raw_share_ppm the unscaled token share, both floor-ppm."""
    n = F.size(tokens(F.col(text_col))).cast("long")
    g = (df.select(F.col(group_col).alias("group"), n.alias("n"))
         .groupBy("group")
         .agg(F.count(F.lit(1)).alias("n_docs"),
              F.sum("n").cast("long").alias("n_tokens")))
    g = g.withColumn("isqrt_tokens", _isqrt_col(F.col("n_tokens")))
    tot = g.agg(F.sum("n_tokens").alias("tot_tokens"),
                F.sum("isqrt_tokens").alias("tot_isqrt"))
    return (g.crossJoin(F.broadcast(tot))
            .select("group", "n_docs", "n_tokens",
                    F.expr("n_tokens * 1000000 div tot_tokens")
                    .alias("raw_share_ppm"),
                    "isqrt_tokens",
                    F.expr("isqrt_tokens * 1000000 div tot_isqrt")
                    .alias("weight_ppm")))


def epoch_schedule(df: DataFrame, *, group_col: str = "source",
                   text_col: str = "text",
                   budget_multiplier_milli: int = 2000,
                   epoch_cap_milli: int = 4000) -> DataFrame:
    """Data-constrained epoch plan (Muennighoff et al. 2023, "Scaling
    Data-Constrained Language Models"): given a total training budget of
    ``budget_multiplier_milli``/1000 x the corpus's token count,
    allocate it across sources by the alpha=0.5 temperature weights and
    report how many EPOCHS of each source that implies — the planning
    table that says which sources will be repeated past the ~4-epoch
    point where repetition stops helping (the paper's R* knee), all in
    exact integer milli/ppm arithmetic.

    Same scale shape as temperature_mix_weights: one group-by plus a
    broadcast totals join.

    Returns (group, n_tokens, weight_ppm, alloc_tokens, epochs_milli,
    over_cap)."""
    w = temperature_mix_weights(df, group_col=group_col, text_col=text_col)
    tot = w.agg(F.sum("n_tokens").alias("tot_tokens"))
    return (w.crossJoin(F.broadcast(tot))
            .withColumn("alloc_tokens",
                        F.expr(f"tot_tokens * {int(budget_multiplier_milli)}"
                               " div 1000 * weight_ppm div 1000000"))
            .withColumn("epochs_milli",
                        F.expr("alloc_tokens * 1000 div n_tokens"))
            .withColumn("over_cap",
                        (F.col("epochs_milli")
                         > F.lit(int(epoch_cap_milli))).cast("boolean"))
            .select("group", "n_tokens", "weight_ppm", "alloc_tokens",
                    "epochs_milli", "over_cap"))


def kneser_ney_logprob(df: DataFrame, *, text_col: str = "text",
                       id_col: str = "doc_id",
                       discount: float = 0.75) -> DataFrame:
    """Corpus-self-trained KNESER-NEY bigram negative log-probability per
    document (Kneser & Ney 1995; the smoothing KenLM actually ships, one
    rung above bigram_logprob's simple interpolation):

        p(w2|w1) = (c(w1 w2) - D)/c(w1 .)
                   + (D * N1+(w1 .)/c(w1 .)) * N1+(. w2)/N1+(. .)

    where N1+ are distinct-continuation counts — the fix for "San
    Francisco" inflating p(Francisco | anything). D = 0.75 is an exact
    binary fraction and the expression is written with one fixed
    parenthesization mirrored by the oracle, so every double op is
    identical cross-engine; per-doc means decimal-accumulate (the
    bigram_logprob convention). Only observed bigrams are scored, where
    c >= 1 > D keeps the discounted term positive.

    Scale shape: identical to bigram_logprob — all count frames are
    map-side-combined aggregates bounded by |vocab| / distinct observed
    pairs; the continuation counts are two more distinct aggregates over
    the same bigram frame. Returns (id, n_bigrams, avg_neg_logp2_kn)."""
    toks = tokens(F.col(text_col))
    base = (ensure_parallelism(df)
            .select(F.col(id_col).alias("id"), toks.alias("x"))
            .filter(F.size("x") >= 2))
    bigrams = (base.select(
        "id",
        F.explode(F.zip_with(
            F.slice(F.col("x"), 1, F.size("x") - 1),
            F.slice(F.col("x"), 2, F.size("x") - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))).alias("p"))
        .select("id", "p.w1", "p.w2"))
    big = (bigrams.groupBy("w1", "w2")
           .agg(F.count(F.lit(1)).alias("c12")))
    ctot = big.groupBy("w1").agg(F.sum("c12").alias("c1"),
                                 F.count(F.lit(1)).alias("nf"))
    nback = big.groupBy("w2").agg(F.count(F.lit(1)).alias("nb"))
    ntypes = big.agg(F.count(F.lit(1)).alias("nt"))
    d = float(discount)
    p = ((F.col("c12") - F.lit(d)) / F.col("c1")
         + ((F.lit(d) * F.col("nf")) / F.col("c1"))
         * (F.col("nb") / F.col("nt")))
    scored = (bigrams.join(big, ["w1", "w2"]).join(ctot, "w1")
              .join(nback, "w2").crossJoin(F.broadcast(ntypes))
              .select("id", (-F.log2(p)).alias("nlp")))
    return (scored.groupBy("id")
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 F.round(F.sum(F.col("nlp").cast("decimal(38,12)"))
                         .cast("double") / F.count(F.lit(1)), 6)
                 .alias("avg_neg_logp2_kn")))


def ql_dirichlet_topk(df: DataFrame, query_terms: list[str], k: int = 20, *,
                      mu: float = 2000.0, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Query-likelihood retrieval with Dirichlet-prior smoothing (Ponte &
    Croft 1998; Zhai & Lafferty 2001) — the language-modeling ranker next
    to bm25_topk's probabilistic one:

        score(q, d) = sum_w log2((tf(w,d) + mu * cf(w)/N) / (dl(d) + mu))

    Candidates are documents matching >= 1 query term (the inverted-index
    slice, as in BM25); the smoothing contribution of their UNMATCHED
    query terms is folded in by a |q|-way candidate x term expansion with
    tf = 0 — required for correct ranking, cheap because |q| is a small
    literal. Scores decimal-accumulate per doc and round to 6 dp with doc
    id tiebreak; every double op uses one fixed parenthesization mirrored
    by the oracle. Count frames are vocab-/doc-bounded aggregates; top-k
    is TakeOrdered."""
    toks = tokens(F.col(text_col))
    w = (ensure_parallelism(df)
         .select(F.col(id_col).alias("id"), F.explode(toks).alias("w")))
    dl = w.groupBy("id").agg(F.count(F.lit(1)).alias("dl"))
    n_tot = w.agg(F.count(F.lit(1)).alias("n"))
    terms = [str(t) for t in query_terms]
    cf = (w.filter(F.col("w").isin(terms))
          .groupBy("w").agg(F.count(F.lit(1)).alias("cf")))
    tf = (w.filter(F.col("w").isin(terms))
          .groupBy("id", "w").agg(F.count(F.lit(1)).alias("tf")))
    cand = tf.select("id").distinct()
    qt = cand.crossJoin(
        F.broadcast(cf.sparkSession.createDataFrame(
            [(t,) for t in terms], "w string")))
    mu = float(mu)
    term = (F.log2((F.coalesce(F.col("tf"), F.lit(0))
                    + F.lit(mu) * (F.col("cf") / F.col("n")))
                   / (F.col("dl") + F.lit(mu)))
            .cast("decimal(38,12)"))
    scored = (qt.join(tf, ["id", "w"], "left")
              .join(cf, "w")
              .join(dl, "id")
              .crossJoin(F.broadcast(n_tot))
              .groupBy("id")
              .agg(F.round(F.sum(term).cast("double"), 6).alias("score")))
    rk = Window.orderBy(F.col("score").desc(), F.col("id").asc())
    return (scored.withColumn("rank", F.row_number().over(rk))
            .filter(F.col("rank") <= int(k))
            .select("id", "score", F.col("rank").cast("long").alias("rank")))


def negative_sampling_distribution(df: DataFrame, *, text_col: str = "text",
                                   top_k: int = 50) -> DataFrame:
    """word2vec/NCE negative-sampling distribution p(w) ∝ f(w)^(3/4)
    (Mikolov et al. 2013) in EXACT integer arithmetic: f^(3/4) is the
    integer 4th root of f^3, and nested exact isqrt gives exactly that —
    floor(sqrt(floor(sqrt(n)))) = floor(n^(1/4)) (a classical identity:
    both sides are the unique k with k^4 <= n < (k+1)^4). No
    transcendental pow, so the ppm weights are engine-exact. Domain:
    f < 2^21 keeps f^3 in BIGINT; past that, pre-aggregate counts to a
    capped grid or lift f^3 to DECIMAL (the ks_drift discipline).

    One vocab-bounded aggregate + a two-phase top-k; the distribution
    table is |top_k| rows — broadcast-sized for the sampling join a
    training pipeline runs. Returns (w, f, f_pow75, weight_ppm) for the
    ``top_k`` most frequent words (freq desc, w asc — deterministic)."""
    wf = (ensure_parallelism(df)
          .select(F.explode(tokens(F.col(text_col))).alias("w"))
          .groupBy("w").agg(F.count(F.lit(1)).alias("f")))
    top = (wf.orderBy(F.desc("f"), F.asc("w")).limit(int(top_k))
           .withColumn("f_pow75",
                       _isqrt_col(_isqrt_col(F.col("f") * F.col("f")
                                             * F.col("f")))))
    tot = top.agg(F.sum("f_pow75").alias("t"))
    return (top.crossJoin(F.broadcast(tot))
            .select("w", F.col("f").cast("long").alias("f"),
                    F.col("f_pow75").cast("long").alias("f_pow75"),
                    F.expr("f_pow75 * 1000000 div t").alias("weight_ppm")))


def rouge_l_pairs(df: DataFrame, *, text_col: str = "text",
                  id_col: str = "doc_id", group_col: str = "source",
                  n_tokens: int = 16) -> DataFrame:
    """ROUGE-L (longest-common-subsequence) overlap between adjacent
    documents of each group — the order-sensitive overlap metric next to
    the bag-of-ngram ones (Lin, "ROUGE: a package for automatic
    evaluation of summaries", ACL 2004 WAS): n-gram Jaccard treats
    'dog bites man' and 'man bites dog' as near-identical, LCS does not.

    The whole LCS DP is ONE Catalyst ``aggregate`` expression — no loop,
    no shuffle beyond the pairing join: fold token list A carrying the DP
    row over B as the accumulator (an int array), using the last-match
    recurrence LCS(i, j) = max(LCS(i-1, j), max over k <= j with
    b_k = a_i of LCS(i-1, k-1) + 1), which has no in-row dependency. Per
    row that is O(|A| * |B|^2) integer lambda ops on
    ``n_tokens``-bounded arrays — constant per pair, embarrassingly
    parallel, exact (pure integers; the oracle replays the identical
    fold as a recursive list-state CTE). Pairing: each doc against the
    next doc of the same ``group_col`` in ``id_col`` order (one window),
    giving a linear, deterministic pair list — the within-source overlap
    audit shape. Returns (id_a, id_b, len_a, len_b, lcs_len,
    rouge_l_f_ppm) with f_ppm = 2 * lcs * 1e6 div (len_a + len_b)."""
    toks = F.slice(tokens(F.col(text_col)), 1, n_tokens)
    base = df.select(F.col(id_col).alias("id"),
                     F.col(group_col).alias("grp"), toks.alias("toks")) \
        .filter(F.size("toks") > 0)
    w = Window.partitionBy("grp").orderBy("id")
    pairs = (base.select(
        "grp", F.col("id").alias("id_a"), F.col("toks").alias("a_toks"),
        F.lead("id").over(w).alias("id_b"),
        F.lead("toks").over(w).alias("b_toks"))
        .filter(F.col("id_b").isNotNull()))
    dp = F.expr("""
      aggregate(
        a_toks,
        array_repeat(0, size(b_toks) + 1),
        (acc, tok) -> transform(sequence(0, size(b_toks)), j ->
          CASE WHEN j = 0 THEN 0 ELSE greatest(
            element_at(acc, j + 1),
            coalesce(array_max(transform(sequence(1, j), k ->
              CASE WHEN element_at(b_toks, k) = tok
                   THEN element_at(acc, k) + 1 ELSE 0 END)), 0)) END))
    """)
    return (pairs.select(
        "id_a", "id_b",
        F.size("a_toks").cast("long").alias("len_a"),
        F.size("b_toks").cast("long").alias("len_b"),
        F.element_at(dp, F.size("b_toks") + 1).cast("long").alias("lcs_len"))
        .withColumn("rouge_l_f_ppm",
                    F.expr("2 * lcs_len * 1000000 div (len_a + len_b)"))
        .orderBy("id_a", "id_b"))


def bleu_pairs(df: DataFrame, *, text_col: str = "text",
               id_col: str = "doc_id", group_col: str = "source",
               n_tokens: int = 16) -> DataFrame:
    """BLEU-2 component counts between adjacent documents of each group
    (Papineni et al., ACL 2002) — the clipped-precision bag-of-ngram
    metric next to rouge_l_pairs' order-sensitive LCS. Same pairing as
    rouge_l_pairs: each doc (candidate) against the next doc of its
    group in id order (reference), token lists bounded at ``n_tokens``.

    Everything is ONE Catalyst expression per pair — clipped match
    counts fold over the distinct candidate n-grams with
    min(count_cand, count_ref), exact integers on bounded arrays, no
    shuffle beyond the pairing window. Emits the exact components
    (m1/t1, m2/t2 modified precisions in ppm, and the brevity flag
    len_a < len_b) rather than the composite double — BLEU-2 itself is
    BP * sqrt(p1 * p2), derivable, but the components keep the
    cross-engine contract in pure integers."""
    toks = F.slice(tokens(F.col(text_col)), 1, n_tokens)
    base = df.select(F.col(id_col).alias("id"),
                     F.col(group_col).alias("grp"), toks.alias("toks")) \
        .filter(F.size("toks") > 0)
    w = Window.partitionBy("grp").orderBy("id")
    pairs = (base.select(
        "grp", F.col("id").alias("id_a"), F.col("toks").alias("a_toks"),
        F.lead("id").over(w).alias("id_b"),
        F.lead("toks").over(w).alias("b_toks"))
        .filter(F.col("id_b").isNotNull()))

    def grams(col: str, n: int) -> str:
        if n == 1:
            return col
        return (f"CASE WHEN size({col}) >= {n} THEN "
                f"transform(sequence(1, size({col}) - {n - 1}), i -> "
                + " || ' ' || ".join(
                    f"element_at({col}, i + {j})" for j in range(n))
                + ") ELSE array() END")

    def clipped(n: int) -> str:
        c, r = grams("a_toks", n), grams("b_toks", n)
        return f"""
          aggregate(array_distinct({c}), 0L, (acc, g) -> acc + least(
            size(filter({c}, x -> x = g)),
            size(filter({r}, x -> x = g))))"""

    out = pairs.select(
        "id_a", "id_b",
        F.size("a_toks").cast("long").alias("len_a"),
        F.size("b_toks").cast("long").alias("len_b"),
        F.expr(clipped(1)).cast("long").alias("m1"),
        F.expr(clipped(2)).cast("long").alias("m2"))
    return (out
            .withColumn("t1", F.col("len_a"))
            .withColumn("t2", F.greatest(F.col("len_a") - 1, F.lit(0)))
            .withColumn("p1_ppm", F.expr("m1 * 1000000 div t1"))
            .withColumn("p2_ppm", F.expr(
                "CASE WHEN t2 > 0 THEN m2 * 1000000 div t2 END"))
            .withColumn("brevity_penalized",
                        (F.col("len_a") < F.col("len_b")).cast("int"))
            .orderBy("id_a", "id_b"))


def dsir_select(df: DataFrame, *, target_source: str, k: int = 100,
                text_col: str = "text", id_col: str = "doc_id",
                source_col: str = "source",
                buckets: int = 8192) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al., NeurIPS
    2023, arXiv:2302.03169): rank raw documents by how target-like they
    look under hashed-unigram bag-of-words language models, and keep
    the top k. The target LM is fit on ``target_source`` docs, the raw
    LM on everything else; importance of a doc is the sum over its
    tokens of log p_target(bucket) - log p_raw(bucket) with add-1
    smoothing over ``buckets`` hashed token buckets.

    Engine-exact by construction: token buckets use the cross-engine
    md5 hash (pipeline/dedup.md5_hash64), each bucket's log-ratio is
    quantized ONCE to integer ppm (the only double op — identical
    inputs on both engines, 1-ulp ln drift can only flip a rounding at
    a half-ppm boundary), and per-doc scores are exact integer sums of
    those ppm scores — so the top-k order (score desc, id asc) is
    deterministic. Scale shape: the LM is a ``buckets``-row frame that
    BROADCASTS into the token join; per-doc scoring is one map-side
    aggregate; top-k compiles to TakeOrderedAndProject. Linear in
    corpus volume, vocab state bounded at ``buckets`` rows."""
    from vivace_graph_v3_spark.pipeline.dedup import md5_hash64

    toks = df.select(F.col(id_col).alias("id"),
                     F.col(source_col).alias("src"),
                     F.explode(tokens(F.col(text_col))).alias("tok"))
    toks = toks.withColumn(
        "b", F.pmod(md5_hash64(F.col("tok")), F.lit(buckets)))
    is_t = F.col("src") == target_source
    cnt = (toks.groupBy("b").agg(
        F.sum(F.when(is_t, 1).otherwise(0)).alias("ct"),
        F.sum(F.when(is_t, 0).otherwise(1)).alias("cr")))
    tot = cnt.agg(F.sum("ct").alias("nt"), F.sum("cr").alias("nr")) \
        .first()
    nt, nr = int(tot["nt"]), int(tot["nr"])
    lm = cnt.select(
        "b",
        F.round(F.log(((F.col("ct") + 1) * F.lit(float(nr + buckets)))
                      / ((F.col("cr") + 1) * F.lit(float(nt + buckets))))
                * 1e6).cast("long").alias("score_ppm"))
    raw = toks.filter(~is_t)
    scored = (raw.join(F.broadcast(lm), "b")
              .groupBy("id")
              .agg(F.count(F.lit(1)).alias("n_tokens"),
                   F.sum("score_ppm").alias("score_ppm")))
    return (scored.orderBy(F.desc("score_ppm"), F.asc("id")).limit(k)
            .select(F.col("id").alias(id_col),
                    F.col("n_tokens").cast("long").alias("n_tokens"),
                    F.col("score_ppm").cast("long").alias("score_ppm")))


def ccnet_perplexity_buckets(df: DataFrame, *, text_col: str = "text",
                             id_col: str = "doc_id",
                             lang_col: str = "lang") -> DataFrame:
    """CCNet-style head/middle/tail corpus partition (Wenzek et al.,
    LREC 2020): per language, rank documents by the corpus-self-trained
    unigram negative log-prob (the perplexity proxy;
    :func:`unigram_logprob`) and cut into terciles — 'head' = most
    probable (cleanest), 'tail' = least. Returns one row per
    (lang, bucket): doc count, token mass, and the min/max/mean of the
    per-doc score inside the bucket.

    Determinism: per-doc scores are decimal-accumulated then rounded
    (engine-stable), the tercile order is the total order (score, id),
    and bucket means re-accumulate in DECIMAL — no order-dependent
    double sums anywhere.

    Scale (VERDICT r8 rewrite): a per-language ``ntile(3)`` window is a
    SINGLE task per language — on a web corpus where one language holds
    half the rows, that tercile sort serializes on one executor and AQE
    cannot split a window partition. Instead the tercile is a two-phase
    distributed rank: (1) per-(lang, score) counts — the 6-decimal
    rounding in :func:`unigram_logprob` bounds this grid by score-range
    x 1e6 per language, independent of corpus volume; the only
    lang-partitioned windows (running count + language total) run over
    THIS bounded grid, never over corpus rows; (2) joining the grid
    back gives each score-group its global rank span start and the
    exact ntile boundaries b1/b2 (the first ``n mod 3`` tiles take the
    extra row — ntile's own split rule); (3) each row's global position
    = cum_start + its row_number within the (lang, score) tie group —
    a window partitioned by BOTH keys, so the sort distributes across
    score groups instead of serializing per language, and the tile is
    a plain comparison. One pass over the scored corpus: no branch
    re-computes the unigram join. Degenerate caveat: a single tied
    score holding a huge share of one language bounds the hot task by
    the tie-group size, not the language size."""
    lp = unigram_logprob(df, text_col=text_col, id_col=id_col)
    base = (df.select(F.col(id_col).alias("id"),
                      F.col(lang_col).alias("lang"))
            .join(lp, "id"))
    grid = (base.groupBy("lang", "avg_neg_logp")
            .agg(F.count(F.lit(1)).alias("gc")))
    wg = Window.partitionBy("lang").orderBy("avg_neg_logp")
    wl = Window.partitionBy("lang")
    g = (grid.withColumn("cum_end", F.sum("gc").over(wg))
         .withColumn("n", F.sum("gc").over(wl))
         .withColumn("cum_start", F.col("cum_end") - F.col("gc"))
         .withColumn("b1", F.expr("n div 3 + IF(n % 3 >= 1, 1, 0)"))
         .withColumn("b2", F.expr("2 * (n div 3) + IF(n % 3 >= 1, 1, 0)"
                                  " + IF(n % 3 >= 2, 1, 0)"))
         .select("lang", "avg_neg_logp", "cum_start", "b1", "b2"))
    j = base.join(g, ["lang", "avg_neg_logp"])
    wsp = Window.partitionBy("lang", "avg_neg_logp").orderBy("id")
    pos = F.col("cum_start") + F.row_number().over(wsp)
    t = j.withColumn("t", F.when(pos <= F.col("b1"), 1)
                     .when(pos <= F.col("b2"), 2).otherwise(3))
    bucket = (F.when(F.col("t") == 1, "head")
              .when(F.col("t") == 2, "middle").otherwise("tail"))
    return (t.groupBy("lang", bucket.alias("bucket"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("n_words").cast("long").alias("n_tokens"),
                 F.min("avg_neg_logp").alias("min_nlp"),
                 F.max("avg_neg_logp").alias("max_nlp"),
                 F.round(F.sum(F.col("avg_neg_logp")
                               .cast("decimal(38,12)")).cast("double")
                         / F.count(F.lit(1)), 4).alias("mean_nlp"))
            .orderBy("lang", "bucket"))


def mink_prob_audit(df: DataFrame, *, text_col: str = "text",
                    id_col: str = "doc_id",
                    k_pct: int = 20) -> DataFrame:
    """Min-K% Prob membership/memorization signal (Shi et al., ICLR
    2024, "Detecting Pretraining Data from Large Language Models"): per
    document, the mean negative log-prob of its k% LEAST-probable
    tokens under the corpus-self-trained unigram LM. Outlier docs whose
    worst tokens are still probable score low (memorized/templated);
    docs with genuinely surprising tails score high — the tail-focused
    complement to the whole-doc perplexity proxy (unigram_logprob).

    Determinism: per-token scores are identical IEEE doubles in both
    engines (same c/total inputs), the k-subset is chosen by a
    (neg_logp desc, token asc) total order with k = ceil(n/ (100/k_pct))
    exact integers, and the mean decimal-accumulates before one
    6-decimal rounding. Scale: vocab-bounded scoring join + one per-doc
    window — linear in token volume."""
    words = (ensure_parallelism(df)
             .select(F.col(id_col).alias("id"),
                     F.explode(tokens(F.col(text_col))).alias("w")))
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    total = vocab.agg(F.sum("c").alias("total"))
    scored = (words.join(vocab, "w")
              .crossJoin(F.broadcast(total))
              .select("id", "w",
                      (-F.log2(F.col("c") / F.col("total")))
                      .alias("neg_logp")))
    win = Window.partitionBy("id").orderBy(F.desc("neg_logp"), F.asc("w"))
    n = Window.partitionBy("id")
    ranked = (scored
              .withColumn("rnk", F.row_number().over(win))
              .withColumn("n_tokens", F.count(F.lit(1)).over(n))
              .withColumn("k_used", F.expr(
                  f"(n_tokens * {int(k_pct)} + 99) div 100")))
    sel = ranked.filter(F.col("rnk") <= F.col("k_used"))
    return (sel.groupBy("id")
            .agg(F.max("n_tokens").cast("long").alias("n_tokens"),
                 F.max("k_used").cast("long").alias("k_used"),
                 F.round(F.sum(F.col("neg_logp").cast("decimal(38,12)"))
                         .cast("double") / F.max("k_used"), 6)
                 .alias("mink_nlp")))


def good_turing_mass(df: DataFrame, *, text_col: str = "text",
                     source_col: str = "source") -> DataFrame:
    """Good-Turing unseen-mass estimate per source (Good 1953; the
    Simple Good-Turing regime of Gale & Sampson 1995): from each
    source's word frequency-of-frequencies, the probability mass an LM
    should reserve for UNSEEN words is p0 = N1/N (singleton share), and
    the adjusted singleton count is c1* = 2*N2/N1 — the coverage /
    open-vocabulary signal that tells a curation pipeline how far a
    source's vocabulary is from saturated (high p0 = many words seen
    once = undertrained tail).

    Exactness: every statistic is an integer count or a floor-div ppm
    of two counts. Scale: word counts are one map-side-combined
    aggregate to the per-source vocab frame; the
    frequency-of-frequencies re-aggregates the VOCAB frame (bounded by
    vocabulary, not corpus); output is one row per source."""
    words = (ensure_parallelism(df)
             .select(F.col(source_col).alias("source"),
                     F.explode(tokens(F.col(text_col))).alias("w")))
    vocab = words.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    fof = vocab.groupBy("source", "c").agg(F.count(F.lit(1)).alias("n_r"))
    agg = fof.groupBy("source").agg(
        F.sum(F.col("c") * F.col("n_r")).cast("long").alias("n_tokens"),
        F.sum("n_r").cast("long").alias("vocab_size"),
        F.sum(F.when(F.col("c") == 1, F.col("n_r")).otherwise(0))
        .cast("long").alias("n1"),
        F.sum(F.when(F.col("c") == 2, F.col("n_r")).otherwise(0))
        .cast("long").alias("n2"))
    return agg.select(
        "source", "n_tokens", "vocab_size", "n1", "n2",
        F.expr("CASE WHEN n_tokens > 0 THEN n1 * 1000000 div n_tokens END")
        .alias("p0_ppm"),
        F.expr("CASE WHEN n1 > 0 THEN 2 * n2 * 1000000 div n1 END")
        .alias("c1_star_ppm")).orderBy("source")


def lang_mix_audit(df: DataFrame, *, text_col: str = "text",
                   id_col: str = "doc_id",
                   chunk_tokens_n: int = 32) -> DataFrame:
    """Per-document language-mixing audit: the document is cut into
    fixed ``chunk_tokens_n``-token windows, each window is language-ID'd
    with the same stopword-marker argmax as :func:`with_lang_id`
    (token-level CJK counting for the no-space script), and the doc is
    summarized by chunk count, adjacent-chunk language switches, and
    distinct confident (non-'und') languages — code-switching and
    wrong-language-span detection that a single whole-doc label hides
    (a doc can be majority-en with an embedded es block).

    Scale shape: ZERO shuffle — chunk slicing, marker counting, and the
    switch fold are one nested higher-order expression chain inside
    whole-stage codegen; a 100 TB corpus audits as a map-only scan.
    Determinism: the argmax is max over (score, lang) structs — exact
    integer scores, lexicographic lang tie-break, identical in the
    oracle's struct max."""
    toks = F.transform(tokens(F.col(text_col)), F.lower)

    def chunk_lang(chunk):
        scores = []
        for lang, markers in LANG_MARKERS.items():
            if markers:
                m = tuple(markers)
                hits = F.size(F.filter(
                    chunk, lambda t: t.isin(*m)))  # noqa: B023
            else:
                hits = F.aggregate(
                    chunk, F.lit(0),
                    lambda acc, t: acc + F.length(
                        F.regexp_replace(t, r"[^一-鿿]", "")) * 2)
            scores.append(F.struct(hits.cast("long").alias("score"),
                                   F.lit(lang).alias("lang")))
        best = F.array_max(F.array(*scores))
        return F.when(best["score"] > 0, best["lang"]).otherwise("und")

    n = F.size(toks)
    k = chunk_tokens_n
    langs = F.transform(
        F.sequence(F.lit(0),
                   F.when(n > 0, (n - 1) / k).otherwise(0).cast("int")),
        lambda i: chunk_lang(F.slice(toks, i * k + 1, k)))
    langs = F.when(n > 0, langs).otherwise(
        F.array().cast("array<string>"))
    base = df.select(F.col(id_col), langs.alias("cl"))
    switches = F.when(
        F.size("cl") >= 2,
        F.size(F.filter(
            F.zip_with(F.slice("cl", 1, F.size("cl") - 1),
                       F.slice("cl", 2, F.size("cl") - 1),
                       lambda a, b: a != b),
            lambda x: x))).otherwise(0)
    conf = F.array_distinct(F.filter("cl", lambda x: x != "und"))
    return base.select(
        id_col,
        F.size("cl").cast("long").alias("n_chunks"),
        switches.cast("long").alias("n_switches"),
        F.size(conf).cast("long").alias("n_langs"),
        (F.size(conf) > 1).alias("mixed"))


def curation_funnel(df: DataFrame, *, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Sequential curation-rule attrition funnel — the shipping report
    of a filtering pipeline (which rule drops how much, in order):
    rule 1 word count in [50, 5000]; rule 2 top-word fraction <= 0.1;
    rule 3 duplicate-bigram fraction <= 0.07 (both Gopher-style
    repetition signals, :func:`repetition_stats`); rule 4 confident
    language ID (:func:`with_lang_id` != 'und'). Returns one row per
    stage: (stage, rule, n_in, n_fail, n_out) with n_out(i) =
    n_in(i+1) — the survivors funnel.

    Exactness: the fractions are the 6-decimal integer-rounded values
    of repetition_stats, compared against exact double literals; every
    funnel cell is an integer count from ONE map-side-combined
    aggregate over the signal-joined frame (the stage explosion is a
    4-row stack of that single row). Scale: repetition's per-(doc,
    word) aggregate is the only shuffle; lang-id is map-only."""
    rep = repetition_stats(df, text_col=text_col, id_col=id_col)
    lang = with_lang_id(df.select(id_col, text_col), text_col=text_col)
    base = (df.select(id_col)
            .join(rep, id_col, "left")
            .join(lang.select(id_col, "lang_pred"), id_col, "left"))
    p1 = (F.col("n_words") >= 50) & (F.col("n_words") <= 5000)
    p2 = F.col("top_word_frac") <= 0.1
    p3 = F.col("dup_bigram_frac") <= 0.07
    p4 = F.col("lang_pred") != "und"
    flags = base.select(
        F.coalesce(p1, F.lit(False)).alias("p1"),
        F.coalesce(p2, F.lit(False)).alias("p2"),
        F.coalesce(p3, F.lit(False)).alias("p3"),
        F.coalesce(p4, F.lit(False)).alias("p4"))
    c = lambda cond: F.sum(cond.cast("long"))  # noqa: E731
    agg = flags.agg(
        F.count(F.lit(1)).cast("long").alias("n0"),
        c(F.col("p1")).alias("s1"),
        c(F.col("p1") & F.col("p2")).alias("s2"),
        c(F.col("p1") & F.col("p2") & F.col("p3")).alias("s3"),
        c(F.col("p1") & F.col("p2") & F.col("p3") & F.col("p4"))
        .alias("s4"))
    return agg.select(F.expr(
        "stack(4,"
        " 1L, 'word_count',    n0, n0 - s1, s1,"
        " 2L, 'top_word_frac', s1, s1 - s2, s2,"
        " 3L, 'dup_bigrams',   s2, s2 - s3, s3,"
        " 4L, 'lang_id',       s3, s3 - s4, s4)"
        " AS (stage, rule, n_in, n_fail, n_out)"))
