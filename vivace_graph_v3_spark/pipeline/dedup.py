"""Deduplication operators for 100 TB document tables.

Five strategies, cheapest-first:

- exact:         hash-groupBy on normalized text (one shuffle)
- ngram-jaccard: exact set similarity via an inverted shingle index
                 (explode -> self-join on shingle -> pair counts); exact but
                 quadratic in bucket sizes — use on blocked/candidate sets
- minhash+LSH:   shingle -> k minhashes -> b bands -> bucket join; candidates
                 verified with exact jaccard. The scale path: cost is
                 O(docs * k) + O(bucket collisions), never all-pairs
- simhash:       64-bit weighted-bit signature; near-dups = small hamming
                 distance, found by 4x16-bit block LSH (Charikar 2002 /
                 Manku et al. 2007)
- embedding:     cosine over an embedding column (exact fixed-order
                 normalized dot)

No row-at-a-time Python UDFs: shingling is ``transform`` over token
sequences, simhash bits are conditional sums. The two fold-heavy kernels —
minhash signatures and exact cosine / SRP band signatures — run as
Arrow-vectorized numpy passes (``_minhash_udf`` / ``_cosine_udf`` /
``_srp_sigs_udf``), each pinned bit-identical to its expression-form spec:
Spark's higher-order-function lambdas are CodegenFallback (interpreted per
element), which made the folds the dominant cost of every consumer
(optimization round 9, guide §4.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F, types as T

from vivace_graph_v3_spark import util
from vivace_graph_v3_spark.pipeline.text import tokens
from vivace_graph_v3_spark.util import (
    ensure_parallelism, fits_driver, local_frame, materialized,
    union_find_min)

# -- exact ---------------------------------------------------------------------

def normalized_text(col):
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                keep: str = "min") -> DataFrame:
    """Keep one row per distinct normalized text (the min/max id — a
    deterministic survivor). One hash-shuffle on the 64-bit fingerprint, not
    on the full text bytes."""
    fp = F.xxhash64(normalized_text(F.col(text_col)))
    agg = F.min(id_col) if keep == "min" else F.max(id_col)
    survivors = (df.select(fp.alias("__fp"), F.col(id_col))
                 .groupBy("__fp").agg(agg.alias(id_col))
                 .select(id_col))
    return df.join(survivors, id_col, "left_semi")


def cross_source_leakage(df: DataFrame, *, text_col: str = "text",
                         source_col: str = "source",
                         prefix_chars: int = 120) -> DataFrame:
    """Near-duplicate family leakage matrix across sources — the
    curation report that tells you which source pairs share content
    (mirror sites, syndication, template farms) BEFORE mixing them into
    a training run. Families are keyed by the first ``prefix_chars``
    normalized characters (prefix fingerprint: catches truncated-copy
    and boilerplate families that whole-text hashing misses); every
    unordered source pair sharing a family is counted. Output per
    (source_a < source_b): n_families, n_doc_pairs (sum over families
    of count_a * count_b).

    100 TB shape: one shuffle of 64-bit prefix fingerprints to the
    (family, source) grid — duplicate-family-bounded, never the corpus;
    the pair join is grid x grid within a family, never row x row.
    Fingerprint-equality-equals-text-equality follows the exact_dedup
    convention (xxhash64 collisions are ignorable at any corpus size
    that fits a cluster)."""
    key = F.xxhash64(F.substring(normalized_text(F.col(text_col)),
                                 1, prefix_chars))
    fams = (df.select(key.alias("fam"), F.col(source_col).alias("src"))
            .groupBy("fam", "src").agg(F.count(F.lit(1)).alias("c")))
    a = fams.select("fam", F.col("src").alias("source_a"),
                    F.col("c").alias("ca"))
    b = fams.select("fam", F.col("src").alias("source_b"),
                    F.col("c").alias("cb"))
    pairs = a.join(b, "fam").filter(F.col("source_a") < F.col("source_b"))
    # (fam, src) is unique per side, so each (fam, a, b) row is one family
    return (pairs.groupBy("source_a", "source_b")
            .agg(F.count(F.lit(1)).alias("n_families"),
                 F.sum(F.col("ca") * F.col("cb")).alias("n_doc_pairs")))


# -- shingles -------------------------------------------------------------------

def has_min_tokens(text_col, n: int = 3):
    """Cheap codegen-only predicate equivalent to
    ``size(shingle_hashes(text_col, n)) > 0`` (i.e. the document has at
    least ``n`` whitespace tokens).

    Why not filter on the shingle array directly: the optimizer pushes a
    filter referencing the shingle expression below the
    ensure_parallelism exchange, so the whole interpreted
    higher-order-function shingle tree is evaluated in the (often
    single-task) scan stage AND recomputed post-shuffle — measured ~3 s
    single-core for 5 000 short docs (optimization r9; the expression
    twin of guide §4.4's duplicated-UDF trap). ``trim``/``split``/``size``
    are codegen, so this predicate is free wherever it lands.

    Equivalence: for trimmed non-empty text, split(\\s+) yields exactly
    the non-empty tokens, so token count == split size; empty-after-trim
    text (split size 1, token count 0) is excluded explicitly."""
    t = F.trim(text_col)
    from vivace_graph_v3_spark.pipeline.text import WORD_SPLIT
    return (t != "") & (F.size(F.split(t, WORD_SPLIT)) >= n)


def shingle_hashes(text_col, n: int = 3):
    """Distinct xxhash64 values of word n-gram shingles, all JVM: tokenize,
    slide an n-window via transform over indices, hash the joined shingle."""
    toks = tokens(text_col)
    count = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    idx = F.sequence(F.lit(0), count - 1)
    shingles = F.when(count > 0, F.transform(
        idx, lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks, i + 1, n)))
    )).otherwise(F.array().cast("array<bigint>"))
    return F.array_distinct(shingles)


# -- exact n-gram jaccard ---------------------------------------------------------

def ngram_jaccard_pairs(df: DataFrame, *, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold: float = 0.8) -> DataFrame:
    """All pairs (a < b) with Jaccard(shingles_a, shingles_b) >= threshold,
    via the inverted index (:func:`_shingle_pair_candidates`): |A∪B| =
    |A|+|B|-common. Exact; intended for candidate sets or blocked inputs
    (at raw 100 TB use minhash_dedup_pairs instead). Eager: the call
    runs one job checkpointing the shingle base (see _shingle_base),
    which the returned frame reads and holds until it is collected."""
    with materialized() as m:
        pairs = _shingle_pair_candidates(
            _shingle_base(m, df, text_col=text_col, id_col=id_col, n=n))
        jac = (F.col("inter")
               / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
        return m.keep(pairs.withColumn("jaccard", F.round(jac, 6))
                      .filter(F.col("jaccard") >= threshold)
                      .select("id_a", "id_b", "jaccard"))


def containment_pairs(df: DataFrame, *, text_col: str = "text",
                      id_col: str = "doc_id", n: int = 3,
                      threshold: float = 0.8) -> DataFrame:
    """ASYMMETRIC near-dup detection: directed pairs (inner, outer) where
    containment(inner -> outer) = |sh(inner) ∩ sh(outer)| / |sh(inner)|
    >= threshold — the Broder containment coefficient. Catches what
    Jaccard structurally cannot: a short document quoted/embedded inside
    a much longer one has high containment but low Jaccard (the union is
    dominated by the long doc), the common quote-inclusion /
    snippet-scrape case in web corpora.

    Candidate generation uses PREFIX FILTERING (Chaudhuri et al. SSJoin
    2006; Xiao et al. PPJoin 2008), which keeps the result EXACT: if
    |A ∩ B| >= t·|A| then A can miss at most (1-t)·|A| of its shingles,
    so among A's floor((1-t)·|A|)+2 globally-rarest shingles at least one
    must hit B — only those prefix shingles are exploded on the inner
    side (the outer side posts everything), shrinking the inverted-index
    fanout by ~1/(1-t) and, on skew, by the rare-first ordering.
    Survivor pairs are then verified with one array_intersect over the
    two full shingle sets — candidate-bounded, no second index pass.
    (The +2, not the textbook +1: the 6-dp round-half-up acceptance can
    admit common = ceil(t·|A|)-1 whenever 0 < frac(t·|A|) <= |A|/2e6 —
    e.g. t=0.666667 with |A|=3 accepts common=2 — so the prefix must
    reach one shingle deeper; one extra unit covers any |A| < 2·10^6.)
    Both directions are emitted when both clear the
    threshold (containment is not symmetric). Self-pairs excluded.
    At raw-corpus scale run it on blocked/candidate inputs; the measured
    10x-data probe ratio dropped from 12.6x to ~linear-in-output after
    prefix filtering (SCALING.md).

    Within the driver bound the same prefix filter and verification run
    on the driver (:func:`_containment_local`): shingles are hashed in
    Spark and reach the driver as one capped collect of the
    ``(id, shingle)`` postings, so ``util.DRIVER_ROWS`` counts postings,
    not documents; nothing is persisted or checkpointed and the result is
    a local frame. Past the bound the Spark plan below runs: the base is
    persisted for its three consumers and the result checkpointed."""
    base = (ensure_parallelism(df)
            .filter(has_min_tokens(F.col(text_col), n))
            .select(F.col(id_col).alias("id"),
                    shingle_hashes(F.col(text_col), n).alias("sh")))
    local = _containment_local(base, threshold)
    if local is not None:
        return local
    with materialized() as m:
        base = m.persist(base.withColumn("sz", F.size("sh")))
        inv = base.select("id", "sz", F.explode("sh").alias("shingle"))
        prefix = _rarest_prefix(inv, F.floor((1.0 - threshold)
                                             * F.first("sz")) + 2)
        a, b = prefix.alias("a"), inv.alias("b")
        cand = (a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                       & (F.col("a.id") != F.col("b.id")))
                .select(F.col("a.id").alias("inner_id"),
                        F.col("b.id").alias("outer_id"))
                .dropDuplicates())
        # exact verification: one intersect over the full shingle sets
        common = (cand
                  .join(base.select(F.col("id").alias("inner_id"),
                                    F.col("sh").alias("sh_in"),
                                    F.col("sz").alias("sz_in")), "inner_id")
                  .join(base.select(F.col("id").alias("outer_id"),
                                    F.col("sh").alias("sh_out")), "outer_id")
                  .select("inner_id", "outer_id", "sz_in",
                          F.size(F.array_intersect("sh_in", "sh_out"))
                          .alias("common")))
        # round-half-up in integer arithmetic so the 6-decimal value is
        # bit-identical to any SQL oracle (the engine-stable ratio recipe);
        # in bigint, since common * 2000000 overflows an int from 1074
        # common shingles on
        cont = (F.expr("(cast(common as bigint) * 2000000 + sz_in) "
                       "div (sz_in * 2)").cast("double") / 1e6)
        out = (common.withColumn("containment", cont)
               .filter(F.col("containment") >= threshold)
               .select("inner_id", "outer_id", "containment"))
        return m.keep(m.checkpoint(out)[0])


def _rarest_prefix(inv: DataFrame, k_len) -> DataFrame:
    """(id, shingle): each document's ``k_len`` rarest shingles of ``inv``
    (id, sz, shingle) by (df, shingle). Window-free (guide §2.4): a per-doc
    array_sort and slice, not a row_number window over the whole stream."""
    dfreq = inv.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    return (inv.join(dfreq, "shingle").groupBy("id")
            .agg(F.slice(F.array_sort(F.collect_list(
                F.struct("df", "shingle"))), F.lit(1), k_len.cast("int"))
                .alias("__pre"))
            .select("id", F.explode("__pre.shingle").alias("shingle")))


def _containment_local(base: DataFrame, threshold: float) -> DataFrame | None:
    """:func:`containment_pairs` on the driver over ``base`` (``id``,
    ``sh``: one row per document, its distinct shingle hashes): the same
    rarest-first prefix (``floor((1-t)·sz)+2`` shingles by (document
    frequency, hash)), candidate pairs from the prefix postings against
    every posting, exact verification of each pair and the same integer
    round-half-up ratio. Returns None, so the caller runs the Spark plan,
    when the postings, the candidate postings or the verification
    postings pass ``util.DRIVER_ROWS``, or when an id names more than one
    document (the Spark plan's per-id size is then one of theirs).

    A null id counts towards document frequencies and pairs with nothing,
    as the Spark plan's ``!=`` and equi-joins have it."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    # Arrow, not pandas: a nullable long id stays an integer. The outer
    # generator gives the same rows (every document left after
    # has_min_tokens has a shingle) without the size(sh) > 0 filter
    # Spark infers for a plain posexplode and pushes below the
    # projection, where it evaluated the shingle tree a second time
    # (4x slower at 4000 documents).
    post = base.select("id", F.posexplode_outer("sh")) \
        .limit(util.DRIVER_ROWS + 1).toArrow()
    if not fits_driver(post.num_rows):
        return None
    enc = post["id"].combine_chunks().dictionary_encode()
    doc = enc.indices.fill_null(-1).to_numpy().astype(np.int64)
    ndoc = len(enc.dictionary)
    first = doc[(post["pos"].to_numpy() == 0) & (doc >= 0)]
    if len(first) != ndoc:  # an id with two documents
        return None
    _, sh, dfreq = np.unique(post["col"].to_numpy(), return_inverse=True,
                             return_counts=True)
    live = doc >= 0
    doc, sh = doc[live], sh[live]
    sz = np.bincount(doc, minlength=ndoc)
    # prefix: each document's shingles by (df, hash) -- unique shingle
    # codes follow hash order -- first floor((1-t)*sz)+2 of them
    order = np.lexsort((sh, dfreq[sh], doc))
    pdoc, psh = doc[order], sh[order]
    rank = np.arange(len(pdoc)) - np.searchsorted(pdoc, pdoc)
    k_len = (np.floor((1.0 - threshold) * sz.astype(np.float64))
             .astype(np.int64) + 2)
    pre = rank < k_len[pdoc]
    pdoc, psh = pdoc[pre], psh[pre]
    # candidates: every posting of each prefix shingle, another document
    by_sh = np.lexsort((doc, sh))
    idoc, ish = doc[by_sh], sh[by_sh]
    lo = np.searchsorted(ish, psh, "left")
    cnt = np.searchsorted(ish, psh, "right") - lo
    if not fits_driver(int(cnt.sum())):
        return None
    at = np.repeat(lo - np.cumsum(cnt) + cnt, cnt) + np.arange(cnt.sum())
    pair = np.repeat(pdoc, cnt) * ndoc + idoc[at]
    pair = np.unique(pair[np.repeat(pdoc, cnt) != idoc[at]])
    inner, outer = pair // ndoc, pair % ndoc
    # verification: each inner posting looked up among the outer's
    if not fits_driver(int(sz[inner].sum())):
        return None
    by_doc = np.lexsort((sh, doc))
    ddoc, dsh = doc[by_doc], sh[by_doc]
    start = np.searchsorted(ddoc, np.arange(ndoc))
    nsh = int(sh.max()) + 1 if len(sh) else 1
    keys = ddoc * nsh + dsh
    which = np.repeat(np.arange(len(pair)), sz[inner])
    probe = (np.repeat(start[inner] - np.cumsum(sz[inner]) + sz[inner],
                       sz[inner]) + np.arange(sz[inner].sum()))
    want = outer[which] * nsh + dsh[probe]
    hit = keys[np.minimum(np.searchsorted(keys, want),
                          len(keys) - 1)] == want
    common = np.bincount(which[hit], minlength=len(pair))
    sz_in = sz[inner]
    cont = ((common * 2000000 + sz_in) // (sz_in * 2)).astype(np.float64) / 1e6
    ok = cont >= threshold
    id_type = base.schema["id"].dataType
    schema = T.StructType([T.StructField("inner_id", id_type),
                           T.StructField("outer_id", id_type),
                           T.StructField("containment", T.DoubleType())])
    arrow_schema = to_arrow_schema(schema)
    ids = enc.dictionary.cast(arrow_schema.field("inner_id").type)
    return local_frame(base.sparkSession, pa.Table.from_arrays(
        [ids.take(pa.array(inner[ok])), ids.take(pa.array(outer[ok])),
         pa.array(cont[ok])], schema=arrow_schema), schema)


def ngram_contamination(docs: DataFrame, eval_docs: DataFrame, *,
                        text_col: str = "text", id_col: str = "doc_id",
                        n: int = 5, min_common: int = 1) -> DataFrame:
    """Benchmark decontamination: flag training documents that share at
    least ``min_common`` distinct word n-gram shingles with ANY document of
    an evaluation set — the standard leakage check before training on a
    scraped corpus (the n-gram-overlap method of GPT-3 appendix C / PaLM).

    Scale shape: the eval set is normally tiny relative to the corpus, so
    AQE turns the shingle join into a broadcast-hash join and the 100 TB
    corpus is scanned map-side with no shuffle by shingle; the per-doc
    overlap count is a map-side-combined groupBy on doc id. The join is
    deliberately UNhinted — an unexpectedly large eval set degrades to a
    shuffle join instead of overwhelming the driver (the same let-AQE-pick
    policy as the TPC-H shapes). Returns (id, n_common) for contaminated
    docs."""
    corpus = (ensure_parallelism(docs)
              .select(F.col(id_col).alias("id"),
                      F.explode(shingle_hashes(F.col(text_col), n))
                      .alias("shingle")))
    ev = (eval_docs.select(F.explode(shingle_hashes(F.col(text_col), n))
                           .alias("shingle"))
          .dropDuplicates())
    # shingle_hashes is per-doc distinct, so count(*) = distinct overlap
    return (corpus.join(ev, "shingle")
            .groupBy("id").agg(F.count(F.lit(1)).alias("n_common"))
            .filter(F.col("n_common") >= min_common))


def shingle_strings(text_col, n: int = 3):
    """Distinct word n-gram shingles as STRINGS (space-joined) — the
    cross-engine-reproducible sibling of :func:`shingle_hashes` (xxhash64
    has no DuckDB twin; the raw shingle text does)."""
    toks = tokens(text_col)
    count = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    idx = F.sequence(F.lit(0), count - 1)
    shingles = F.when(count > 0, F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))
    )).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(shingles)


def ngram_novelty(train: DataFrame, test: DataFrame, *,
                  text_col: str = "text", group_col: str | None = None,
                  n: int = 3) -> DataFrame:
    """Memorization / novelty audit: what fraction of a held-out split's
    distinct word n-grams NEVER occur anywhere in the training split?
    Low novelty means the eval text is largely reconstructible from
    training n-grams — the n-gram-level complement of the doc-level
    ``ngram_contamination`` flag (GPT-3 appendix C lineage) and the
    standard memorization proxy a data card reports per subset.

    Returns one row per ``group_col`` value (or one global row):
    (group, n_test_ngrams, n_novel, novelty_ppm) with novelty_ppm an
    exact BIGINT ``div``.

    Scale shape: the training vocabulary is one distinct-aggregate of
    exploded shingles (map-side pre-aggregation absorbs within-doc
    repeats); the novelty check is a left-anti shuffle join on the
    shingle — the same co-partitioned shape either way at 100 TB, and
    Bloom-prefilterable. Per-group counters are map-side-combined."""
    tr = (train.select(F.explode(shingle_strings(F.col(text_col), n))
                       .alias("sh"))
          .dropDuplicates())
    grp = (F.col(group_col) if group_col else F.lit("all")).alias("g")
    te = (test.select(grp, F.explode(shingle_strings(F.col(text_col), n))
                      .alias("sh"))
          .dropDuplicates())
    novel = te.join(tr, "sh", "left_anti")
    tot = te.groupBy("g").agg(F.count(F.lit(1)).alias("n_test_ngrams"))
    nov = novel.groupBy("g").agg(F.count(F.lit(1)).alias("n_novel"))
    return (tot.join(nov, "g", "left")
            .select(F.col("g").alias(group_col or "split"),
                    F.col("n_test_ngrams").cast("long")
                    .alias("n_test_ngrams"),
                    F.coalesce("n_novel", F.lit(0)).cast("long")
                    .alias("n_novel"),
                    F.expr("coalesce(n_novel, 0) * 1000000 div "
                           "n_test_ngrams").cast("long")
                    .alias("novelty_ppm")))


# -- minhash + LSH -----------------------------------------------------------------

def _minhash_fold_expr(k: int):
    """The expression-form signature fold (kept as the semantic spec and
    the regression-test reference for the vectorized path below)."""
    lmax = F.lit(2**63 - 1)
    return F.aggregate(
        "__sh",
        F.array_repeat(lmax, k),
        lambda a, s: F.transform(
            a, lambda v, i: F.least(v, F.xxhash64(s, i))))


def _minhash_udf(num_hashes: int):
    """Arrow-vectorized minhash: bit-identical to ``_minhash_fold_expr``.

    Spark's higher-order-function lambdas are CodegenFallback — the fold
    walks the interpreted expression tree |shingles| x k times per doc
    (~7 us/eval measured), which made signature computation the dominant
    cost of every minhash consumer. The same xxhash64 arithmetic as numpy
    vector passes over one flattened Arrow batch is ~100x cheaper
    (guide §4.2); the plan stays map-only (one ArrowEvalPython node,
    no added shuffle), so the 100 TB shape is unchanged."""
    import numpy as np
    import pandas as pd

    from vivace_graph_v3_spark.pipeline import _xxh64

    def sig(sh):
        if len(sh) == 0:
            return pd.Series([], dtype=object)
        arrs = [np.asarray(a, dtype=np.int64) for a in sh]
        lens = np.fromiter((len(a) for a in arrs), dtype=np.int64,
                           count=len(arrs))
        starts = np.zeros(len(arrs), dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        flat = np.concatenate(arrs) if arrs else np.empty(0, np.int64)
        mat = _xxh64.minhash_matrix(flat, starts, num_hashes)
        return pd.Series(list(mat))

    # explicit annotations (the Series->Series scalar shape) instead of
    # inline hints: `from __future__ import annotations` stringifies local
    # hints beyond pandas_udf's resolver
    sig.__annotations__ = {"sh": pd.Series, "return": pd.Series}
    return F.pandas_udf(sig, "array<bigint>")


def minhash_signatures(df: DataFrame, *, text_col: str = "text",
                       id_col: str = "doc_id", n: int = 3,
                       num_hashes: int = 64) -> DataFrame:
    """k minhash values per doc: h_i(doc) = min over shingles of
    xxhash64(shingle, i) — k independent permutation hashes, computed by
    the Arrow-vectorized kernel (bit-identical to the expression fold;
    see _minhash_udf)."""
    base = (ensure_parallelism(df)
            .filter(has_min_tokens(F.col(text_col), n))
            .select(F.col(id_col).alias("id"),
                    shingle_hashes(F.col(text_col), n).alias("__sh")))
    sig = _minhash_udf(num_hashes)(F.col("__sh"))
    return base.select("id", "__sh", sig.alias("minhash"))


def band_rows(sigs: DataFrame, *, bands: int = 16,
              rows_per_band: int = 4) -> DataFrame:
    """Explode a signature frame into (id, band, bucket) posting rows —
    the banded-LSH bucket table. Map-only; this is also the frame an
    ingest-time index persists (see MinhashIndex)."""
    banded = sigs.select(
        "id",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.xxhash64(F.concat_ws(
                         ",", *[F.col("minhash")[b * rows_per_band + r].cast("string")
                                for r in range(rows_per_band)])).alias("bucket"))
            for b in range(bands)])).alias("bb"))
    return banded.select("id", F.col("bb.band").alias("band"),
                         F.col("bb.bucket").alias("bucket"))


def minhash_lsh_candidates(sigs: DataFrame, *, bands: int = 16,
                           rows_per_band: int = 4,
                           max_bucket: int | None = None) -> DataFrame:
    """Band the signature (b bands of r rows), bucket-join: pairs sharing any
    band bucket are candidates. Emits distinct (id_a < id_b).

    ``max_bucket`` is the HOT-BUCKET guard for power-law corpora
    (SCALING.md, "Round-7 SKEW probe", records the motivating shape):
    the within-bucket clique join is quadratic in bucket width, so one bucket
    holding k docs — in practice a mass of byte-identical or boilerplate
    pages whose r band hashes all collide — emits k(k-1)/2 pairs.
    With a cap, an over-cap bucket emits a STAR to its min id (k-1
    pairs) instead: connectivity-driven consumers (``dedup_clusters``,
    ``dedup_survivors``) recover the identical components whenever the
    over-cap bucket's members are mutual near-dups (the overwhelmingly
    common cause of a giant bucket — identical docs share ALL buckets),
    while the candidate count stays linear in corpus size. The trade:
    two genuinely-distinct docs inside an over-cap bucket are only
    candidates via the star hub or a second, smaller shared bucket —
    the standard recall/cost bound at 100 TB. ``None`` (default) keeps
    the exact clique semantics the oracle entries pin."""
    banded = band_rows(sigs, bands=bands, rows_per_band=rows_per_band)
    if max_bucket is None:
        a, b = banded.alias("a"), banded.alias("b")
        return (a.join(b, (F.col("a.band") == F.col("b.band"))
                       & (F.col("a.bucket") == F.col("b.bucket"))
                       & (F.col("a.id") < F.col("b.id")))
                .select(F.col("a.id").alias("id_a"),
                        F.col("b.id").alias("id_b"))
                .dropDuplicates())
    sizes = (banded.groupBy("band", "bucket")
             .agg(F.count(F.lit(1)).alias("__w"), F.min("id").alias("__hub")))
    tagged = banded.join(sizes, ["band", "bucket"])
    small = tagged.filter(F.col("__w") <= max_bucket)
    a, b = small.alias("a"), small.alias("b")
    clique = (a.join(b, (F.col("a.band") == F.col("b.band"))
                     & (F.col("a.bucket") == F.col("b.bucket"))
                     & (F.col("a.id") < F.col("b.id")))
              .select(F.col("a.id").alias("id_a"),
                      F.col("b.id").alias("id_b")))
    star = (tagged.filter((F.col("__w") > max_bucket)
                          & (F.col("id") != F.col("__hub")))
            .select(F.col("__hub").alias("id_a"), F.col("id").alias("id_b")))
    return clique.unionByName(star).dropDuplicates()


def minhash_dedup_pairs(df: DataFrame, *, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        num_hashes: int = 64, bands: int = 16,
                        threshold: float = 0.8,
                        max_bucket: int | None = None) -> DataFrame:
    """MinHash-LSH near-dup pipeline: signatures -> banded candidates ->
    minhash-estimate prefilter -> exact-jaccard verification.

    The signature frame is persisted (it feeds candidate generation AND both
    sides of the verification join) and candidates are pre-pruned with the
    free jaccard estimate already encoded in the signatures (matching
    positions / k), with a generous margin so no true pair above the
    threshold is lost before exact verification."""
    with materialized() as m:
        sigs = m.persist(minhash_signatures(df, text_col=text_col,
                                            id_col=id_col, n=n,
                                            num_hashes=num_hashes))
        cands = minhash_lsh_candidates(sigs, bands=bands,
                                       rows_per_band=num_hashes // bands,
                                       max_bucket=max_bucket)
        joined = (cands.join(_minhash_side(sigs, "id_a", "a"), "id_a")
                  .join(_minhash_side(sigs, "id_b", "b"), "id_b"))
        return m.keep(_minhash_verified(m, joined, num_hashes, threshold,
                                        "id_a", "id_b"))


def _minhash_side(sigs: DataFrame, id_name: str, s: str) -> DataFrame:
    """One MinHash verification arm: (``id_name``, sh_s, sz_s, mh_s)."""
    return sigs.selectExpr(f"id AS {id_name}", f"__sh AS sh_{s}",
                           f"size(__sh) AS sz_{s}", f"minhash AS mh_{s}")


def _minhash_verified(m, joined: DataFrame, num_hashes: int,
                      threshold: float, *ids: str) -> DataFrame:
    """The ``joined`` pairs (two :func:`_minhash_side` arms) whose exact
    Jaccard clears ``threshold``, as (``ids``..., jaccard), checkpointed
    in ``m``, after a free MinHash-estimate prefilter (3 sigma)."""
    est = (F.size(F.filter(F.zip_with("mh_a", "mh_b", lambda a, b: a == b),
                           lambda x: x)) / F.lit(num_hashes))
    margin = 3.0 * (0.25 / num_hashes) ** 0.5
    common = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = common / (F.col("sz_a") + F.col("sz_b") - common)
    return m.checkpoint(joined.filter(est >= threshold - margin)
                        .withColumn("jaccard", F.round(jac, 6))
                        .filter(F.col("jaccard") >= threshold)
                        .select(*ids, "jaccard"))[0]


# -- simhash -----------------------------------------------------------------------

def md5_hash64(col):
    """Cross-engine-deterministic 64-bit hash: the first 16 hex chars of
    md5 as a signed long (hi 32 bits shifted | lo 32 bits). DuckDB computes
    the identical value with ('0x'||substr(md5(t),1,8))::BIGINT halves, so
    oracle SQL can reproduce signatures bit-for-bit. Slower than xxhash64
    (md5 + two conv calls) but still whole-stage codegen."""
    hexs = F.md5(col)
    hi = F.conv(F.substring(hexs, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(hexs, 9, 8), 16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def simhash_signatures(df: DataFrame, *, text_col: str = "text",
                       id_col: str = "doc_id",
                       token_hash: str = "xxhash64") -> DataFrame:
    """64-bit SimHash over word tokens: bit j of the signature = sign of
    sum over tokens of (+1 if bit j of hash(token) else -1). Built from
    64 conditional aggregates — heavy-looking but all codegen'd.
    ``token_hash``: 'xxhash64' (fastest) or 'md5' (cross-engine
    reproducible — see md5_hash64)."""
    toks = ensure_parallelism(df).select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.col(text_col))).alias("tok"))
    h = (F.xxhash64("tok") if token_hash == "xxhash64"
         else md5_hash64(F.col("tok")))
    aggs = [F.sum(F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1)
                  .otherwise(-1)).alias(f"b{j}") for j in range(64)]
    sums = toks.groupBy("id").agg(*aggs)
    sig = None
    for j in range(64):
        bit = F.when(F.col(f"b{j}") > 0,
                     F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, j)
        sig = term if sig is None else sig.bitwiseXOR(term)
    return sums.select("id", sig.alias("simhash"))


def simhash_dup_pairs(df: DataFrame, *, text_col: str = "text",
                      id_col: str = "doc_id", max_hamming: int = 3,
                      token_hash: str = "xxhash64") -> DataFrame:
    """Near-dup pairs by simhash hamming distance <= max_hamming. LSH on
    4 x 16-bit blocks (a pair within distance 3 shares at least one exact
    block — pigeonhole), then exact popcount verification. Output semantics:
    pairs that share >= 1 exact block AND have hamming <= max_hamming (for
    max_hamming > 3 the block gate is a recall-bounded prefilter, by
    design)."""
    sigs = simhash_signatures(df, text_col=text_col, id_col=id_col,
                              token_hash=token_hash)
    blocks = sigs.select("id", "simhash", F.explode(F.array(*[
        F.struct(F.lit(k).alias("blk"),
                 F.shiftright("simhash", k * 16).bitwiseAND(F.lit(0xFFFF))
                 .alias("val")) for k in range(4)])).alias("bb"))
    blocks = blocks.select("id", "simhash", F.col("bb.blk").alias("blk"),
                           F.col("bb.val").alias("val"))
    a, b = blocks.alias("a"), blocks.alias("b")
    cands = (a.join(b, (F.col("a.blk") == F.col("b.blk"))
                    & (F.col("a.val") == F.col("b.val"))
                    & (F.col("a.id") < F.col("b.id")))
             .select(F.col("a.id").alias("id_a"), F.col("a.simhash").alias("sig_a"),
                     F.col("b.id").alias("id_b"), F.col("b.simhash").alias("sig_b"))
             .dropDuplicates(["id_a", "id_b"]))
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (cands.withColumn("hamming", ham)
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


# -- embedding cosine ---------------------------------------------------------------

def _norm(v):
    return F.sqrt(F.aggregate(v, F.lit(0.0),
                              lambda acc, x: acc + x.cast("double") * x.cast("double")))


def _cosine_fold_expr(a, b):
    """The expression-form cosine (kept as the semantic spec and the
    regression-test reference for the vectorized path below): a
    fixed-index-order left fold of correctly-rounded double ops, so the
    value is engine-exact and oracle-reproducible."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y:
                                 x.cast("double") * y.cast("double")),
                      F.lit(0.0), lambda acc, x: acc + x)
    return dot / (_norm(a) * _norm(b))


def _cosine_udf():
    """Arrow-vectorized cosine: bit-identical to ``_cosine_fold_expr``.

    ``aggregate``/``zip_with`` lambdas are CodegenFallback — the dot and
    both norms walk the interpreted expression tree per element, which
    made exact-cosine verification (and every ANN/retrieval consumer of
    ``cosine``) fold-bound exactly like the minhash signatures above
    (guide §4.2). The numpy kernel accumulates per vector INDEX in the
    same left-fold order (acc = acc + a_i * b_i), so every intermediate
    rounding — and hence the emitted double — is unchanged. Map-only
    (one ArrowEvalPython node), no added shuffle."""
    import numpy as np
    import pandas as pd

    def cos(va, vb):
        n = len(va)
        if n == 0:
            return pd.Series([], dtype=np.float64)
        va_na = va.isna()
        vb_na = vb.isna()
        bad = (va_na | vb_na).to_numpy()
        if bad.all():
            return pd.Series([None] * n, dtype=object)
        A = np.array([np.asarray(x, dtype=np.float64)
                      for x in va[~bad]])
        B = np.array([np.asarray(x, dtype=np.float64)
                      for x in vb[~bad]])
        if A.shape[1] != B.shape[1]:
            # zip_with would null-pad the shorter side -> null dot; all
            # callers pair equal-dimension embeddings, so mirror the
            # expression's null result rather than guessing
            return pd.Series([None] * n, dtype=object)
        acc = np.zeros(len(A))
        na = np.zeros(len(A))
        nb = np.zeros(len(B))
        for i in range(A.shape[1]):
            acc = acc + A[:, i] * B[:, i]
            na = na + A[:, i] * A[:, i]
            nb = nb + B[:, i] * B[:, i]
        vals = acc / (np.sqrt(na) * np.sqrt(nb))
        if not bad.any():
            return pd.Series(vals)
        out = np.full(n, None, dtype=object)
        out[~bad] = vals
        return pd.Series(out)

    cos.__annotations__ = {"va": pd.Series, "vb": pd.Series,
                           "return": pd.Series}
    return F.pandas_udf(cos, "double")


_COSINE_UDF = None


def cosine(a, b):
    """Exact cosine(a, b) as a map-only Arrow kernel (see _cosine_udf);
    same doubles bit for bit as the expression fold."""
    global _COSINE_UDF
    if _COSINE_UDF is None:
        _COSINE_UDF = _cosine_udf()
    return _COSINE_UDF(a, b)


def _srp_weights(plane_id: int, dim: int) -> list[float]:
    """Driver-side constants of one md5-derived pseudo-random
    hyperplane: w_i = pmod(md5h64(f"{i}#{plane_id}"), 1000)/500 - 1,
    where md5h64 is the exact integer pipeline.dedup.md5_hash64
    computes (signed hi<<32 | lo of the first 16 hex chars).

    md5-derived (NOT xxhash64, which no other engine reproduces): a SQL
    oracle rebuilds the planes bit-for-bit. Computed ONCE on the driver
    and embedded as plan literals — executors never hash (at 100 TB,
    bits*bands*dim md5 calls per ROW would dominate the scan)."""
    import hashlib

    out = []
    for i in range(dim):
        h = hashlib.md5(f"{i}#{plane_id}".encode()).hexdigest()
        v = (int(h[:8], 16) << 32) | int(h[8:16], 16)
        if v >= 2 ** 63:
            v -= 2 ** 64
        out.append((v % 1000) / 500.0 - 1.0)  # Python % = floor-mod = pmod
    return out


def _srp_bit(v, plane_id, dim):
    """Sign bit of v . w(plane_id): the dot is a fixed-index-order left
    fold of correctly-rounded ops over the literal weight array — so
    the SIGN, hence every band signature, hence the candidate set, is
    engine-identical. That turns SRP-LSH blocking from a probabilistic
    fixture assumption into an exactly-checkable contract (r7 sf0.1
    sweep find: borderline-cosine pairs made luck-based equality fail
    at 10x the gate scale). ``v`` must have length ``dim``."""
    ws = F.array(*[F.lit(w) for w in _srp_weights(plane_id, dim)])
    dot = F.aggregate(
        F.zip_with(v, ws, lambda x, w: x.cast("double") * w),
        F.lit(0.0), lambda acc, x: acc + x)
    return F.when(dot > 0, F.lit(1)).otherwise(F.lit(0)).cast("long")


def _srp_sigs_udf(bands: int, block_bits: int, dim: int):
    """Arrow-vectorized banded SRP signatures: bit-identical to the
    ``_srp_bit``/shiftleft expression stack (kept above as the semantic
    spec and regression-test reference). bands x block_bits interpreted
    fold evaluations per row made signature computation the dominant
    cost of the banded blocking (guide §4.2); the numpy kernel
    accumulates every plane's dot per vector INDEX in the same left-fold
    order, so every sign — hence every band signature and the candidate
    set — is unchanged. Returns array<long> of the ``bands`` signatures;
    map-only (one ArrowEvalPython node)."""
    import numpy as np
    import pandas as pd

    W = np.array([_srp_weights(p, dim)
                  for p in range(bands * block_bits)])   # (planes, dim)

    def sigs(v):
        n = len(v)
        if n == 0:
            return pd.Series([], dtype=object)
        bad = v.isna().to_numpy()
        zero_sig = np.zeros(bands, dtype=np.int64)
        if bad.all():
            # a null vector folds to a null dot; null > 0 is null, so
            # when() falls to otherwise(0) -> every bit 0, signature 0
            return pd.Series([zero_sig] * n)
        A = np.array([np.asarray(x, dtype=np.float64) for x in v[~bad]])
        acc = np.zeros((len(A), W.shape[0]))
        for i in range(dim):
            acc = acc + A[:, i, None] * W[None, :, i]
        bits = acc > 0
        out = np.zeros((len(A), bands), dtype=np.int64)
        for band in range(bands):
            for j in range(block_bits):
                out[:, band] |= (bits[:, band * block_bits + j]
                                 .astype(np.int64) << j)
        if not bad.any():
            return pd.Series(list(out))
        res = np.full(n, None, dtype=object)
        res[~bad] = list(out)
        res[bad] = [zero_sig] * int(bad.sum())
        return pd.Series(res)

    sigs.__annotations__ = {"v": pd.Series, "return": pd.Series}
    return F.pandas_udf(sigs, "array<bigint>")


def embedding_dup_pairs(df: DataFrame, *, vec_col: str = "embedding",
                        id_col: str = "vec_id",
                        threshold: float = 0.95,
                        block_bits: int = 0,
                        bands: int = 1,
                        dim: int | None = None) -> DataFrame:
    """Near-dup pairs by cosine >= threshold. With ``block_bits`` > 0,
    banded SRP-LSH blocking: ``bands`` independent signatures of
    ``block_bits`` hyperplane signs each; candidates = pairs sharing ANY
    band's full signature (same band-union structure as MinHash LSH), then
    exact cosine verification. Per-band collision for angle t is
    (1-t/pi)^block_bits, so recall = 1-(1-p)^bands — size bands for the
    target threshold. Never all-pairs when block_bits > 0; 0 = exact
    all-pairs (for modest inputs or already-blocked data)."""
    base = ensure_parallelism(df).select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    a, b = base.alias("a"), base.alias("b")
    if block_bits > 0:
        if dim is None:
            # one tiny plan-time job (ingest-seam convention, like the
            # IVF centroid literals): the hyperplane literals need the
            # dimensionality
            dim = int(df.select(F.size(vec_col)).first()[0])

        banded = base.select(
            "id", F.posexplode(
                _srp_sigs_udf(bands, block_bits, dim)(F.col("v")))
            .alias("band", "sig"))
        ba, bb = banded.alias("ba"), banded.alias("bb")
        cands = (ba.join(bb, (F.col("ba.band") == F.col("bb.band"))
                         & (F.col("ba.sig") == F.col("bb.sig"))
                         & (F.col("ba.id") < F.col("bb.id")))
                 .select(F.col("ba.id").alias("id_a"),
                         F.col("bb.id").alias("id_b"))
                 .dropDuplicates())
        pairs = (cands
                 .join(base.select(F.col("id").alias("id_a"),
                                   F.col("v").alias("va")), "id_a")
                 .join(base.select(F.col("id").alias("id_b"),
                                   F.col("v").alias("vb")), "id_b"))
        sim = cosine(F.col("va"), F.col("vb"))
    else:
        pairs = (a.join(b, F.col("a.id") < F.col("b.id"))
                 .select(F.col("a.id").alias("id_a"),
                         F.col("b.id").alias("id_b"),
                         F.col("a.v").alias("va"), F.col("b.v").alias("vb")))
        sim = cosine(F.col("va"), F.col("vb"))
    return (pairs.withColumn("cosine", F.round(sim, 6))
            .filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine"))


_ = Window  # (window paging used by callers)


# -- cluster + survivor selection --------------------------------------------------

def dedup_clusters(pairs: DataFrame, *, id_a: str = "id_a",
                   id_b: str = "id_b", max_iter: int = 15) -> DataFrame:
    """Collapse near-dup PAIRS into duplicate clusters: connected components
    over the pair graph. Returns (id, cluster) for every id that appears in
    a pair; cluster = min id of the component — the canonical
    representative.

    Two regimes: the pair graph is the OUTPUT of dedup (bounded by the
    duplicate count, not the corpus), so even at 100 TB it is usually
    orders of magnitude smaller than the input. Within the driver bound
    (:func:`~vivace_graph_v3_spark.util.fits_driver`) the component
    labels come from a single-pass union-find on the driver
    (:func:`~vivace_graph_v3_spark.util.union_find_min`) — one job, no
    iteration. Past it, :func:`~vivace_graph_v3_spark.operators.
    graph_algorithms.min_label_fixpoint` over both orientations of the
    pairs (shallow dup clusters converge in a few rounds). The local
    branch streams rows (``toLocalIterator``), not Arrow: ids may be
    structs (grid DBSCAN cells), which Arrow hands back as unhashable
    dicts."""
    # imported here: the operators package imports this module
    from vivace_graph_v3_spark.operators.graph_algorithms import (
        min_label_fixpoint)

    # the symmetric closure reads `pairs` twice (forward + reversed branch
    # of the union); pair generators are the expensive half of the pipeline
    # (MinHash banding, shingle joins), so materialize the pair list ONCE
    # and build both branches from the checkpointed rows — without this the
    # whole upstream dedup pipeline executes twice before iteration starts
    with materialized() as m:
        pairs, n_pairs = m.checkpoint(
            pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst")))
        if fits_driver(n_pairs):
            comp = union_find_min((r["src"], r["dst"])
                                  for r in pairs.toLocalIterator())
            id_type = pairs.schema["src"].dataType
            schema = T.StructType([T.StructField("id", id_type),
                                   T.StructField("cluster", id_type)])
            return local_frame(pairs.sparkSession, list(comp.items()), schema)
        edges = m.persist(
            pairs.unionByName(pairs.select(F.col("dst").alias("src"),
                                           F.col("src").alias("dst")))
            .dropDuplicates())
        return m.keep(min_label_fixpoint(
            edges, edges.select(F.col("src").alias("id")).dropDuplicates()
            .withColumn("lab", F.col("id")),
            max_iter=max_iter).withColumnRenamed("lab", "cluster"))


def dedup_survivors(docs: DataFrame, pairs: DataFrame, *,
                    id_col: str = "doc_id") -> DataFrame:
    """The end product of the dedup pipeline: one canonical survivor (min
    id) per duplicate cluster, plus every unpaired doc — i.e. the corpus
    with near-duplicates REMOVED. Input pairs come from any pair generator
    (exact, ngram, MinHash-LSH, SimHash, embedding)."""
    labels = dedup_clusters(pairs)
    victims = labels.filter(F.col("cluster") != F.col("id")).select("id")
    return docs.join(victims.withColumnRenamed("id", id_col), id_col,
                     "left_anti")


# -- incremental (ingest-time index + batch probe) -----------------------------

class MinhashIndex:
    """The persisted half of INCREMENTAL near-dedup: at 100 TB you never
    re-pair the whole corpus when a new crawl lands — you keep the banded
    posting table (|corpus| x bands rows, bucketed by (band, bucket)) and
    a per-doc verification side (shingle set + signature) on disk, and
    each new batch probes them. Write once at ingest; probe cost scales
    with the BATCH, not the corpus."""

    def __init__(self, postings: DataFrame, side: DataFrame):
        self.postings = postings  # (id, band, bucket)
        self.side = side          # (id, sh, sz, minhash)


def minhash_index(df: DataFrame, *, text_col: str = "text",
                  id_col: str = "doc_id", n: int = 3,
                  num_hashes: int = 64, bands: int = 16) -> MinhashIndex:
    """Build the ingest-time index frames for ``minhash_dedup_incremental``.
    Both frames are one map-only pass over the corpus."""
    sigs = minhash_signatures(df, text_col=text_col, id_col=id_col, n=n,
                              num_hashes=num_hashes)
    postings = band_rows(sigs, bands=bands,
                         rows_per_band=num_hashes // bands)
    side = sigs.select("id", F.col("__sh").alias("sh"),
                       F.size("__sh").alias("sz"), "minhash")
    return MinhashIndex(postings, side)


def minhash_dedup_incremental(new_docs: DataFrame, index: MinhashIndex, *,
                              text_col: str = "text", id_col: str = "doc_id",
                              n: int = 3, num_hashes: int = 64,
                              bands: int = 16,
                              threshold: float = 0.8) -> DataFrame:
    """Near-dups of a NEW batch against an already-indexed corpus:
    (new_id, dup_of, jaccard) for every new doc whose exact shingle
    Jaccard with an indexed doc clears ``threshold``. New-vs-new pairs
    within the batch are the ordinary ``minhash_dedup_pairs`` job and are
    deliberately out of scope here.

    Scale shape: the batch's band rows hash-join the persisted postings
    on (band, bucket) — with the postings bucketed on those keys this is
    a co-located join that never shuffles the corpus; the estimate
    prefilter (free from the signatures) then bounds the exact-verify
    join to surviving candidates only."""
    with materialized() as m:
        sigs = m.persist(minhash_signatures(new_docs, text_col=text_col,
                                            id_col=id_col, n=n,
                                            num_hashes=num_hashes))
        bnew = band_rows(sigs, bands=bands,
                         rows_per_band=num_hashes // bands)
        cands = (bnew.alias("a")
                 .join(index.postings.alias("b"),
                       (F.col("a.band") == F.col("b.band"))
                       & (F.col("a.bucket") == F.col("b.bucket"))
                       & (F.col("a.id") != F.col("b.id")))
                 .select(F.col("a.id").alias("new_id"),
                         F.col("b.id").alias("dup_of"))
                 .dropDuplicates())
        old_side = index.side.selectExpr("id AS dup_of", "sh AS sh_b",
                                         "sz AS sz_b", "minhash AS mh_b")
        joined = (cands.join(_minhash_side(sigs, "new_id", "a"), "new_id")
                  .join(old_side, "dup_of"))
        return m.keep(_minhash_verified(m, joined, num_hashes, threshold,
                                        "new_id", "dup_of"))


# -- intra-corpus duplicated-text rate ----------------------------------------

def duplicate_span_stats(df: DataFrame, *, text_col: str = "text",
                         id_col: str = "doc_id", n: int = 10) -> DataFrame:
    """Per-document duplicated-text rate: the fraction of a document's
    distinct word ``n``-gram shingles that occur in at least one OTHER
    document — the corpus-level substring-duplication diagnostic that
    motivates training-data dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better": repeated spans dominate
    memorization). Documents shorter than ``n`` words are excluded (they
    have no n-gram spans).

    Returns (id, n_spans, n_dup, dup_rate) with the integer
    round-half-up ratio recipe, so the 6-decimal rate is bit-identical
    in any engine.

    Scale shape: one map-side-combined shuffle on the 64-bit shingle
    hash for document frequencies, one shuffle joining frequencies back,
    one per-doc aggregate — cost is O(total shingles), never pairwise.
    Because shingles are distinct per document (shingle_hashes
    dedupes), the shingle count per key IS the document frequency; a
    shingle shared by k docs costs k join rows, bounded by the
    duplication it measures. Eager: the call runs one job checkpointing
    the shingle base, which feeds BOTH the frequency aggregate and the
    join back (see _shingle_base); the returned frame reads it and holds
    it until the frame is collected."""
    with materialized() as m:
        base = _shingle_base(m, df, text_col=text_col, id_col=id_col, n=n)
        inv = base.select("id", "sz", F.explode("sh").alias("shingle"))
        dfreq = inv.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        per_doc = (inv.join(dfreq, "shingle")
                   .groupBy("id")
                   .agg(F.any_value("sz").alias("n_spans"),
                        F.sum(F.when(F.col("df") >= 2, 1).otherwise(0))
                        .alias("n_dup")))
        rate = (F.expr("(n_dup * 2000000 + n_spans) div (n_spans * 2)")
                .cast("double") / 1e6)
        return m.keep(per_doc.select("id", "n_spans", "n_dup",
                                     rate.alias("dup_rate")))


def dedup_cluster_sizes(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Duplicate-cluster size distribution for the exact-dedup pass: one
    row per cluster size with the cluster count, document count, and
    each size's share of the corpus in integer ppm — the one-screen
    curation report ("how much of this crawl is 10-way duplicated?")
    every dedup run prints before anything is dropped.

    Same normalization + 64-bit fingerprint as :func:`exact_dedup`, so
    the report describes exactly what that pass would keep. Scale: the
    corpus collapses in one fingerprint hash-shuffle to (fp, size), then
    a size-domain-bounded second aggregate — never a text shuffle."""
    fp = F.xxhash64(normalized_text(F.col(text_col)))
    clusters = (df.select(fp.alias("__fp"))
                .groupBy("__fp").agg(F.count(F.lit(1)).alias("size")))
    total = clusters.agg(F.sum("size").alias("n_total"))
    return (clusters.groupBy("size")
            .agg(F.count(F.lit(1)).alias("n_clusters"))
            .crossJoin(F.broadcast(total))
            .select(F.col("size").cast("long").alias("size"),
                    F.col("n_clusters").cast("long").alias("n_clusters"),
                    (F.col("size") * F.col("n_clusters")).cast("long")
                    .alias("n_docs"),
                    F.expr("size * n_clusters * 1000000L div n_total")
                    .alias("share_ppm")))


def dedup_sampling_weights(df: DataFrame, *, text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """Repetition-aware sampling weights: every document gets weight
    1/|its exact-duplicate cluster| (integer ppm), so a corpus sampled by
    these weights sees each distinct CONTENT with equal mass no matter
    how many copies crawled in — the standard alternative to hard-drop
    dedup when provenance diversity should survive (one copy per epoch in
    expectation; cf. the duplication-discussion in Lee et al. 2022).

    One fingerprint aggregate (map-side combined) + one join back on the
    fingerprint — same keys and scale shape as dedup_exact. Returns
    (doc_id, cluster_size, weight_ppm)."""
    base = df.select(F.col(id_col),
                     F.xxhash64(normalized_text(F.col(text_col)))
                     .alias("fp"))
    sizes = base.groupBy("fp").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (base.join(sizes, "fp")
            .select(F.col(id_col), "cluster_size",
                    F.expr("(1 * 2000000 + cluster_size)"
                           " div (cluster_size * 2)").alias("weight_ppm")))


def _shingle_base(m, df: DataFrame, *, text_col: str, id_col: str, n: int,
                  strings: bool = False) -> DataFrame:
    """(id, sh, sz) with the shingle array MATERIALIZED (checkpointed in
    scope ``m``) — the shared input frame for every shingle consumer.

    Why eager: each consumer explodes ``sh`` and/or feeds it to 2+ join
    arms. Left lazy, (a) the optimizer infers ``size(sh) > 0`` from the
    explode and sinks it below the ensure_parallelism exchange, so the
    whole interpreted shingle tree is evaluated inside the (often
    single-task) scan stage — the exact trap ``has_min_tokens`` exists to
    dodge — and (b) a self-join rebuilds the subtree once per arm (Spark
    has no subplan reuse across arms). One checkpoint = one parallel
    shingle build total (guide §5); the frame is O(corpus shingles), the
    same footprint any single consumer materializes anyway."""
    sh = (shingle_strings(F.col(text_col), n=n) if strings
          else shingle_hashes(F.col(text_col), n))
    return m.checkpoint(ensure_parallelism(df)
                        .filter(has_min_tokens(F.col(text_col), n))
                        .select(F.col(id_col).alias("id"), sh.alias("sh"))
                        .withColumn("sz", F.size("sh")))[0]


def _minhash_md5_sigs(base: DataFrame, num_hashes: int) -> DataFrame:
    """md5 MinHash signatures from a ``_shingle_base(strings=True)``
    frame, as whole-stage-codegen expressions: explode the shingles and
    min-aggregate ``num_hashes`` md5 permutation columns per document —
    the codegen replacement for the interpreted nested-``transform`` fold
    (CodegenFallback, guide §4.2/§4.4). Values are bit-identical: per
    position i, min over the document's distinct shingles of
    md5_hash64(s || '#' || i) either way; n_shingles == size(sh) because
    shingles are per-doc distinct and the base filter guarantees >= 1.
    Returns (id, n_shingles, sig array<long>[num_hashes])."""
    inv = base.select("id", F.explode("sh").alias("shingle"))
    mins = [F.min(md5_hash64(F.concat_ws("#", F.col("shingle"),
                                         F.lit(str(i))))).alias(f"__h{i}")
            for i in range(num_hashes)]
    return (inv.groupBy("id")
            .agg(F.count(F.lit(1)).cast("int").alias("n_shingles"), *mins)
            .select("id", "n_shingles",
                    F.array(*[f"__h{i}" for i in range(num_hashes)])
                    .alias("sig")))


def minhash_signatures_md5(df: DataFrame, *, text_col: str = "text",
                           id_col: str = "doc_id", num_hashes: int = 16,
                           shingle: int = 3) -> DataFrame:
    """MinHash signatures whose permutation hashes a SQL engine can
    reproduce bit-for-bit: h_i(s) = md5_hash64(s || '#' || i) over the
    distinct word-shingle STRINGS (shingle_strings), min-reduced per
    position — the cross-engine sibling of :func:`minhash_signatures`
    (whose seeded xxhash64 has no DuckDB twin). k x |shingles| md5 calls
    per document, all whole-stage codegen (one checkpointed shingle
    build + explode + min-aggregate; the nested-transform fold this
    replaces was interpreted); use for oracle-checked audits, keep the
    xxhash64 path for production throughput.

    Returns (id, n_shingles, sig array<long>[num_hashes]); documents with
    zero shingles are dropped (no meaningful signature). Eager: building
    the frame materializes the shingle checkpoint the frame holds."""
    with materialized() as m:
        base = _shingle_base(m, df, text_col=text_col, id_col=id_col,
                             n=shingle, strings=True)
        return m.keep(_minhash_md5_sigs(base, num_hashes))


def _shingle_pair_candidates(base: DataFrame) -> DataFrame:
    """All pairs of ``base`` documents (a :func:`_shingle_base` frame)
    sharing >= 1 shingle, with exact intersection / union sizes — the
    inverted-index pair generator of :func:`minhash_estimate_audit`
    (never an all-pairs join; a shingle in df documents costs df² join
    rows). Returns (id_a, id_b, inter, sz_a, sz_b). Sizes ride the group
    keys (sz is functionally determined by id — identical values, none
    of the ``first()`` valueSet machinery) and are re-wrapped nullable
    so the output schema is unchanged."""
    inv = base.select("id", "sz", F.explode("sh").alias("shingle"))
    a, b = inv.alias("a"), inv.alias("b")
    return (a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                   & (F.col("a.id") < F.col("b.id")))
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                     F.col("a.sz").alias("sz_a"), F.col("b.sz").alias("sz_b"))
            .agg(F.count(F.lit(1)).alias("inter"))
            .select("id_a", "id_b", "inter",
                    F.when(F.col("sz_a").isNotNull(),
                           F.col("sz_a")).alias("sz_a"),
                    F.when(F.col("sz_b").isNotNull(),
                           F.col("sz_b")).alias("sz_b")))


def minhash_estimate_audit(df: DataFrame, *, text_col: str = "text",
                           id_col: str = "doc_id", num_hashes: int = 16,
                           shingle: int = 3,
                           min_exact_ppm: int = 200000) -> DataFrame:
    """Sketch-accuracy audit: for every candidate pair at exact Jaccard
    >= ``min_exact_ppm``, the MinHash-ESTIMATED Jaccard (matching
    signature positions / k) next to the exact one — the measured-error
    table that picks the signature length k before a 100 TB dedup run
    (Broder 1997: per-position match probability IS the Jaccard; the
    estimator's stderr is sqrt(J(1-J)/k)).

    Signatures are md5-derived (minhash_signatures_md5) so a SQL oracle
    reproduces every bit; pairs come from the inverted shingle index
    (exact, bounded buckets), never all-pairs. Returns (id_a, id_b,
    n_matches, est_ppm, exact_ppm, err_ppm)."""
    # one shingle checkpoint feeds the pair generator's two self-join
    # arms AND the signature aggregate (guide §5: materialize the shared
    # frame once instead of three subtree rebuilds)
    with materialized() as m:
        base = _shingle_base(m, df, text_col=text_col, id_col=id_col,
                             n=shingle, strings=True)
        pairs = _shingle_pair_candidates(base)
        pairs = (pairs.withColumn(
            "exact_ppm", F.expr("inter * 1000000L div (sz_a + sz_b - inter)"))
            .filter(F.col("exact_ppm") >= int(min_exact_ppm)))
        # the signature frame feeds BOTH join arms (sa, sb) and Spark does
        # not reuse subplans across arms — without the checkpoint the
        # k x |shingles| md5 aggregate executed twice
        sigs, _ = m.checkpoint(_minhash_md5_sigs(base, num_hashes))
        sa = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
        sb = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
        return m.keep(
            pairs.join(sa, "id_a").join(sb, "id_b")
            .withColumn("n_matches",
                        F.expr("size(filter(zip_with(sig_a, sig_b,"
                               " (x, y) -> x = y), b -> b))").cast("long"))
            .withColumn("est_ppm",
                        F.expr(f"n_matches * 1000000L div {num_hashes}"))
            .select("id_a", "id_b", "n_matches", "est_ppm", "exact_ppm",
                    F.expr("abs(est_ppm - exact_ppm)").alias("err_ppm")))


def lsh_band_tuning(df: DataFrame, *, text_col: str = "text",
                    id_col: str = "doc_id", num_hashes: int = 16,
                    shingle: int = 3, true_threshold_ppm: int = 500000,
                    bands_options: tuple = (16, 8, 4, 2)) -> DataFrame:
    """LSH banding tuning table: for each (bands b, rows r = k/b) split of
    the k-position md5 MinHash signature, the measured candidate-pair
    volume, precision, and recall against exact Jaccard >=
    ``true_threshold_ppm`` — the table that picks the banding before a
    100 TB near-dup pass (more bands = higher recall AND more candidate
    volume; the S-curve threshold is (1/b)^(1/r)).

    A pair is a config's candidate iff some band's r signature positions
    all match — counted by ONE bucket self-join over every config's
    bands at once (a cfg column in the band key; one shuffle and one job
    where a per-config loop ran four), so candidate generation is
    output-bounded, never an all-pairs or pair-superset scan. The
    ground-truth pair set comes from a rarest-first prefix filter over
    the shingle base (:func:`_prefix_jaccard_pairs`), verified by exact
    Jaccard >= t: complete by the prefix lemma, so it equals the truth
    set of any complete candidate generator, while a boilerplate
    shingle shared by most documents stays out of every prefix instead
    of costing df² join rows. Caught
    counts for all configs ride one aggregate over the (small) truth
    set. Band equality implies a shared min-shingle (64-bit md5
    collisions aside), so the bucket-join candidates equal the
    superset-defined candidate sets an oracle computes. Returns one row
    per config: (bands, rows_per_band, n_candidates, n_true_total,
    n_caught, precision_ppm, recall_ppm)."""
    # one shingle checkpoint feeds the pair truth and the signature
    # aggregate; the signature checkpoint feeds the band frame and both
    # tj join arms (guide §5). The table is built on the driver, so the
    # scope releases every checkpoint on return.
    with materialized() as m:
        base = _shingle_base(m, df, text_col=text_col, id_col=id_col,
                             n=shingle, strings=True)
        sigs, _ = m.checkpoint(
            _minhash_md5_sigs(base, num_hashes).select("id", "sig"))
        truth, n_true = m.checkpoint(
            _prefix_jaccard_pairs(base, int(true_threshold_ppm)))
        tj = (truth
              .join(sigs.selectExpr("id AS id_a", "sig AS sig_a"), "id_a")
              .join(sigs.selectExpr("id AS id_b", "sig AS sig_b"), "id_b"))
        # candidates: ONE bucket self-join across all configs' bands;
        # caught: every config's band predicate in ONE aggregate over tj
        band_structs, caught_aggs = [], []
        for cfg_b in bands_options:
            r = num_hashes // cfg_b
            band_structs += [F.struct(
                F.lit(cfg_b).alias("cfg"), F.lit(j).alias("j"),
                F.slice("sig", j * r + 1, r).alias("bs"))
                for j in range(cfg_b)]
            caught_aggs.append(F.coalesce(F.sum(F.when(F.expr(
                f"exists(sequence(0, {cfg_b - 1}), j -> "
                f"slice(sig_a, j * {r} + 1, {r})"
                f" = slice(sig_b, j * {r} + 1, {r}))"), 1).otherwise(0)),
                F.lit(0)).alias(f"c{cfg_b}"))
        bands = sigs.select("id",
                            F.explode(F.array(*band_structs)).alias("band"))
        x, y = bands.alias("x"), bands.alias("y")
        cand_counts = {
            row["cfg"]: row["n"] for row in
            (x.join(y, (F.col("x.band.cfg") == F.col("y.band.cfg"))
                    & (F.col("x.band.j") == F.col("y.band.j"))
                    & (F.col("x.band.bs") == F.col("y.band.bs"))
                    & (F.col("x.id") < F.col("y.id")))
             .select(F.col("x.band.cfg").alias("cfg"),
                     F.col("x.id"), F.col("y.id"))
             .dropDuplicates()
             .groupBy("cfg").agg(F.count(F.lit(1)).alias("n"))
             .collect())}
        caught_row = tj.agg(*caught_aggs).first()
        rows = []
        for cfg_b in bands_options:
            r = num_hashes // cfg_b
            n_cand = cand_counts.get(cfg_b, 0)
            n_caught = int(caught_row[f"c{cfg_b}"])
            rows.append((cfg_b, r, n_cand, n_true, n_caught,
                         n_caught * 1000000 // n_cand if n_cand else None,
                         n_caught * 1000000 // n_true if n_true else None))
        return local_frame(df.sparkSession, rows, T.StructType.fromDDL(
            "bands long, rows_per_band long, n_candidates long, "
            "n_true_total long, n_caught long, precision_ppm long, "
            "recall_ppm long"))


def _prefix_postings(base: DataFrame, t_ppm: int) -> DataFrame:
    """(id, shingle): each ``base`` document's ``|A| - ceil(t·|A|) + 1``
    rarest shingles, t = ``t_ppm`` / 10^6. By the prefix lemma (SSJoin,
    Chaudhuri et al. 2006), J(A, B) >= t puts the rarest shared shingle
    in both prefixes; the ceiling is exact in integers."""
    return _rarest_prefix(
        base.select("id", "sz", F.explode("sh").alias("shingle")),
        F.greatest(F.first("sz") + 1 - F.expr(
            f"({int(t_ppm)} * first(sz) + 999999) div 1000000"), F.lit(0)))


def _prefix_jaccard_pairs(base: DataFrame, t_ppm: int) -> DataFrame:
    """Pairs (id_a < id_b) of ``base`` documents with ``inter * 10^6 div
    |A ∪ B| >= t_ppm``: prefix candidates, verified exactly."""
    pre = _prefix_postings(base, t_ppm)
    a, b = pre.alias("a"), pre.alias("b")
    cand = (a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                   & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .dropDuplicates())
    return (cand
            .join(base.selectExpr("id AS id_a", "sh AS sh_a", "sz AS sz_a"),
                  "id_a")
            .join(base.selectExpr("id AS id_b", "sh AS sh_b", "sz AS sz_b"),
                  "id_b")
            .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
            .filter(F.expr(f"inter * 1000000L div (sz_a + sz_b - inter)"
                           f" >= {int(t_ppm)}"))
            .select("id_a", "id_b"))


# -- edit-distance (PassJoin) --------------------------------------------------

def edit_distance_pairs(df: DataFrame, *, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 4,
                        min_len: int = 20) -> DataFrame:
    """Near-duplicate pairs by exact Levenshtein distance <= ``k`` on the
    full whitespace-normalized text — the fuzzy-dedup pass shingle Jaccard
    misses (a handful of scattered single-character edits barely move an
    edit distance but destroy every 3-gram shingle that crosses them).

    Candidate generation is PassJoin segment blocking (Li, Deng & Feng,
    "PASS-JOIN: a partition-based method for similarity joins", VLDB 2011):
    partition each string s into ``k+1`` even segments; by pigeonhole, any
    t with ed(s, t) <= k contains at least one of s's segments EXACTLY, at
    a start position shifted by at most k. So the indexed side emits its
    own k+1 segments keyed by (len(s), segment-index, substring), the
    probe side emits — for each partner length l1 in [len(t)-k, len(t)+k]
    — the substrings of t at l1's segment positions shifted by d in
    [-k, k], and candidates are an equi-join on (l1, seg, substring):
    NEVER an all-pairs scan. Probe fan-out is a constant bound,
    (2k+1)^2 (k+1) rows per document before dedup (405 at k=4),
    independent of corpus volume; join buckets are keyed by ~len/(k+1)-char
    aligned substrings, so bucket width is duplicate-cluster-bounded (the
    same bound every pair generator in this module carries; the tighter
    segment-index-dependent shift range of the paper is a further constant-
    factor cut left on the table for clarity). Survivors are verified with
    the built-in JVM ``levenshtein`` (codegen, no Python).

    Returns distinct (id_a, id_b, edit_distance), id_a < id_b. Exact: the
    oracle replays the identical partition + probe construction in SQL.
    Texts shorter than ``min_len`` after normalization are out of scope
    (segments degenerate; short-text near-dup is the shingle passes' job)."""
    n = k + 1
    # spread the (often single-file) input before the interpreted probe
    # fan-out below — (2k+1)^2(k+1) rows per doc through CodegenFallback
    # transforms serialized on one core when the scan is one partition
    keyed = (ensure_parallelism(df)
             .select(F.col(id_col).alias("id"),
                     normalized_text(F.col(text_col)).alias("key"))
             .filter(F.length("key") >= min_len)
             .withColumn("len", F.length("key")))

    # The fan-out tables carry an 8-byte xxhash64 of each substring, not
    # the substring itself — the blocking shuffle moves (id, len, seg, h)
    # rows only. A hash collision can only ADD a candidate pair, and every
    # candidate is levenshtein-verified below, so the result set is
    # identical to joining on the raw substrings (the oracle does the
    # latter) while the shuffle is ~10x narrower.

    # indexed side: s's own k+1 segments at its own length's partition
    segs = (keyed.select(
        "id", "len",
        F.expr(f"""explode(transform(sequence(0, {k}), seg -> struct(
            seg as seg,
            xxhash64(substring(key, cast(seg * len div {n} + 1 as int),
                     cast((seg + 1) * len div {n} - seg * len div {n} as int)))
              as h)))""").alias("p"))
        .select("id", "len", "p.seg", "p.h"))

    # probe side: for each partner length l1 within +-k, l1's segment
    # positions shifted by d in [-k, k], clipped to t's bounds
    probes = (keyed.select(
        "id", F.col("len").alias("tlen"),
        F.expr(f"""explode(flatten(flatten(
          transform(sequence(greatest(len - {k}, {min_len}), len + {k}), l1 ->
            transform(sequence(0, {k}), seg ->
              transform(sequence(-{k}, {k}), d -> struct(
                l1 as len, seg as seg,
                cast(seg * l1 div {n} + 1 + d as int) as st,
                cast((seg + 1) * l1 div {n} - seg * l1 div {n} as int)
                  as ln)))))))""").alias("p"),
        "key")
        .filter((F.col("p.st") >= 1)
                & (F.col("p.st") + F.col("p.ln") - 1 <= F.col("tlen")))
        .select("id", F.col("p.len").alias("len"), F.col("p.seg").alias("seg"),
                F.expr("xxhash64(substring(key, p.st, p.ln))").alias("h"))
        .dropDuplicates(["id", "len", "seg", "h"]))

    cand = (segs.alias("a")
            .join(probes.alias("b"), ["len", "seg", "h"])
            .filter(F.col("a.id") != F.col("b.id"))
            .select(F.least("a.id", "b.id").alias("id_a"),
                    F.greatest("a.id", "b.id").alias("id_b"))
            .dropDuplicates())

    ka = keyed.select(F.col("id").alias("id_a"), F.col("key").alias("key_a"))
    kb = keyed.select(F.col("id").alias("id_b"), F.col("key").alias("key_b"))
    return (cand.join(ka, "id_a").join(kb, "id_b")
            .select("id_a", "id_b",
                    F.levenshtein("key_a", "key_b").alias("edit_distance"))
            .filter(F.col("edit_distance") <= k))


def cluster_size_profile(df: DataFrame, *, text_col: str = "text",
                         id_col: str = "doc_id",
                         prefix_chars: int | None = None) -> DataFrame:
    """Duplication-structure report over the exact-dedup clusters: the
    histogram of cluster sizes (how many normalized-text families of
    each multiplicity exist) plus each size's share of the corpus — the
    one-page answer to "is duplication a few huge families or a long
    tail of pairs", which decides whether dedup should run family-cap
    first (huge families) or pair-verify first (tail).

    ``prefix_chars`` switches the family key from the whole normalized
    text to its first N characters (the cross_source_leakage prefix
    fingerprint) — the truncated-copy / shared-boilerplate families
    whole-text hashing calls distinct.

    Shapes: one hash aggregate on the 64-bit normalized-text
    fingerprint (the exact_dedup shuffle), one re-aggregation of the
    CLUSTER frame to the size histogram (bounded by distinct sizes),
    exact integer shares in ppm. Returns one row per cluster size:
    (cluster_size, n_clusters, n_docs, docs_share_ppm,
    dup_docs = docs beyond each cluster's survivor)."""
    norm = normalized_text(F.col(text_col))
    if prefix_chars is not None:
        norm = F.substring(norm, 1, prefix_chars)
    fp = F.xxhash64(norm)
    sizes = (df.select(fp.alias("__fp"), F.col(id_col))
             .groupBy("__fp").agg(F.count(F.lit(1)).alias("s")))
    hist = (sizes.groupBy("s")
            .agg(F.count(F.lit(1)).cast("long").alias("n_clusters")))
    total = df.count()
    return (hist.select(
        F.col("s").cast("long").alias("cluster_size"),
        "n_clusters",
        (F.col("s") * F.col("n_clusters")).cast("long").alias("n_docs"),
        F.expr(f"s * n_clusters * 1000000 div {int(total)}L")
        .cast("long").alias("docs_share_ppm"),
        ((F.col("s") - 1) * F.col("n_clusters")).cast("long")
        .alias("dup_docs"))
        .orderBy("cluster_size"))
