"""Hybrid retrieval: fuse lexical (BM25) and dense (embedding-cosine)
rankings with Reciprocal Rank Fusion (Cormack, Clarke & Buettcher 2009).

RRF(d) = Σ_lists 1 / (rrf_k + rank_list(d)), with documents absent from a
list contributing 0. Rank fusion needs only the two top-k lists — k rows
each — so the fusion join is trivially small no matter the corpus size;
all the heavy lifting stays in the two underlying retrievers, each already
shaped for scale (BM25 touches the query's inverted-index slice with a
TakeOrdered top-k; the dense side broadcasts the query vector and scans
map-only). The fused score is a fixed-order sum of two exactly-rounded
IEEE divisions, so it is bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from vivace_graph_v3_spark.pipeline.dedup import cosine
from vivace_graph_v3_spark.pipeline.text import bm25_topk
from vivace_graph_v3_spark.util import materialized


def dense_topk(emb: DataFrame, query_vec: list[float], k: int, *,
               vec_col: str = "embedding", id_col: str = "vec_id",
               exclude_id: int | None = None) -> DataFrame:
    """Exact top-k by cosine against ONE query vector supplied as a
    plan-time array literal: the corpus scan is map-only (no join at all,
    not even a broadcast), then TakeOrderedAndProject keeps k rows.
    Returns (id, cosine, rank)."""
    qv = F.array(*[F.lit(float(x)) for x in query_vec])
    c = emb.select(F.col(id_col).alias("id"),
                   F.round(cosine(F.col(vec_col), qv), 6).alias("cosine"))
    if exclude_id is not None:
        c = c.filter(F.col("id") != exclude_id)
    top = c.orderBy(F.col("cosine").desc(), F.col("id").asc()).limit(k)
    w = Window.orderBy(F.col("cosine").desc(), F.col("id").asc())
    return (top.withColumn("rank", F.row_number().over(w))
            .select("id", "cosine", "rank"))


def hybrid_rrf(docs: DataFrame, emb: DataFrame, query_terms: list[str],
               query_vec: list[float], *, k: int = 10, k_each: int = 20,
               rrf_k: int = 60) -> DataFrame:
    """Fuse BM25 top-``k_each`` and dense top-``k_each`` via RRF; return
    the fused top-``k`` as (id, rrf_score, rank). Assumes doc ids and
    embedding ids share a key space (doc_id == vec_id)."""
    lex = (bm25_topk(docs, query_terms, k=k_each)
           .select("id", F.col("rank").alias("lex_rank")))
    den = (dense_topk(emb, query_vec, k_each)
           .select("id", F.col("rank").alias("den_rank")))
    fused = (lex.join(den, "id", "full_outer")
             .select("id",
                     (F.coalesce(1.0 / (F.lit(rrf_k) + F.col("lex_rank")),
                                 F.lit(0.0))
                      + F.coalesce(1.0 / (F.lit(rrf_k) + F.col("den_rank")),
                                   F.lit(0.0))).alias("s")))
    scored = fused.select("id", F.round(F.col("s"), 6).alias("rrf_score"))
    top = scored.orderBy(F.col("rrf_score").desc(), F.col("id").asc()) \
                .limit(k)
    w = Window.orderBy(F.col("rrf_score").desc(), F.col("id").asc())
    return (top.withColumn("rank", F.row_number().over(w))
            .select("id", "rrf_score", "rank"))


def rerank_topk(docs: DataFrame, emb: DataFrame, query_terms: list[str],
                query_vec: list[float], *, k: int = 10,
                k_each: int = 20) -> DataFrame:
    """Two-stage retrieve-then-rerank — the production RAG shape: a cheap
    high-recall lexical stage (BM25 top-``k_each`` over the inverted-index
    slice) followed by a dense precision stage that cosine-scores ONLY
    those candidates against the query vector. Returns the reranked
    top-``k`` as (id, cosine, rank).

    Scale: the rerank join is ``k_each`` rows broadcast against the
    embedding table (equi-join on the id, corpus side never shuffles) —
    the dense model's cost is decoupled from corpus size, which is the
    entire point of the architecture. Assumes doc_id == vec_id."""
    cand = (bm25_topk(docs, query_terms, k=k_each).select("id"))
    scored = (emb.join(F.broadcast(cand),
                       emb["vec_id"] == cand["id"], "left_semi")
              .select(F.col("vec_id").alias("id"),
                      F.round(cosine(F.col("embedding"),
                                     F.array(*[F.lit(float(x))
                                               for x in query_vec])), 6)
                      .alias("cosine")))
    top = scored.orderBy(F.col("cosine").desc(), F.col("id").asc()).limit(k)
    w = Window.orderBy(F.col("cosine").desc(), F.col("id").asc())
    return (top.withColumn("rank", F.row_number().over(w))
            .select("id", "cosine", "rank"))


def mmr_topk(emb: DataFrame, query_vec: list[float], *, k: int = 5,
             pool: int = 20, lam: float = 0.7,
             vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998) diverse
    top-k: greedily pick, k times, the candidate maximizing
    lam * cos(query, c) - (1-lam) * max_{s in selected} cos(c, s) —
    relevance traded against redundancy, the standard diversity pass over
    an ANN result list (and a near-dup-aware retrieval primitive).

    Scale shape: the greedy is inherently sequential, but only over the
    POOL (top-``pool`` by query cosine), never the corpus: the corpus
    contributes one map-only scan (dense_topk), the pool's pairwise
    cosine matrix is pool^2 tiny broadcast rows, and the k selection
    steps unroll as k lazy DataFrame stages over that matrix — bounded
    data, no driver loop over corpus rows, and an SQL engine can unroll
    the identical k CTE stages (which is exactly how the contract oracle
    verifies it). Ties break by id; cosines are 6-dp rounded so the
    trade-off arithmetic is bit-identical across engines."""
    with materialized() as m:
        cand, _ = m.checkpoint(dense_topk(emb, query_vec, pool,
                                          vec_col=vec_col, id_col=id_col)
                               .select("id", "cosine"))
        vecs = (emb.join(F.broadcast(cand.select("id")),
                         emb[id_col] == cand["id"], "left_semi")
                .select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")))
        a, b = vecs.alias("a"), vecs.alias("b")
        pairs, _ = m.checkpoint(
            a.join(b, F.col("a.id") != F.col("b.id"))
            .select(F.col("a.id").alias("id"), F.col("b.id").alias("other"),
                    F.round(cosine(F.col("a.v"), F.col("b.v")), 6)
                    .alias("sim")))
        sel = (cand.orderBy(F.col("cosine").desc(), F.col("id").asc()).limit(1)
               .select("id", "cosine", F.lit(1).alias("rank")))
        for step in range(2, k + 1):
            pen = (pairs.join(F.broadcast(sel.select(F.col("id").alias("other"))),
                              "other")
                   .groupBy("id").agg(F.max("sim").alias("maxsim")))
            remaining = cand.join(sel.select("id"), "id", "left_anti")
            scored = (remaining.join(pen, "id", "left")
                      .select("id", "cosine",
                              (F.lit(lam) * F.col("cosine")
                               - F.lit(1.0 - lam)
                               * F.coalesce(F.col("maxsim"), F.lit(0.0)))
                              .alias("mmr")))
            nxt = (scored.orderBy(F.col("mmr").desc(), F.col("id").asc())
                   .limit(1)
                   .select("id", "cosine", F.lit(step).alias("rank")))
            # checkpoint the (<= step)-row selection: each step reads `sel`
            # twice (penalty join + anti join), so a lazy chain doubles the
            # plan subtree per step — k tiny jobs beat a 2^k plan
            sel, _ = m.checkpoint(sel.unionByName(nxt))
        return m.keep(sel.select("id", "cosine", "rank"))


# 1/log2(rank+1) discounts for ranks 1..10, fixed as integer ppm literals so
# DCG accumulates in pure BIGINT (no libm log2 surface, no float sum order):
# both the Spark plan and the SQL oracle consume this same table.
NDCG_DISCOUNT_PPM = (1000000, 630930, 500000, 430677, 386853,
                     356207, 333333, 315465, 301030, 289065)


def ndcg_at_k(docs: DataFrame, queries: list[tuple[int, list[str]]], *,
              k: int = 10, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """Ranking-quality evaluation: nDCG@k of the BM25 retriever per query
    (Järvelin & Kekäläinen 2002) against a term-coverage relevance label —
    gain(doc) = number of distinct query terms present in the doc's
    whitespace token set. The eval harness every retrieval change gets
    gated on.

    All-integer contract: DCG_ppm = sum(gain_r * NDCG_DISCOUNT_PPM[r]),
    IDCG_ppm the same over the corpus's ideal (gain-sorted) top-k, and
    ndcg_ppm = DCG_ppm * 1e6 div IDCG_ppm — BIGINT end to end, so the
    oracle comparison has zero float surface.

    Scale shape: per query, gains come from ONE map-only corpus scan
    (array_intersect against a literal term array — no explode, no join);
    both the retrieved and ideal lists are TakeOrderedAndProject top-k, so
    nothing corpus-sized ever sorts globally or shuffles; the per-query
    frames that join afterwards are k rows. Queries iterate as separate
    lazy subplans unioned at the end (query batches are dozens, not
    corpus-scale).
    """
    from vivace_graph_v3_spark.pipeline.text import tokens

    spark = docs.sparkSession
    out = None
    for qid, terms in queries:
        term_arr = F.array(*[F.lit(t) for t in terms])
        gains = docs.select(
            F.col(id_col).alias("id"),
            F.size(F.array_intersect(
                F.array_distinct(tokens(F.col(text_col))), term_arr))
            .cast("long").alias("gain"))
        from vivace_graph_v3_spark.pipeline.text import bm25_topk
        retrieved = (bm25_topk(docs, terms, k=k, text_col=text_col,
                               id_col=id_col)
                     .join(gains, "id")
                     .select("rank", "gain"))
        ideal = (gains.orderBy(F.col("gain").desc(), F.col("id").asc())
                 .limit(k)
                 .select(F.row_number().over(
                     Window.orderBy(F.col("gain").desc(), F.col("id").asc()))
                     .alias("rank"), "gain"))
        disc = F.create_map(*[x for r, d in enumerate(NDCG_DISCOUNT_PPM, 1)
                              for x in (F.lit(r), F.lit(d))])

        def dcg(frame, alias):
            return (frame.select((F.col("gain")
                                  * disc[F.col("rank")]).alias("c"))
                    .agg(F.sum("c").cast("long").alias(alias)))

        row = (dcg(retrieved, "dcg_ppm")
               .crossJoin(dcg(ideal, "idcg_ppm"))
               .select(F.lit(qid).cast("long").alias("query_id"),
                       "dcg_ppm", "idcg_ppm",
                       F.expr("dcg_ppm * 1000000L div idcg_ppm")
                       .alias("ndcg_ppm")))
        out = row if out is None else out.unionByName(row)
    return out


def rank_biased_overlap(ranks_a: DataFrame, ranks_b: DataFrame, *,
                        group_col: str = "q", id_col: str = "id",
                        rank_col: str = "rank", depth: int = 10,
                        p_num: int = 9, p_den: int = 10) -> DataFrame:
    """Truncated rank-biased overlap (Webber, Moffat & Zobel, TOIS 2010)
    between two top-``depth`` rankings per group — the top-weighted
    ranking-similarity measure a retrieval pipeline uses to compare two
    scorers (RBO handles non-conjoint lists; Spearman/Kendall need the
    same item set). RBO@d = (1-p) * sum_{d=1..D} p^(d-1) * |A_d ∩ B_d|/d
    with persistence p = p_num/p_den.

    Exactness: with rational p every depth weight is an exact integer
    once scaled by S = lcm(1..D) * p_den^D — a common doc ranked (ra,
    rb) contributes the SUFFIX-SUM of weights from depth max(ra, rb),
    precomputed driver-side as literal ints, so the whole measure is
    one join + one integer aggregate and matches any engine bit-for-bit.
    Returns (group, overlap_at_depth, rbo_scaled, rbo_milli) where
    rbo_scaled / S is the [0, 1] value.

    Scale shape: inputs are already top-``depth`` lists (domain-bounded:
    |groups| * depth rows); everything here is a broadcast-sized join
    and a grid aggregate."""
    import math

    lcm = math.lcm(*range(1, depth + 1))
    # w_d = (1-p) p^(d-1) scaled by S = lcm * p_den^depth:
    #     = (p_den - p_num) * p_num^(d-1) * p_den^(depth - d) * lcm / d
    w = [(p_den - p_num) * p_num ** (d - 1) * p_den ** (depth - d)
         * (lcm // d) for d in range(1, depth + 1)]
    scale = lcm * p_den ** depth
    suffix = [sum(w[m:]) for m in range(depth)]  # suffix[m] = sum w_{m+1..D}

    a = ranks_a.select(F.col(group_col).alias("g"),
                       F.col(id_col).alias("i"),
                       F.col(rank_col).alias("ra")).filter(
        F.col("ra") <= depth)
    b = ranks_b.select(F.col(group_col).alias("g"),
                       F.col(id_col).alias("i"),
                       F.col(rank_col).alias("rb")).filter(
        F.col("rb") <= depth)
    m = F.greatest("ra", "rb")
    contrib = F.element_at(
        F.array(*[F.lit(int(s)) for s in suffix]), m.cast("int"))
    # both sides are <= |groups| * depth rows BY CONSTRUCTION (the rank
    # filter), but they come out of windows so Catalyst has no stats —
    # hint the broadcast instead of letting it fall back to sort-merge
    joined = a.join(F.broadcast(b), ["g", "i"]).select(
        "g", contrib.alias("c"))
    groups = (a.select("g").unionByName(b.select("g")).dropDuplicates())
    agg = joined.groupBy("g").agg(
        F.count(F.lit(1)).alias("overlap_at_depth"),
        F.sum("c").alias("rbo_scaled"))
    # agg is <= |groups| rows — broadcast the grid, same rationale
    return (groups.join(F.broadcast(agg), "g", "left")
            .select(F.col("g").alias(group_col),
                    F.coalesce("overlap_at_depth", F.lit(0)).cast("long")
                    .alias("overlap_at_depth"),
                    F.coalesce("rbo_scaled", F.lit(0)).cast("long")
                    .alias("rbo_scaled"),
                    F.expr(f"coalesce(rbo_scaled, 0) * 1000 div "
                           f"{scale}").cast("long").alias("rbo_milli")))
