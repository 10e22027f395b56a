"""Training-data pipeline operators over the documents/embeddings tables,
checked against DuckDB / brute-force oracles."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR, distributed_regime, duck_set, rows_set
from vivace_graph_v3_spark.pipeline.text import (
    with_token_count, with_quality_score, with_lang_id, with_fingerprint,
    with_winnowing_fingerprint)
from vivace_graph_v3_spark.pipeline.dedup import (
    exact_dedup, ngram_jaccard_pairs, minhash_dedup_pairs,
    simhash_signatures, simhash_dup_pairs, embedding_dup_pairs)
from vivace_graph_v3_spark.pipeline.similarity import (
    cosine_topk_bruteforce, ivf_ann_topk)
from vivace_graph_v3_spark.pipeline.multimodal import (
    synthesize_media, decode_and_featurize, frame_sample)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embeds(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


def test_token_count_vs_duckdb(docs, duck):
    df = with_token_count(docs).select("doc_id", "n_tokens")
    want = duck_set(duck, """
        SELECT doc_id, len(list_filter(string_split_regex(trim(text), '\\s+'),
                                       x -> x <> '')) AS n_tokens
        FROM documents
    """)
    assert rows_set(df) == want


def test_quality_score_bounds(docs):
    df = with_quality_score(docs)
    rows = df.select("quality").collect()
    assert all(0.0 <= r["quality"] <= 1.0 for r in rows)
    # synthetic docs are plain words: punctuation ratio ~0, so decent quality
    assert df.agg(F.avg("quality")).collect()[0][0] > 0.5


def test_lang_id_runs_and_is_deterministic(docs):
    a = with_lang_id(docs).select("doc_id", "lang_pred")
    b = with_lang_id(docs).select("doc_id", "lang_pred")
    assert rows_set(a) == rows_set(b)
    langs = {r["lang_pred"] for r in a.collect()}
    assert langs <= {"en", "de", "fr", "es", "zh", "und"}


def test_exact_dedup_with_injected_dups(spark, docs):
    dup = docs.limit(20).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    with_dups = docs.unionByName(dup)
    kept = exact_dedup(with_dups)
    # survivors: all original ids (min id wins), none of the injected copies
    assert kept.count() == docs.count()
    assert kept.filter(F.col("doc_id") >= 1_000_000).count() == 0


def test_fingerprint_matches_normalized_equality(docs):
    df = with_fingerprint(docs)
    n_fp = df.select("fingerprint").distinct().count()
    n_text = docs.select(F.regexp_replace(F.lower(F.trim("text")),
                                          r"\s+", " ")).distinct().count()
    assert n_fp == n_text


def test_ngram_jaccard_finds_injected_neardups(spark, docs):
    # append one word to 10 docs -> high jaccard with the original
    base = docs.limit(10)
    mutated = base.select((F.col("doc_id") + 1_000_000).alias("doc_id"),
                          F.concat("text", F.lit(" extraword")).alias("text"))
    both = docs.select("doc_id", "text").unionByName(mutated)
    pairs = ngram_jaccard_pairs(both, threshold=0.7)
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    for r in base.select("doc_id").collect():
        assert (r["doc_id"], r["doc_id"] + 1_000_000) in found


def test_minhash_lsh_finds_injected_neardups(spark, docs):
    base = docs.limit(10)
    mutated = base.select((F.col("doc_id") + 1_000_000).alias("doc_id"),
                          F.concat("text", F.lit(" extraword")).alias("text"))
    both = docs.select("doc_id", "text").unionByName(mutated)
    pairs = minhash_dedup_pairs(both, threshold=0.7)
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    for r in base.select("doc_id").collect():
        assert (r["doc_id"], r["doc_id"] + 1_000_000) in found
    # verified jaccard must kill exact-threshold misses: every reported pair
    # really has jaccard >= 0.7 (cross-check with the exact operator)
    exact = {(r["id_a"], r["id_b"])
             for r in ngram_jaccard_pairs(both, threshold=0.7).collect()}
    assert found <= exact


def test_minhash_vectorized_bit_identical(spark, docs):
    """The Arrow-vectorized minhash kernel (r9 optimization, _xxh64.py)
    must reproduce the expression fold BIT-FOR-BIT — same xxhash64
    permutation hashes, same signed minima — or LSH candidates (and so
    the oracle-pinned pair sets) silently drift."""
    from vivace_graph_v3_spark.pipeline.dedup import (
        _minhash_fold_expr, minhash_signatures, shingle_hashes,
        has_min_tokens)

    base = (docs.filter(has_min_tokens(F.col("text"), 3))
            .select(F.col("doc_id").alias("id"),
                    shingle_hashes(F.col("text"), 3).alias("__sh")))
    ref = base.select("id", _minhash_fold_expr(64).alias("minhash"))
    new = minhash_signatures(docs, num_hashes=64).select("id", "minhash")
    assert ref.count() == new.count() > 0
    mism = (ref.alias("r").join(new.alias("n"), "id")
            .filter(F.col("r.minhash") != F.col("n.minhash")).count())
    assert mism == 0


def test_cosine_and_srp_vectorized_bit_identical(spark):
    """The Arrow-vectorized cosine and banded-SRP kernels (r9
    optimization) must reproduce their expression-fold specs
    BIT-FOR-BIT — same left-fold rounding per vector index — or the
    verified pair sets and every band signature (hence the
    oracle-pinned candidate sets) silently drift."""
    import random

    from vivace_graph_v3_spark.pipeline.dedup import (
        _cosine_fold_expr, _srp_bit, _srp_sigs_udf, cosine)

    rng = random.Random(17)
    dim, bands, bits = 24, 6, 5
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)],
             [rng.uniform(-1, 1) for _ in range(dim)])
            for i in range(300)]
    df = spark.createDataFrame(rows, "id long, a array<double>, "
                                     "b array<double>")
    mism = (df.select((cosine(F.col("a"), F.col("b"))
                       != _cosine_fold_expr(F.col("a"), F.col("b")))
                      .alias("ne"))
            .filter(F.col("ne")).count())
    assert mism == 0
    sig_ref = F.array(*[
        sum([F.shiftleft(_srp_bit(F.col("a"), band * bits + j, dim), j)
             for j in range(1, bits)],
            F.shiftleft(_srp_bit(F.col("a"), band * bits, dim), 0))
        for band in range(bands)])
    mism = (df.select((_srp_sigs_udf(bands, bits, dim)(F.col("a"))
                       != sig_ref).alias("ne"))
            .filter(F.col("ne")).count())
    assert mism == 0


def test_similarity_kernels_vectorized_bit_identical(spark):
    """The Arrow-vectorized centroid-sims, LSH-bucket and PQ-encode
    kernels (r9 optimization) must reproduce their expression-form
    specs BIT-FOR-BIT, including argmin/sign tie behavior."""
    import random

    import numpy as np

    from vivace_graph_v3_spark.pipeline.similarity import (
        _cell_sims, _cell_sims_expr, _lsh_buckets_expr, _lsh_buckets_udf,
        _pq_encode_expr, _pq_encode_udf)

    rng = random.Random(23)
    dim = 16
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)])
            for i in range(200)]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    cents = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(5)]
    mism = (df.select((_cell_sims(F.col("v"), cents)
                       != _cell_sims_expr(F.col("v"), cents)).alias("ne"))
            .filter(F.col("ne")).count())
    assert mism == 0
    planes = np.array([[[rng.uniform(-1, 1) for _ in range(dim)]
                        for _ in range(4)] for _ in range(3)])
    mism = (df.select((_lsh_buckets_udf(planes)(F.col("v"))
                       != _lsh_buckets_expr("v", planes)).alias("ne"))
            .filter(F.col("ne")).count())
    assert mism == 0
    codebook = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(7)]
    ref = df.select("id", *_pq_encode_expr("v", codebook, 4, 4))
    new = df.select("id", _pq_encode_udf(codebook, 4, 4)(F.col("v"))
                    .alias("__pq")).select("id", "__pq.*")
    assert ref.count() == new.count() == 200
    mism = ref.exceptAll(new).count() + new.exceptAll(ref).count()
    assert mism == 0


def test_has_min_tokens_equals_shingle_nonempty(spark):
    """The cheap codegen prefilter must be EXACTLY the set where the
    shingle array is non-empty (incl. empty/whitespace/null text and the
    multi-space tokenization edge)."""
    from vivace_graph_v3_spark.pipeline.dedup import (has_min_tokens,
                                                      shingle_hashes)

    rows = [("", ), ("   ", ), ("one", ), ("one two", ), ("one two three", ),
            ("  a   b\tc  ", ), ("a b c d", ), (None, )]
    df = spark.createDataFrame(rows, "text string")
    for n in (2, 3, 5):
        got = df.select(
            F.coalesce(has_min_tokens(F.col("text"), n), F.lit(False))
            .alias("p"),
            (F.size(shingle_hashes(F.col("text"), n)) > 0).alias("q"))
        assert got.filter(F.col("p") != F.col("q")).count() == 0


def test_minhash_hot_bucket_star_cap(spark, docs):
    """The max_bucket hot-bucket guard (the shape of SCALING.md's
    "Round-7 SKEW probe"): a
    mass of identical docs forms one giant LSH bucket whose clique join
    is quadratic. With the cap, the over-cap bucket emits a star to its
    min id — LINEAR candidates — and the connectivity consumers
    (dedup_clusters) recover the identical components."""
    from vivace_graph_v3_spark.pipeline.dedup import (
        dedup_clusters, minhash_lsh_candidates, minhash_signatures)

    base = docs.select("doc_id", "text").limit(20)
    hot_text = base.orderBy("doc_id").first()["text"]
    hot = spark.range(200).select(
        (F.col("id") + 2_000_000).alias("doc_id"), F.lit(hot_text).alias("text"))
    both = base.unionByName(hot)
    sigs = minhash_signatures(both).persist()
    full = minhash_lsh_candidates(sigs)
    capped = minhash_lsh_candidates(sigs, max_bucket=16)
    n_full, n_capped = full.count(), capped.count()
    # the clique is quadratic in the 201-doc hot group, the star linear
    assert n_full > 201 * 100 / 2  # >= C(201,2) / pessimism margin
    assert n_capped < 3 * 201 + n_full - 201 * 200 / 2 + 1000
    # connectivity is preserved: identical clusters either way
    lab_full = {r["id"]: r["cluster"] for r in dedup_clusters(full).collect()}
    lab_capped = {r["id"]: r["cluster"]
                  for r in dedup_clusters(capped).collect()}
    comp_full = {}
    for i, c in lab_full.items():
        comp_full.setdefault(c, set()).add(i)
    comp_capped = {}
    for i, c in lab_capped.items():
        comp_capped.setdefault(c, set()).add(i)
    assert set(map(frozenset, comp_full.values())) == \
        set(map(frozenset, comp_capped.values()))
    sigs.unpersist()


def test_simhash_identical_and_neardup(spark, docs):
    base = docs.limit(5).select("doc_id", "text")
    clone = base.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    both = base.unionByName(clone)
    sigs = {r["id"]: r["simhash"]
            for r in simhash_signatures(both).collect()}
    for r in base.collect():
        assert sigs[r["doc_id"]] == sigs[r["doc_id"] + 1_000_000]
    pairs = simhash_dup_pairs(both, max_hamming=3)
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    for r in base.collect():
        assert (r["doc_id"], r["doc_id"] + 1_000_000) in found


def test_embedding_dup_pairs_exact(spark, embeds):
    # inject exact duplicates: cosine == 1
    dup = embeds.limit(5).select((F.col("vec_id") + 1_000_000).alias("vec_id"),
                                 "embedding")
    both = embeds.select("vec_id", "embedding").unionByName(dup)
    pairs = embedding_dup_pairs(both, threshold=0.999999)
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    for r in embeds.limit(5).collect():
        assert (r["vec_id"], r["vec_id"] + 1_000_000) in found


def test_cosine_topk_vs_numpy(embeds):
    import numpy as np

    queries = embeds.filter(F.col("vec_id") < 3)
    got = cosine_topk_bruteforce(embeds, queries, k=5).collect()
    rows = embeds.collect()
    mat = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    for qid in [0, 1, 2]:
        qv = mat[qid]
        sims = sorted(
            ((float(np.dot(qv, v) / (np.linalg.norm(qv) * np.linalg.norm(v))), i)
             for i, v in mat.items() if i != qid),
            key=lambda t: (-t[0], t[1]))[:5]
        want_ids = [i for _, i in sims]
        got_ids = [r["neighbor_id"] for r in sorted(
            (g for g in got if g["query_id"] == qid), key=lambda g: g["rank"])]
        assert got_ids == want_ids


def test_ivf_ann_recall(embeds):
    queries = embeds.filter(F.col("vec_id") < 10)
    exact = cosine_topk_bruteforce(embeds, queries, k=5)
    approx = ivf_ann_topk(embeds, queries, k=5, num_centroids=8, nprobe=4)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.6, f"IVF recall too low: {recall}"


def test_winnowing_fingerprint_shift_invariant(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the  quick Brown fox jumps over the lazy dog"),  # case/space
         (3, "completely different text with other words")],
        ["doc_id", "text"])
    rows = {r["doc_id"]: set(r["winnow_fp"])
            for r in with_winnowing_fingerprint(df).collect()}
    j12 = len(rows[1] & rows[2]) / len(rows[1] | rows[2])
    j13 = len(rows[1] & rows[3]) / len(rows[1] | rows[3])
    assert j12 > 0.9 and j13 < 0.2


def test_multimodal_plumbing(spark, docs):
    media = synthesize_media(docs.limit(50), "doc_id")
    feats = decode_and_featurize(media)
    rows = feats.collect()
    assert len(rows) == 50
    for r in rows:
        assert r["kind"] == "image"
        assert len(r["feature"]) == 8
        assert r["n_bytes"] > 0
    frames = frame_sample(media, every_ms=250)
    # duration 1000ms, every 250ms -> 5 frames (0,250,500,750,1000)
    assert frames.count() == 50 * 5


def test_multimodal_resize(spark, docs):
    from vivace_graph_v3_spark.pipeline.multimodal import resize_image

    media = synthesize_media(docs.limit(20), "doc_id")
    out = resize_image(media, width=8, height=4)
    rows = out.collect()
    assert len(rows) == 20
    for r in rows:
        assert r["meta"]["width"] == 8 and r["meta"]["height"] == 4
        assert r["meta"]["kind"] == "image"        # untouched meta survives
        assert len(r["media"]) == 8 * 4            # 1 byte/pixel stub
    # schema is closed under resize: featurize consumes the resized frame
    assert decode_and_featurize(out).count() == 20
    with pytest.raises(Exception) as ei:
        resize_image(media, width=8, height=4, fake=False).collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(
        ei.value, NotImplementedError)


def test_multimodal_real_decode_is_marked_stub(spark, docs):
    media = synthesize_media(docs.limit(1), "doc_id")
    with pytest.raises(Exception) as ei:
        decode_and_featurize(media, fake=False).collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(
        ei.value, NotImplementedError)


def test_ivf_recall_vs_bruteforce(spark):
    """IVF ANN quality gate: recall@10 against the exact broadcast top-k
    must stay high with nprobe=4/16 cells (the scale-path accuracy story)."""
    from vivace_graph_v3_spark.pipeline.similarity import (
        cosine_topk_bruteforce, ivf_ann_topk)

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.limit(20)
    exact = cosine_topk_bruteforce(emb, queries, 10)
    approx = ivf_ann_topk(emb, queries, 10, num_centroids=16, nprobe=4)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"recall@10 = {recall:.2f}"


def test_lsh_ann_recall_vs_bruteforce(spark):
    """Multi-probe sign-LSH quality gate: recall@10 against exact top-k."""
    from pyspark.sql import functions as F

    from vivace_graph_v3_spark.pipeline.similarity import (
        cosine_topk_bruteforce, lsh_ann_topk)

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = cosine_topk_bruteforce(emb, queries, 10)
    approx = lsh_ann_topk(emb, queries, 10)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.6, f"LSH recall too low: {recall}"


def test_dedup_clusters_and_survivors(spark):
    """Cluster labels = min id per pair-graph component; survivors = one
    canonical doc per cluster plus all unpaired docs."""
    from vivace_graph_v3_spark.pipeline.dedup import (
        dedup_clusters, dedup_survivors)

    # components: {1,2,3,4} (chain), {7,9}; 5 and 8 unpaired
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (7, 9)], ["id_a", "id_b"])
    labels = {r["id"]: r["cluster"] for r in dedup_clusters(pairs).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 9: 7}

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in (1, 2, 3, 4, 5, 7, 8, 9)], ["doc_id", "text"])
    kept = sorted(r["doc_id"] for r in dedup_survivors(docs, pairs).collect())
    assert kept == [1, 5, 7, 8]


def test_multimodal_real_decode_helpers():
    """Drive the fake=False decode/resize logic driver-side with a stub PIL
    Image module — verifies the real-path code without the Pillow extra."""
    from vivace_graph_v3_spark.pipeline import multimodal as mm

    class _StubImg:
        def __init__(self, px):
            self._px = px

        def convert(self, mode):
            assert mode == "L"
            return self

        def resize(self, wh):
            import numpy as np
            w, h = wh
            flat = np.resize(np.asarray(self._px, dtype=np.uint8), w * h)
            return _StubImg(flat.reshape(h, w))

        def save(self, buf, format=None):
            assert format == "PNG"
            import numpy as np
            buf.write(np.asarray(self._px, dtype=np.uint8).tobytes())

        def __array__(self, dtype=None):
            import numpy as np
            return np.asarray(self._px, dtype=dtype)

    class _StubImageMod:
        @staticmethod
        def open(buf):
            import numpy as np
            return _StubImg(np.frombuffer(buf.read(), dtype=np.uint8))

    feat = mm._decode_image_real(bytes(range(16)), 8, image_mod=_StubImageMod)
    assert len(feat) == 8
    assert feat == [i / 255.0 for i in range(8)]
    png = mm._resize_image_real(bytes(range(100)), 6, 4,
                                image_mod=_StubImageMod)
    assert len(png) == 6 * 4

    # without a PIL at all, the seam raises the documented error
    with pytest.raises(NotImplementedError, match="Pillow"):
        mm._decode_image_real(b"\0" * 8, 4)


def test_repetition_stats_handcomputed(spark):
    from vivace_graph_v3_spark.pipeline.text import repetition_stats

    df = spark.createDataFrame(
        [(1, "a b a b a"),       # words a:3 b:2; bigrams: ab ba ab ba -> 2/4 dup
         (2, "x y z"),           # all distinct
         (3, "w"),               # single token: no bigrams
         (4, "  ")],             # empty: excluded
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1]["n_words"] == 5
    assert got[1]["top_word_frac"] == pytest.approx(3 / 5)
    assert got[1]["dup_bigram_frac"] == pytest.approx(0.5)
    assert got[2]["dup_bigram_frac"] == 0.0
    assert got[2]["top_word_frac"] == pytest.approx(1 / 3)
    assert got[3]["n_words"] == 1 and got[3]["dup_bigram_frac"] == 0.0


def test_chunk_tokens_overlap_invariants(spark):
    from vivace_graph_v3_spark.pipeline.text import chunk_tokens

    text = " ".join(f"t{i}" for i in range(50))
    df = spark.createDataFrame([(1, text), (2, "a b"), (3, "")],
                               "doc_id long, text string")
    rows = chunk_tokens(df, chunk_size=32, stride=24).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 3 is empty -> no chunks; doc 2 -> single short chunk
    assert 3 not in by_doc
    [c2] = by_doc[2]
    assert c2["chunk_idx"] == 0 and c2["n_chunk_tokens"] == 2
    assert c2["chunk_text"] == "a b"
    # doc 1: starts at 0, 24, 48 -> 3 chunks; window 0 has 32 tokens,
    # window 1 has 26, window 2 has 2; consecutive windows overlap by 8
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    assert [c["n_chunk_tokens"] for c in c1] == [32, 26, 2]
    w0 = c1[0]["chunk_text"].split()
    w1 = c1[1]["chunk_text"].split()
    assert w0[24:32] == w1[0:8]            # overlap region identical
    assert w1[0] == "t24" and c1[2]["chunk_text"] == "t48 t49"
    # every token of the doc is covered by at least one chunk
    covered = set()
    for c in c1:
        covered.update(c["chunk_text"].split())
    assert covered == {f"t{i}" for i in range(50)}


def test_ngram_contamination_handcomputed(spark):
    from vivace_graph_v3_spark.pipeline.dedup import ngram_contamination

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "a quick brown fox jumps over a fence"),   # shares 3-gram(s)
         (3, "completely different words here entirely"),
         (10, "the quick brown fox jumps over the lazy dog extended")],
        "doc_id long, text string")
    ev = docs.filter(F.col("doc_id") == 1)
    got = {r["id"]: r["n_common"]
           for r in ngram_contamination(docs, ev, n=3).collect()}
    # doc 1 contaminates itself (7 of its own 3-grams); doc 10 contains doc
    # 1 verbatim (all 7); doc 2 shares exactly "quick brown fox",
    # "brown fox jumps", "fox jumps over"; doc 3 shares nothing
    assert got[1] == 7 and got[10] == 7
    assert got[2] == 3
    assert 3 not in got
    # min_common raises the bar
    strict = {r["id"] for r in
              ngram_contamination(docs, ev, n=3, min_common=4).collect()}
    assert strict == {1, 10}


def test_deterministic_sample_rate_and_stability(spark):
    from vivace_graph_v3_spark.pipeline.text import (
        deterministic_sample, training_mix)

    df = spark.range(20_000).select(F.col("id").alias("doc_id"),
                                    (F.col("id") % 4).cast("string")
                                    .alias("source"))
    s1 = deterministic_sample(df, 0.25)
    n = s1.count()
    assert abs(n / 20_000 - 0.25) < 0.02          # hash buckets ~ uniform
    # stable: same subset on recompute and under a different partitioning
    ids = {r["doc_id"] for r in s1.collect()}
    again = {r["doc_id"]
             for r in deterministic_sample(df.repartition(7), 0.25).collect()}
    assert ids == again
    # mixture: per-source rates honored, unlisted sources dropped
    mix = training_mix(df, {"0": 1.0, "1": 0.5}, source_col="source")
    by_src = {r["source"]: r["n"] for r in
              mix.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(by_src) == {"0", "1"}
    assert by_src["0"] == 5000
    assert abs(by_src["1"] / 5000 - 0.5) < 0.05
    # sampling composes: the 0.5-rate source selects a subset of the
    # full-rate selection for the same keys (nested thresholds)
    full = {r["doc_id"] for r in df.filter(F.col("source") == "1").collect()}
    kept = {r["doc_id"] for r in mix.filter(F.col("source") == "1").collect()}
    assert kept <= full


def test_unigram_logprob_handcomputed(spark):
    import math

    from vivace_graph_v3_spark.pipeline.text import unigram_logprob

    # corpus: 4 'a', 2 'b', 2 'c' -> p(a)=.5 p(b)=.25 p(c)=.25
    df = spark.createDataFrame(
        [(1, "a a b"), (2, "a a b c c")], "doc_id long, text string")
    got = {r["id"]: r for r in unigram_logprob(df).collect()}
    want1 = (2 * 1.0 + 2.0) / 3            # -log2: a=1, b=2
    want2 = (2 * 1.0 + 2.0 + 2 * 2.0) / 5  # c=2
    assert got[1]["n_words"] == 3
    assert math.isclose(got[1]["avg_neg_logp"], round(want1, 6))
    assert math.isclose(got[2]["avg_neg_logp"], round(want2, 6))
    # rarer-word docs score strictly higher than common-word docs
    assert got[2]["avg_neg_logp"] > got[1]["avg_neg_logp"]


def test_bm25_handcomputed(spark):
    import math

    from vivace_graph_v3_spark.pipeline.text import bm25_topk

    # 3 docs; query 'cat': tf d1=2/len3, d2=1/len3; d3 no hit; df=2, N=3
    df = spark.createDataFrame(
        [(1, "cat cat dog"), (2, "cat dog dog"), (3, "dog dog dog")],
        "doc_id long, text string")
    rows = bm25_topk(df, ["cat"], k=10).collect()
    got = {r["id"]: (r["score"], r["rank"]) for r in rows}
    assert set(got) == {1, 2}
    k1, b, avgdl = 1.2, 0.75, 3.0
    idf = math.log((3 - 2 + 0.5) / (2 + 0.5) + 1.0)

    def s(tf, dl):
        return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    assert math.isclose(got[1][0], round(s(2, 3), 6), abs_tol=1e-6)
    assert math.isclose(got[2][0], round(s(1, 3), 6), abs_tol=1e-6)
    assert got[1][1] == 1 and got[2][1] == 2  # higher tf ranks first


def test_netpbm_codec_roundtrip():
    """In-repo netpbm codec (imagecodec.py): encode/decode round trip,
    header comment/whitespace tolerance, malformed-input errors."""
    import pytest

    from vivace_graph_v3_spark.pipeline.imagecodec import (
        decode_netpbm, encode_netpbm, gray_column_feature, resize_netpbm)

    raster = bytes(range(192))
    blob = encode_netpbm(8, 8, 3, raster)
    assert decode_netpbm(blob) == (8, 8, 3, raster)
    # arbitrary whitespace and # comments in the header (netpbm spec)
    assert decode_netpbm(b"P6 # c\n 8\t8 # d\n255\n" + raster) == \
        (8, 8, 3, raster)
    # grayscale P5
    g = bytes(range(64))
    assert decode_netpbm(encode_netpbm(8, 8, 1, g)) == (8, 8, 1, g)
    for bad in (b"PNG\x0d\x0a", b"P6\n8 8\n65535\n" + raster,
                b"P6\n8 8\n255\n" + raster[:10]):
        with pytest.raises(ValueError):
            decode_netpbm(bad)
    # nearest-neighbor resize keeps format and dims
    assert decode_netpbm(resize_netpbm(blob, 4, 2))[:3] == (4, 2, 3)
    # feature: constant image -> constant normalized feature
    flat = encode_netpbm(8, 8, 3, bytes([100]) * 192)
    assert gray_column_feature(flat, 8) == [100 / 255.0] * 8


def test_multimodal_real_decode_netpbm_end_to_end(spark, docs):
    """fake=False actually RUNS (no Pillow needed): JVM-synthesized P6
    bytes, executor-side in-repo decode, closed-form expected features."""
    from vivace_graph_v3_spark.pipeline.multimodal import (
        decode_and_featurize, resize_image, synthesize_ppm_media)

    media = synthesize_ppm_media(docs.limit(20), "doc_id", size=8)
    feats = {r["media_id"]: r for r in
             decode_and_featurize(media, batch_feature_dim=8,
                                  fake=False).collect()}
    for mid, r in feats.items():
        i = int(mid)
        assert r["n_bytes"] == 11 + 192
        assert r["feature"] == [((i + j) % 256) / 255.0 for j in range(8)]
    # real resize path: decodes, nearest-neighbor resizes, re-encodes
    small = resize_image(media, width=4, height=4, fake=False).collect()
    from vivace_graph_v3_spark.pipeline.imagecodec import decode_netpbm
    for r in small:
        w, h, c, _ = decode_netpbm(bytes(r["media"]))
        assert (w, h, c) == (4, 4, 3)
        assert r["meta"]["width"] == 4 and r["meta"]["height"] == 4


def test_curation_fixture_pins_no_lsh_marginal_pairs(spark, docs):
    """corpus_curation equates banded-LSH candidate pairs with an exact-
    Jaccard oracle at threshold 0.5, but 16 bands x 4 rows gives only
    ~64% per-pair candidate probability AT j=0.5 — the equality holds
    because the fixture's duplicate pairs sit far from the threshold.
    Pin that property: every exact pair with jaccard in [0.5, 0.7) (the
    LSH-miss band) must actually BE an LSH candidate on this fixture, so
    a regenerated fixture that violates it fails loudly here instead of
    flaking in the driver gate."""
    from vivace_graph_v3_spark.pipeline.dedup import (
        minhash_lsh_candidates, minhash_signatures, ngram_jaccard_pairs)

    exact = (ngram_jaccard_pairs(docs, n=3, threshold=0.5)
             .filter(F.col("jaccard") < 0.7)
             .select("id_a", "id_b"))
    sigs = minhash_signatures(docs, n=3, num_hashes=64)
    cands = minhash_lsh_candidates(sigs, bands=16, rows_per_band=4) \
        .select("id_a", "id_b")
    missed = exact.join(cands, ["id_a", "id_b"], "left_anti").collect()
    assert not missed, (
        f"fixture has near-threshold pairs the LSH bands missed: {missed} "
        "— regenerate the fixture away from the [0.5, 0.7) band or raise "
        "num_hashes/bands in the curation contract")


def test_redact_pii_handcomputed(spark):
    from vivace_graph_v3_spark.pipeline.text import redact_pii

    df = spark.createDataFrame(
        [(1, "mail me at a.b-c%d@sub.example.org or x@y.io thanks"),
         (2, "call 555-0142 or 917 8231 from 192.168.0.1"),
         (3, "no pii here at all"),
         (4, "ip 10.0.0.7 twice 10.0.0.8 and mail z@q.co")],
        "doc_id int, text string")
    got = {r["doc_id"]: r for r in redact_pii(df).collect()}
    assert (got[1]["n_emails"], got[1]["n_phones"], got[1]["n_ips"]) == (2, 0, 0)
    assert got[1]["redacted"] == "mail me at <EMAIL> or <EMAIL> thanks"
    assert (got[2]["n_emails"], got[2]["n_phones"], got[2]["n_ips"]) == (0, 2, 1)
    assert got[2]["redacted"] == "call <PHONE> or <PHONE> from <IP>"
    assert got[3]["redacted"] == "no pii here at all"
    assert (got[4]["n_emails"], got[4]["n_ips"]) == (1, 2)
    assert got[4]["redacted"] == "ip <IP> twice <IP> and mail <EMAIL>"


def test_collocations_pmi_handcomputed(spark):
    """4 docs engineered so 'big data' dominates PMI: c('big data')=4,
    c(big)=4, c(data)=4, vs the filler bigrams of repeated 'x'."""
    from vivace_graph_v3_spark.pipeline.text import collocations_pmi

    docs = spark.createDataFrame(
        [(i, "big data " + "x " * 8) for i in range(4)],
        "doc_id long, text string")
    out = collocations_pmi(docs, min_count=4, k=3).collect()
    assert out[0]["w1"] == "big" and out[0]["w2"] == "data"
    assert out[0]["n_pair"] == 4 and out[0]["rank"] == 1
    # N1=40 tokens, NB=36 bigrams, c(big)=c(data)=4:
    # ratio = (4*40*40)/(36*4*4) = 11.111111
    assert abs(out[0]["pmi_ratio"] - 11.111111) < 1e-6
    # 'data x': (4*40*40)/(36*4*32) < 'x x': (24*40*40)/(36*32*32)
    assert {(r["w1"], r["w2"]) for r in out} == {
        ("big", "data"), ("data", "x"), ("x", "x")}


def test_pack_sequences_greedy_semantics(spark):
    from vivace_graph_v3_spark.pipeline.packing import (
        pack_sequences, packing_stats)

    rows = [("a", 1, 100), ("a", 2, 100), ("a", 3, 100),  # 100+100 | 100
            ("a", 4, 300),                                # overlong: own bin
            ("a", 5, 10),
            ("b", 1, 256), ("b", 2, 1)]                   # exact fit | spill
    df = spark.createDataFrame(rows, "source string, doc_id long, n_tokens long")
    packed = pack_sequences(df, context_len=256)
    got = {(r["source"], r["doc_id"]): r["bin"] for r in packed.collect()}
    assert got == {("a", 1): 0, ("a", 2): 0, ("a", 3): 1, ("a", 4): 2,
                   ("a", 5): 3,
                   ("b", 1): 0, ("b", 2): 1}
    stats = {r["source"]: r for r in
             packing_stats(packed, context_len=256).collect()}
    assert stats["a"]["n_bins"] == 4 and stats["a"]["n_items"] == 5
    assert stats["b"]["total_tokens"] == 257


def test_hybrid_rrf_fuses_ranks(spark):
    """Tiny corpus where lexical and dense disagree; RRF must fuse: doc 1
    is rank-1 lexical only, doc 2 rank-1 dense only, doc 3 mid on both —
    with equal singleton contributions, doc 3's two mid ranks win."""
    from vivace_graph_v3_spark.pipeline.retrieval import hybrid_rrf

    docs = spark.createDataFrame(
        [(1, "query query query filler"),
         (2, "nothing relevant lexically"),
         (3, "query filler filler filler"),
         (4, "filler filler filler filler")],
        "doc_id long, text string")
    emb = spark.createDataFrame(
        [(1, [0.0, 1.0]), (2, [1.0, 0.0]), (3, [0.9, 0.5]), (4, [-1.0, 0.0])],
        "vec_id long, embedding array<float>")
    out = hybrid_rrf(docs, emb, ["query"], [1.0, 0.0], k=4, k_each=2)
    rows = out.collect()
    by_rank = {r["rank"]: r["id"] for r in rows}
    # lex list: [1, 3]; dense list: [2, 3] -> doc 3: 1/62+1/62 wins
    assert by_rank[1] == 3
    assert {by_rank[2], by_rank[3]} == {1, 2}


def test_dedup_clusters_driver_guard_matches_distributed(spark):
    """The size-gated driver union-find and the distributed min-label
    propagation must produce identical (id, cluster) labelings."""
    from vivace_graph_v3_spark.pipeline.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20), (5, 30)],
        "id_a long, id_b long")
    fast = {(r["id"], r["cluster"])
            for r in dedup_clusters(pairs).collect()}
    with distributed_regime():
        dist = {(r["id"], r["cluster"])
                for r in dedup_clusters(pairs).collect()}
    assert fast == dist
    assert ({r for r in fast if r[0] in (1, 2, 3)} ==
            {(1, 1), (2, 1), (3, 1)})
    assert (5, 5) in fast and (30, 5) in fast


def test_dataset_split_stable_and_proportional(docs):
    from vivace_graph_v3_spark.pipeline.text import dataset_split

    a = dataset_split(docs).select("doc_id", "split")
    b = dataset_split(docs.repartition(7)).select("doc_id", "split")
    assert rows_set(a) == rows_set(b)  # partitioning-independent
    counts = {r["split"]: r["n"] for r in
              a.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    total = sum(counts.values())
    assert counts["train"] / total > 0.8
    assert 0 < counts.get("val", 0) < 0.15 * total
    assert 0 < counts.get("test", 0) < 0.15 * total


def test_bm25_indexed_equals_inline(spark, docs):
    """Querying a prebuilt (persisted) index must equal the inline form —
    the ingest-time/query-time split cannot change scores."""
    from vivace_graph_v3_spark.pipeline.text import (
        bm25_index, bm25_topk, bm25_topk_indexed, Bm25Index)

    terms = ["spark", "merge", "window"]
    inline = bm25_topk(docs, terms, k=15)
    idx = bm25_index(docs)
    persisted = Bm25Index(idx.postings.localCheckpoint(eager=True),
                          idx.doc_len.localCheckpoint(eager=True),
                          idx.stats.localCheckpoint(eager=True))
    indexed = bm25_topk_indexed(persisted, terms, k=15)
    assert rows_set(inline) == rows_set(indexed)


def test_classifier_score_map_only_and_deterministic(docs, spark):
    from vivace_graph_v3_spark.pipeline.text import classifier_score
    out = classifier_score(docs).cache()
    rows = {r.doc_id: r for r in out.collect()}
    assert len(rows) == docs.count()
    for r in rows.values():
        assert -0.5 <= r.clf_score < 0.5
        assert r.keep == (r.clf_score > 0)
    # zero shuffle: the scored plan has no Exchange
    plan = out._jdf.queryExecution().executedPlan().toString()
    # (cache() materialization aside, the logical chain is map-only)
    explain = classifier_score(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in explain
    # deterministic across recomputation
    again = {r.doc_id: r.clf_score
             for r in classifier_score(docs).collect()}
    assert again == {k: v.clf_score for k, v in rows.items()}


def test_classifier_score_empty_doc(spark):
    from vivace_graph_v3_spark.pipeline.text import classifier_score
    df = spark.createDataFrame(
        [(1, "alpha beta"), (2, "   ")], ["doc_id", "text"])
    got = {r.doc_id: (r.n_tokens, r.clf_score, r.keep)
           for r in classifier_score(df).collect()}
    assert got[2] == (0, 0.0, False)
    assert got[1][0] == 2


def test_vocab_topn_tie_break_and_coverage(spark):
    from vivace_graph_v3_spark.pipeline.text import vocab_topn, vocab_coverage
    df = spark.createDataFrame(
        [(1, "s1", "b b a a c"), (2, "s2", "d d e")],
        ["doc_id", "source", "text"])
    # counts: a=2 b=2 d=2 c=1 e=1 -> top3 by (c desc, w asc) = a, b, d
    vocab = [r.w for r in vocab_topn(df, vocab_size=3).collect()]
    assert vocab == ["a", "b", "d"]
    cov = {r.source: (r.n_tokens, r.n_oov, r.oov_rate)
           for r in vocab_coverage(df, vocab_size=3).collect()}
    assert cov["s1"] == (5, 1, 0.2)       # c is OOV
    assert cov["s2"] == (3, 1, 0.333333)  # e is OOV
    # membership join must be a broadcast (vocab is bounded by N)
    plan = vocab_coverage(df, vocab_size=3) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan


def test_label_centroid_outliers_flags_injected_outlier(spark):
    from vivace_graph_v3_spark.pipeline.similarity import (
        label_centroid_outliers)
    import random
    rnd = random.Random(7)
    rows = [(i, 0, [rnd.uniform(-0.1, 0.1) for _ in range(8)])
            for i in range(40)]
    rows.append((99, 0, [5.0] * 8))  # far outlier
    df = spark.createDataFrame(rows, ["vec_id", "label", "embedding"]) \
        .withColumn("embedding", F.col("embedding").cast("array<float>"))
    out = {r.vec_id: r for r in label_centroid_outliers(df).collect()}
    assert len(out) == 41
    assert out[99].is_outlier
    # top-5% of 41 rows = ranks with rank*100 <= 205 -> exactly 2 flagged
    assert sum(1 for r in out.values() if r.is_outlier) == 2
    assert max(r.dist2 for r in out.values()) == out[99].dist2


def test_incremental_dedup_matches_full_pairs(docs, spark):
    from vivace_graph_v3_spark.pipeline.dedup import (
        minhash_dedup_incremental, minhash_dedup_pairs, minhash_index)
    old = docs.filter(F.col("doc_id") % 10 != 0)
    new = docs.filter(F.col("doc_id") % 10 == 0)
    inc = {(r.new_id, r.dup_of)
           for r in minhash_dedup_incremental(
               new, minhash_index(old), threshold=0.5).collect()}
    # the full-corpus pair job restricted to cross-set pairs must agree
    full = minhash_dedup_pairs(docs, threshold=0.5).collect()
    cross = set()
    for r in full:
        for a, b in [(r.id_a, r.id_b), (r.id_b, r.id_a)]:
            if a % 10 == 0 and b % 10 != 0:
                cross.add((a, b))
    assert inc == cross


def test_bigram_logprob_prefers_fluent_text(spark):
    from vivace_graph_v3_spark.pipeline.text import bigram_logprob
    # doc 1 repeats one bigram pattern (predictable); doc 2 is all
    # distinct transitions (every bigram unique -> improbable)
    rows = [(1, "a b " * 20), (2, " ".join(f"w{i}" for i in range(40)))]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.id: r for r in bigram_logprob(df).collect()}
    assert got[1].n_bigrams == 39 and got[2].n_bigrams == 39
    assert got[1].avg_neg_logp2 < got[2].avg_neg_logp2
    assert got[1].avg_neg_logp2 >= 0


def test_quality_gate_per_source_fraction(spark):
    from vivace_graph_v3_spark.pipeline.text import quality_gate
    rows = [(i, "s1" if i < 20 else "s2",
             " ".join(f"t{i}w{j}" for j in range(5))) for i in range(30)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    kept = quality_gate(df, keep_pct=50).collect()
    by_src = {}
    for r in kept:
        by_src.setdefault(r.source, []).append(r.doc_id)
    # floor(20*0.5)=10 and floor(10*0.5)=5 survivors per stratum
    assert len(by_src["s1"]) == 10
    assert len(by_src["s2"]) == 5


def test_wav_synthesis_is_valid_riff_and_decodes_exactly(spark):
    import io
    import struct
    import wave as wave_mod

    from vivace_graph_v3_spark.pipeline.multimodal import (
        decode_audio_features, synthesize_wav_media)
    df = spark.createDataFrame([(7,), (123,)], ["doc_id"])
    media = synthesize_wav_media(df, "doc_id", n_samples=64).collect()
    blobs = {r.media_id: bytes(r.media) for r in media}
    # the bytes are a genuine RIFF/WAV file the stdlib parses
    with wave_mod.open(io.BytesIO(blobs["7"])) as w:
        assert (w.getnchannels(), w.getsampwidth(), w.getframerate(),
                w.getnframes()) == (1, 2, 8000, 64)
        frames = struct.unpack("<64h", w.readframes(64))
    expect = [((7 * 31 + i * 17) % 65536) - 32768 for i in range(64)]
    assert list(frames) == expect
    # executor-side decode agrees with a python-side recomputation
    feats = {r.media_id: r for r in decode_audio_features(
        synthesize_wav_media(df, "doc_id")).collect()}
    ms = sum(s * s for s in expect) // 64
    assert feats["7"].mean_square == ms
    assert feats["7"].n_bytes == 44 + 128


def test_span_corruption_structure(spark):
    from vivace_graph_v3_spark.pipeline.text import span_corruption
    df = spark.createDataFrame(
        [(i, " ".join(f"tok{j}" for j in range(30))) for i in range(20)],
        ["doc_id", "text"])
    rows = span_corruption(df, rate_pct=30).collect()
    import re
    for r in rows:
        assert r.n_tokens == 30
        sentinels = re.findall(r"<extra_id_(\d+)>", r.inputs)
        # sentinels are consecutively numbered from 0, same set in targets
        assert sentinels == [str(k) for k in range(len(sentinels))]
        assert re.findall(r"<extra_id_(\d+)>", r.targets) == sentinels
        # reconstruction: replacing each sentinel in inputs by its span
        # yields the original token sequence
        spans = {}
        parts = re.split(r"<extra_id_(\d+)>", r.targets)
        for k, body in zip(parts[1::2], parts[2::2]):
            spans[k] = body.strip()
        rebuilt = re.sub(r"<extra_id_(\d+)>",
                         lambda mm: spans[mm.group(1)], r.inputs)
        assert " ".join(rebuilt.split()) == \
            " ".join(f"tok{j}" for j in range(30))
        # masked fraction sane for rate 30 over 20x30 tokens
    total_masked = sum(r.n_masked for r in rows)
    assert 0.15 < total_masked / (20 * 30) < 0.45


def test_ppm_stream_roundtrip_and_sampling(spark):
    from vivace_graph_v3_spark.pipeline.imagecodec import (
        decode_netpbm_stream, encode_netpbm)
    from vivace_graph_v3_spark.pipeline.multimodal import (
        synthesize_ppm_stream_media, video_frame_features)
    # python-side codec roundtrip with mixed frame sizes
    stream = (encode_netpbm(2, 2, 3, bytes(range(12)))
              + encode_netpbm(1, 1, 1, b"\x7f"))
    frames = decode_netpbm_stream(stream)
    assert [(f[0], f[1], f[2]) for f in frames] == [(2, 2, 3), (1, 1, 1)]
    assert frames[0][3] == bytes(range(12)) and frames[1][3] == b"\x7f"
    # spark path: synthesized stream decodes to the closed-form features
    df = spark.createDataFrame([(300,)], ["doc_id"])
    rows = video_frame_features(
        synthesize_ppm_stream_media(df, "doc_id", n_frames=6), every=2) \
        .collect()
    got = {r.frame_idx: r.mean_pixel for r in rows}
    assert got == {0: (300 + 0) % 256, 2: (300 + 2) % 256,
                   4: (300 + 4) % 256}
    assert all(r.n_frames == 6 for r in rows)


def test_decontaminated_split_quarantines_leaks(spark):
    from vivace_graph_v3_spark.pipeline.text import (
        dataset_split, decontaminated_split)
    base = [(i, f"unique{i} " + " ".join(f"w{i}x{j}" for j in range(10)))
            for i in range(200)]
    df = spark.createDataFrame(base, ["doc_id", "text"])
    splits = {r.doc_id: r.split for r in dataset_split(df).collect()}
    held = [i for i, s in splits.items() if s != "train"]
    assert held, "fixture needs at least one held-out doc"
    # clone a held-out doc's text into a train doc -> it must be quarantined
    leak_src = held[0]
    train_ids = [i for i, s in splits.items() if s == "train"]
    victim = train_ids[0]
    leaked = [(i, dict(base)[leak_src] if i == victim else t)
              for i, t in base]
    out = {r.doc_id: r.split for r in decontaminated_split(
        spark.createDataFrame(leaked, ["doc_id", "text"])).collect()}
    assert out[victim] == "quarantined"
    assert out[leak_src] == splits[leak_src]
    # non-leaky train docs keep their label; every doc is labeled
    assert len(out) == 200
    others = [i for i in train_ids if i != victim]
    assert all(out[i] == "train" for i in others)


def test_multimodal_pil_branch_where_available(spark):
    """CI-optional exercise of the PIL seam (multimodal._import_pil /
    _decode_image_real's non-netpbm branch): skipped where Pillow is
    absent (this container's default), real wherever it exists — the
    branch is never permanently dead code."""
    import io

    import pytest

    Image = pytest.importorskip("PIL.Image")

    import numpy as np

    from vivace_graph_v3_spark.pipeline.multimodal import (
        _decode_image_real, _resize_image_real)

    # constant-gray 8x8 PNG: decoded grayscale == 120 everywhere
    img = Image.new("RGB", (8, 8), (120, 120, 120))
    buf = io.BytesIO()
    img.save(buf, format="PNG")
    blob = buf.getvalue()

    feat = _decode_image_real(blob, 8)
    assert len(feat) == 8
    assert np.allclose(feat, 120.0 / 255.0)

    out = _resize_image_real(blob, 4, 2)
    assert out[:8] == b"\x89PNG\r\n\x1a\n"
    assert Image.open(io.BytesIO(out)).size == (4, 2)

    # and through the Spark mapInPandas path on a non-netpbm blob
    df = spark.createDataFrame(
        [("m1", bytearray(blob), {"kind": "image", "mime": "image/png",
                                  "width": 8, "height": 8,
                                  "duration_ms": None})],
        "media_id string, media binary, "
        "meta struct<kind:string,mime:string,width:int,height:int,"
        "duration_ms:bigint>")
    from vivace_graph_v3_spark.pipeline.multimodal import decode_and_featurize
    row = decode_and_featurize(df, fake=False).first()
    assert row["n_bytes"] == len(blob)
    assert np.allclose(row["feature"], 120.0 / 255.0)


def test_remove_boilerplate_counts_and_reassembly(spark):
    """Spans repeated across >=2 docs are removed; unique spans survive in
    original order; empty docs come through with zero counts."""
    from vivace_graph_v3_spark.pipeline.text import remove_boilerplate

    bp = "one two three four"  # the shared (boilerplate) 4-token span
    df = spark.createDataFrame(
        [(1, f"{bp} alpha beta gamma delta"),
         (2, f"epsilon zeta eta theta {bp}"),
         (3, "iota kappa"),
         (4, "   ")],
        "doc_id long, text string")
    rows = {r["id"]: r for r in
            remove_boilerplate(df, id_col="doc_id", chunk_tokens=4,
                               min_docs=2).collect()}
    assert rows[1]["n_chunks"] == 2 and rows[1]["n_removed"] == 1
    assert rows[1]["cleaned"] == "alpha beta gamma delta"
    assert rows[2]["cleaned"] == "epsilon zeta eta theta"
    assert rows[3]["n_removed"] == 0 and rows[3]["cleaned"] == "iota kappa"
    assert rows[4]["n_chunks"] == 0 and rows[4]["cleaned"] == ""


def test_containment_asymmetric_catches_what_jaccard_misses(spark):
    """A short doc fully quoted inside a long one: containment(short ->
    long) = 1.0 while Jaccard stays below any dedup threshold."""
    from vivace_graph_v3_spark.pipeline.dedup import (
        containment_pairs, ngram_jaccard_pairs)

    short = "alpha beta gamma delta epsilon"
    long_ = ("zero one two three four five six seven eight nine ten "
             + short + " eleven twelve thirteen fourteen fifteen sixteen")
    df = spark.createDataFrame([(1, short), (2, long_)],
                               "doc_id long, text string")
    cont = {(r.inner_id, r.outer_id): r.containment
            for r in containment_pairs(df, threshold=0.8).collect()}
    assert cont == {(1, 2): 1.0}  # directed: only short-in-long
    assert ngram_jaccard_pairs(df, threshold=0.3).count() == 0


def test_stratified_sample_exact_counts_and_determinism(spark):
    from vivace_graph_v3_spark.pipeline.text import stratified_sample

    df = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(100)], "doc_id long, source string")
    got = stratified_sample(df, 5, key_col="doc_id").collect()
    by_src = {}
    for r in got:
        by_src.setdefault(r.source, set()).add(r.doc_id)
    assert {len(v) for v in by_src.values()} == {5}
    again = stratified_sample(df.repartition(7), 5, key_col="doc_id").collect()
    assert {(r.doc_id, r.source) for r in again} == {(r.doc_id, r.source)
                                                     for r in got}


def test_quantize_embeddings_error_bound_and_zero_vector(spark):
    """Reconstruction error of int8 quantization is bounded by
    (scale/2)^2 per dim; all-zero vectors report (0, 0)."""
    from vivace_graph_v3_spark.pipeline.similarity import quantize_embeddings

    df = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25, 0.125]), (2, [0.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>")
    rows = {r.vec_id: r for r in quantize_embeddings(df).collect()}
    scale = 1.0 / 127.0
    assert rows[1]["scale_nano"] == int(scale * 1e9 + 0.5)
    assert 0 <= rows[1]["mse_nano"] <= int((scale / 2) ** 2 * 1e9 + 1)
    assert rows[2]["scale_nano"] == 0 and rows[2]["mse_nano"] == 0


def test_token_budget_mix_fills_to_budget_deterministically(spark):
    from vivace_graph_v3_spark.pipeline.text import token_budget_mix

    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b", "w " * 10) for i in range(40)]
        + [(100, "c", "w w w"), (101, "a", "")],
        "doc_id long, source string, text string")
    out = token_budget_mix(df, {"a": 35, "b": 1000},
                           source_col="source").collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r)
    # a: 10-token docs, budget 35 -> exactly 3 docs fit; the 0-token doc
    # sorts somewhere in hash order but cum stays <= 35 wherever it lands
    assert sum(r.n_tokens for r in by_src["a"]) <= 35
    assert max(r.cum_tokens for r in by_src["a"]) <= 35
    assert len([r for r in by_src["a"] if r.n_tokens > 0]) == 3
    # b: all 20 docs fit in 1000
    assert len(by_src["b"]) == 20
    # c: unbudgeted source dropped entirely
    assert "c" not in by_src
    # determinism across partitionings
    again = token_budget_mix(df.repartition(5), {"a": 35, "b": 1000},
                             source_col="source").collect()
    assert {(r.doc_id, r.cum_tokens) for r in again} == \
        {(r.doc_id, r.cum_tokens) for r in out}


def test_cms_never_underestimates_and_matches_exact_on_sparse(spark):
    from vivace_graph_v3_spark.operators.sketches import (
        cms_build, cms_estimate)

    import pyspark.sql.functions as F

    words = spark.createDataFrame(
        [(f"w{i % 7}",) for i in range(70)] + [("rare",)], "w string")
    cms = cms_build(words, "w", depth=4, width=1024)
    true = words.groupBy("w").agg(F.count(F.lit(1)).alias("t"))
    est = cms_estimate(cms, true.select("w"), "w", depth=4, width=1024)
    rows = {r.w: (r.t, r.est) for r in true.join(est, "w").collect()}
    assert all(est >= t for t, est in rows.values())
    # 8 distinct words in 4096 cells: collisions are overwhelmingly
    # unlikely, so estimates are exact here
    assert all(est == t for t, est in rows.values())
    assert rows["rare"] == (1, 1)


def test_rerank_topk_scores_only_bm25_candidates(spark):
    from vivace_graph_v3_spark.pipeline.retrieval import rerank_topk

    docs = spark.createDataFrame(
        [(i, "query term here" if i < 5 else "other words only")
         for i in range(50)], "doc_id long, text string")
    emb = spark.createDataFrame(
        [(i, [1.0, 0.0] if i == 3 else [0.6, 0.8]) for i in range(50)],
        "vec_id long, embedding array<double>")
    out = rerank_topk(docs, emb, ["query"], [1.0, 0.0], k=3, k_each=5)
    rows = out.collect()
    # only the 5 lexical matches are candidates; vec 3 is the perfect
    # cosine match and must rank first
    assert [r.id for r in rows][0] == 3
    assert all(r.id < 5 for r in rows) and len(rows) == 3
    assert rows[0].cosine == 1.0


def test_mmr_prefers_diversity_over_redundancy(spark):
    """Two near-identical high-relevance vectors: plain top-2 takes both;
    MMR takes one of them plus the diverse runner-up."""
    from vivace_graph_v3_spark.pipeline.retrieval import dense_topk, mmr_topk

    q = [1.0, 0.1]  # NOT equal to any vector, else MMR scores all cancel
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9999, 0.01]), (3, [0.7, 0.7]),
         (4, [0.0, 1.0])],
        "vec_id long, embedding array<double>")
    plain = [r.id for r in dense_topk(emb, q, 2).collect()]
    assert set(plain) == {1, 2}  # the redundant near-identical pair
    mmr = [r.id for r in
           mmr_topk(emb, q, k=2, pool=4, lam=0.5).orderBy("rank").collect()]
    assert mmr[0] in (1, 2) and mmr[1] in (3, 4)


def test_sft_pairs_split_boundary(spark):
    from vivace_graph_v3_spark.pipeline.text import sft_pairs

    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(40))),
         (2, "a b c"), (3, "")],
        "doc_id long, text string")
    rows = {r.id: r for r in sft_pairs(df, prompt_tokens=32).collect()}
    assert rows[1].n_prompt == 32 and rows[1].n_completion == 8
    assert rows[1].prompt.split(" ")[-1] == "t31"
    assert rows[1].completion == "t32 t33 t34 t35 t36 t37 t38 t39"
    assert rows[2].n_prompt == 3 and rows[2].completion == ""
    assert rows[3].n_prompt == 0 and rows[3].prompt == ""


@pytest.mark.parametrize("threshold", [0.6, 0.666667, 0.8])
def test_containment_prefix_filtering_equals_naive(spark, threshold):
    """The SSJoin prefix filter must be invisible in the RESULT: compare
    containment_pairs against a naive full-inverted-index computation on a
    seeded random corpus with planted containments and near-misses.

    0.666667 is the adversarial threshold from the round-4 advice: the
    round-half-up acceptance admits common = ceil(t*sz)-1 whenever
    0 < frac(t*sz) <= sz/2e6 (e.g. sz=3, t=0.666667 accepts common=2),
    so a floor((1-t)*sz)+1 prefix is one shingle too short."""
    import random

    from vivace_graph_v3_spark.pipeline.dedup import containment_pairs

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(40):
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(30))))
    # plant: doc 100+i contains doc i's text plus noise (high containment
    # i -> 100+i); doc 200+i shares only half (near-miss)
    for i in range(5):
        base = rows[i][1]
        rows.append((100 + i, base + " " +
                     " ".join(rng.choice(vocab) for _ in range(20))))
        toks = base.split()
        rows.append((200 + i, " ".join(toks[:len(toks) // 2]) + " " +
                     " ".join(rng.choice(vocab) for _ in range(25))))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    got = {(r.inner_id, r.outer_id, r.containment)
           for r in containment_pairs(df, threshold=threshold).collect()}

    # naive: full inverted-index group count, no prefix pruning
    from pyspark.sql import functions as F

    from vivace_graph_v3_spark.pipeline.dedup import shingle_hashes

    base = df.select(F.col("doc_id").alias("id"),
                     shingle_hashes(F.col("text"), 3).alias("sh"))
    base = base.withColumn("sz", F.size("sh")).filter(F.col("sz") > 0)
    inv = base.select("id", "sz", F.explode("sh").alias("shingle"))
    a, b = inv.alias("a"), inv.alias("b")
    naive = (a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                    & (F.col("a.id") != F.col("b.id")))
             .groupBy(F.col("a.id").alias("inner_id"),
                      F.col("b.id").alias("outer_id"),
                      F.col("a.sz").alias("sz_in"))
             .agg(F.count(F.lit(1)).alias("common"))
             .withColumn("containment",
                         F.expr("(common * 2000000 + sz_in) div (sz_in * 2)")
                         .cast("double") / 1e6)
             .filter(F.col("containment") >= threshold)
             .select("inner_id", "outer_id", "containment"))
    want = {(r.inner_id, r.outer_id, r.containment) for r in naive.collect()}
    assert got == want
    # the planted containments are found, in the right direction
    for i in range(5):
        assert any(p[0] == i and p[1] == 100 + i for p in got)


def test_containment_rounding_slack_regression(spark):
    """Round-4 advice regression: sz=3, threshold=0.666667 — round-half-up
    accepts common=2 (2/3 -> 0.666667 == t), but a floor((1-t)*sz)+1 = 1
    prefix only posts the single rarest shingle; if the outer doc misses
    exactly that one, the qualifying pair was never generated. The inner
    doc's 3 shingles are built so its rarest shingle (unique to it) is the
    one the outer doc lacks."""
    from pyspark.sql import functions as F

    from vivace_graph_v3_spark.pipeline.dedup import (containment_pairs,
                                                      shingle_hashes)

    # inner: 5 words -> 3 trigram shingles; outer repeats inner's LAST two
    # trigrams (making them common, df=2) and not the first (df=1, rarest).
    inner = "a b c d e"            # shingles: (a b c) (b c d) (c d e)
    outer = "x b c d e y"          # shingles: (x b c) (b c d) (c d e) (d e y)
    df = spark.createDataFrame([(1, inner), (2, outer)],
                               "doc_id long, text string")
    # sanity: the rarest inner shingle really is the non-shared one
    sh = {r.doc_id: set(r.s) for r in
          df.select("doc_id", shingle_hashes(F.col("text"), 3).alias("s"))
          .collect()}
    assert len(sh[1] & sh[2]) == 2 and len(sh[1]) == 3

    got = {(r.inner_id, r.outer_id): r.containment
           for r in containment_pairs(df, threshold=0.666667).collect()}
    assert (1, 2) in got and got[(1, 2)] == 0.666667


def test_training_mix_upsample_copies_and_determinism(spark):
    from vivace_graph_v3_spark.pipeline.text import training_mix_upsample

    df = spark.createDataFrame(
        [(i, "hot" if i < 40 else ("flat" if i < 80 else "cold"))
         for i in range(120)], "doc_id long, source string")
    out = training_mix_upsample(df, {"hot": 2.5, "flat": 1.0})
    rows = out.collect()
    by = {}
    for r in rows:
        by.setdefault(r.source, []).append(r)
    assert "cold" not in by                      # unweighted source dropped
    assert len(by["flat"]) == 40                 # exactly one copy each
    assert all(r.copy == 0 for r in by["flat"])
    # hot: 2 full copies of all 40, plus ~half get a 3rd copy
    copies = {}
    for r in by["hot"]:
        copies.setdefault(r.doc_id, set()).add(r.copy)
    assert all({0, 1} <= c for c in copies.values())
    third = sum(1 for c in copies.values() if 2 in c)
    assert 10 <= third <= 30                     # ~50% of 40, hash-keyed
    # deterministic under repartitioning
    again = training_mix_upsample(df.repartition(7), {"hot": 2.5, "flat": 1.0})
    assert {(r.doc_id, r.source, r.copy) for r in again.collect()} == \
        {(r.doc_id, r.source, r.copy) for r in rows}


def test_hard_negatives_excludes_same_label_and_ranks(spark):
    from vivace_graph_v3_spark.pipeline.similarity import hard_negatives

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [0.99, 0.1], 0),   # same-label near-dup
         (3, [0.9, 0.2], 1), (4, [0.0, 1.0], 1), (5, [0.5, 0.5], 2)],
        "vec_id long, embedding array<double>, label int")
    out = hard_negatives(emb, k=2).collect()
    by_anchor = {}
    for r in out:
        by_anchor.setdefault(r.anchor_id, []).append(r)
    labels = {1: 0, 2: 0, 3: 1, 4: 1, 5: 2}
    for a, rs in by_anchor.items():
        assert all(labels[r.negative_id] != labels[a] for r in rs)
        assert [r.rank for r in sorted(rs, key=lambda x: x.rank)] == \
            list(range(1, len(rs) + 1))
    # anchor 1's hardest different-label negative is 3 (closest direction)
    assert sorted(by_anchor[1], key=lambda r: r.rank)[0].negative_id == 3


def test_duplicate_span_stats_planted_dup(spark):
    """Two docs sharing an exact 12-word span + one unique doc: the
    sharing docs get dup counts over their shared shingles, the unique
    doc gets 0; short docs (<n words) are excluded."""
    from vivace_graph_v3_spark.pipeline.dedup import duplicate_span_stats

    span = " ".join(f"s{i}" for i in range(12))     # 3 10-gram shingles
    rows = [(1, span + " tail1 tail2"),
            (2, "head1 head2 " + span),
            (3, " ".join(f"u{i}" for i in range(15))),
            (4, "too short")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.id: r for r in duplicate_span_stats(df, n=10).collect()}
    assert set(got) == {1, 2, 3}                    # doc 4 has no spans
    # docs 1/2: 5 shingles each (14 words), 3 shared
    assert got[1].n_spans == 5 and got[1].n_dup == 3
    assert got[2].n_spans == 5 and got[2].n_dup == 3
    assert got[1].dup_rate == 0.6
    assert got[3].n_spans == 6 and got[3].n_dup == 0 and got[3].dup_rate == 0.0


def test_bpe_pair_stats_hand_computed(spark):
    """'aaa ab' + 'ab': pairs aa(x2 from aaa), ab(x2: 'ab' freq 2);
    position-wise counting inside a word, frequency-weighted across the
    vocab."""
    from vivace_graph_v3_spark.pipeline.tokenizer import bpe_pair_stats

    df = spark.createDataFrame([(1, "aaa ab"), (2, "ab")],
                               "doc_id long, text string")
    got = {r.pair: r.freq for r in bpe_pair_stats(df, top_k=10).collect()}
    assert got == {"aa": 2, "ab": 2}


def test_grid_quantile_gate_exact_quantile_and_ties(spark):
    """n=8 with drop_pct=25 -> k=2: threshold is the 2nd-smallest quality;
    ties at the threshold are kept (>= semantics)."""
    from vivace_graph_v3_spark.pipeline.text import grid_quantile_gate

    rows = [("s", 0.1), ("s", 0.2), ("s", 0.2), ("s", 0.3),
            ("s", 0.4), ("s", 0.5), ("s", 0.6), ("s", 0.7),
            ("t", 0.9), ("t", 0.8)]                # n=2 -> k=1, thr=0.8
    df = spark.createDataFrame(rows, "source string, quality double")
    got = {r.source: r for r in grid_quantile_gate(df, drop_pct=25).collect()}
    assert got["s"].n_docs == 8 and got["s"].threshold == 0.2
    assert got["s"].n_kept == 7                    # only the 0.1 dropped
    assert got["t"].n_docs == 2 and got["t"].threshold == 0.8
    assert got["t"].n_kept == 2


def test_pq_encode_roundtrip_properties(spark):
    """PQ encoding invariants: codebook vectors encode to themselves with
    zero error; every code is within [0, codebook_size); reconstruction
    error is non-negative and small for vectors near a codeword."""
    import random

    from vivace_graph_v3_spark.pipeline.similarity import pq_encode

    rng = random.Random(7)
    base = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(4)]
    rows = [(i, base[i]) for i in range(4)]
    # vectors 10..13: base vector + tiny noise -> same codes, small err
    for i in range(4):
        rows.append((10 + i, [x + 0.001 for x in base[i]]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r.vec_id: r for r in
           pq_encode(df, num_blocks=2, codebook_size=4).collect()}
    for i in range(4):
        assert (got[i].code_0, got[i].code_1) == (i, i)
        assert got[i].err == 0.0
        assert (got[10 + i].code_0, got[10 + i].code_1) == (i, i)
        assert 0 < got[10 + i].err < 1e-4


def test_doc_keywords_rare_term_wins(spark):
    """A term unique to one doc outranks corpus-wide terms: linear idf
    N/df dominates tf for rare words; rank window is (score desc, term)."""
    from vivace_graph_v3_spark.pipeline.text import doc_keywords

    df = spark.createDataFrame(
        [(1, "common words common words zebra"),
         (2, "common words common words"),
         (3, "common words other other")],
        "doc_id long, text string")
    got = {(r.id, r.rank): r for r in doc_keywords(df, k=2).collect()}
    assert got[(1, 1)].term == "zebra"         # df=1 -> score 1*3/1 = 3
    assert got[(1, 1)].score == 3.0
    assert got[(3, 1)].term == "other"         # tf=2, df=1 -> 6
    assert got[(3, 1)].score == 6.0
    # doc 2 only has corpus-wide terms: score 2*3/3 = 2
    assert got[(2, 1)].score == 2.0


def test_sparse_dot_pairs_values_and_hub_cap(spark):
    from vivace_graph_v3_spark.pipeline.text import sparse_dot_pairs

    docs = spark.createDataFrame(
        [(1, "apple banana apple hub"),
         (2, "apple banana hub"),
         (3, "cherry hub"),
         (4, "banana cherry hub")],
        "doc_id long, text string")
    # df: apple=2, banana=3, cherry=2, hub=4 -> df_cap=3 drops hub
    got = {(r.doc_a, r.doc_b): r.dot
           for r in sparse_dot_pairs(docs, min_dot=1, df_cap=3,
                                     top_k=10).collect()}
    # (1,2): apple 2*1 + banana 1*1 = 3; hub contributes nothing
    assert got[(1, 2)] == 3
    assert got[(1, 4)] == 1          # banana
    assert got[(2, 4)] == 1          # banana
    assert got[(3, 4)] == 1          # cherry
    assert len(got) == 4


def test_ahash64_closed_form_and_phash_pairs(spark):
    from vivace_graph_v3_spark.pipeline.multimodal import (
        ahash64, phash_dup_pairs, synthesize_ppm_media)

    docs = spark.createDataFrame(
        [(0,), (256,), (250,), (252,)], "doc_id long")
    media = synthesize_ppm_media(docs, "doc_id", size=8)
    hashes = {r.media_id: (r.hash_lo, r.hash_hi)
              for r in ahash64(media, grid=8).collect()}

    def expect(d):
        p = [(d + x) % 256 for x in range(8)]
        s = sum(p)
        pat = sum(1 << x for x in range(8) if p[x] * 8 >= s)
        v = pat * 0x01010101
        return (v, v)  # rows repeat: lo == hi

    for d in (0, 256, 250, 252):
        assert hashes[str(d)] == expect(d), d
    # docs 0 and 256 have identical rasters (pat 0xF0) -> ONE exact class,
    # never a pairwise row; pats 63 (doc 250) and 15 (doc 252) share the
    # low nibble -> the only banded candidate, hamming 2 bits x 8 rows
    rows = phash_dup_pairs(ahash64(media, grid=8), max_hamming=16,
                           band_bits=4, top_k=10).collect()
    assert [(r.media_a, r.media_b, r.hamming, r.size_a, r.size_b)
            for r in rows] == [("250", "252", 16, 1, 1)]


def test_dim_truncation_recall_overlap(spark):
    from vivace_graph_v3_spark.pipeline.similarity import (
        dim_truncation_recall)

    # 3-d corpus, truncate to the first 2 dims; query = vec 0 = (1,0,0).
    # full cosines: v1=(0,1,0) -> 0; v2=(1,0,5) -> 0.196; v3=(0.9,0.5,0)
    # -> 0.874. truncated: v1 -> 0; v2 -> 1.0; v3 -> 0.874.
    # full top-1 = v3 but truncated top-1 = v2 -> overlap 0 at k=1.
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0]),
         (2, [1.0, 0.0, 5.0]), (3, [0.9, 0.5, 0.0])],
        "vec_id long, embedding array<float>")
    got = {r.query_id: r.n_overlap
           for r in dim_truncation_recall(emb, n_queries=1, k=1,
                                          dims=2).collect()}
    assert got == {0: 0}
    # at k=2 both rankings hold {v2, v3} -> full overlap
    got2 = {r.query_id: r.n_overlap
            for r in dim_truncation_recall(emb, n_queries=1, k=2,
                                           dims=2).collect()}
    assert got2 == {0: 2}


def test_classifier_calibration_buckets(spark):
    from vivace_graph_v3_spark.pipeline.text import classifier_calibration

    docs = spark.createDataFrame(
        [(1, "aa bb cc", "en"), (2, "aa bb cc", "de"),
         (3, "zz yy", "en"), (4, "", "en")],
        "doc_id long, text string, lang string")
    rows = {r.bucket: (r.n, r.n_pos, r.pos_ppm)
            for r in classifier_calibration(docs, bins=50).collect()}
    # docs 1 and 2 share a text -> same score bucket; n=2, one 'en'
    shared = [v for v in rows.values() if v[0] == 2]
    assert shared == [(2, 1, 500_000)]
    # empty doc scores 0.0 -> bucket floor(0.5*50)=25
    assert rows[25][0] >= 1
    assert sum(v[0] for v in rows.values()) == 4


def test_ndcg_perfect_retrieval_is_unity(spark):
    from vivace_graph_v3_spark.pipeline.retrieval import ndcg_at_k

    docs = spark.createDataFrame(
        [(1, "apple banana"), (2, "apple"), (3, "cherry")],
        "doc_id long, text string")
    row = ndcg_at_k(docs, [(7, ["apple", "banana"])], k=3).first()
    # BM25 ranks d1 (both terms) over d2 (one term); ideal order identical
    assert row.query_id == 7
    assert row.dcg_ppm == 2 * 1_000_000 + 1 * 630_930
    assert row.idcg_ppm == row.dcg_ppm
    assert row.ndcg_ppm == 1_000_000


def test_vocab_growth_buckets_and_cumulatives(spark):
    from vivace_graph_v3_spark.pipeline.text import vocab_growth

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "b c"), (3, "c d d")],
        "doc_id long, text string")
    got = {r.bucket_end: (r.n_docs, r.cum_tokens, r.cum_vocab)
           for r in vocab_growth(docs, bucket=2).collect()}
    # bucket 2 = docs 1-2: 4 tokens, vocab {a,b,c}; bucket 4 adds doc 3
    assert got[2] == (2, 4, 3)
    assert got[4] == (3, 7, 4)


def test_dedup_cluster_sizes_distribution(spark):
    from vivace_graph_v3_spark.pipeline.dedup import dedup_cluster_sizes

    docs = spark.createDataFrame(
        [(1, "a"), (2, "A "), (3, "b"), (4, "c"), (5, "c")],
        "doc_id long, text string")
    got = {r.size: (r.n_clusters, r.n_docs, r.share_ppm)
           for r in dedup_cluster_sizes(docs).collect()}
    # norm('a')==norm('A ') -> one 2-cluster; 'c' twice -> another; 'b' alone
    assert got[2] == (2, 4, 800_000)
    assert got[1] == (1, 1, 200_000)


def test_knn_classify_majority_and_tiebreak(spark):
    from pyspark.sql import functions as F

    from vivace_graph_v3_spark.pipeline.similarity import knn_classify

    # labeled points on two axes; query nearest the x-axis cluster
    labeled = spark.createDataFrame(
        [(0, [1.0, 0.0], 10), (2, [0.9, 0.1], 10), (4, [0.0, 1.0], 20),
         (6, [0.1, 0.9], 20), (8, [0.95, 0.05], 10)],
        "vec_id long, embedding array<double>, label int")
    q = spark.createDataFrame([(1, [1.0, 0.02])],
                              "vec_id long, embedding array<double>")
    r = knn_classify(labeled, q, k=3).first()
    assert (r.vec_id, r.pred_label, r.votes) == (1, 10, 3)
    # exact 1-1 vote tie at k=2 -> smaller label wins
    labeled2 = spark.createDataFrame(
        [(0, [1.0, 0.0], 7), (2, [0.0, 1.0], 3)],
        "vec_id long, embedding array<double>, label int")
    q2 = spark.createDataFrame([(1, [0.7071, 0.7071])],
                               "vec_id long, embedding array<double>")
    r2 = knn_classify(labeled2, q2, k=2).first()
    assert r2.pred_label == 3 and r2.votes == 1


def test_zipf_slope_on_synthetic_zipf(spark):
    # freq(rank) = C / rank exactly -> slope exactly -1
    rows = []
    for rank in range(1, 21):
        w = f"w{rank:03d}"
        rows.extend([(w,)] * (2520 // rank))  # 2520 divisible by 1..10
    df = spark.createDataFrame([(" ".join(w for (w,) in rows),)], "text string")
    from vivace_graph_v3_spark.pipeline.text import zipf_slope

    r = zipf_slope(df, top_n=20).first()
    assert r.n_types == 20
    # 2520//rank is not exactly C/rank beyond rank 10 -> near -1, not exact
    assert -1.05 < r.zipf_slope < -0.93, r.zipf_slope


def test_embedding_dim_stats_flags_constant_dim(spark):
    from vivace_graph_v3_spark.pipeline.similarity import embedding_dim_stats

    rows = [(i, [float(i), 3.0]) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.dim: r for r in embedding_dim_stats(df).collect()}
    assert out[0].n == 10 and out[0].mean == 4.5
    assert out[0].var == 8.25 and not out[0].degenerate
    assert out[1].var == 0.0 and out[1].degenerate


def test_bpe_learn_merges_hand_sequence(spark):
    from vivace_graph_v3_spark.pipeline.tokenizer import bpe_learn_merges

    # corpus: "abab" x3, "abc" x2 -> vocab {abab: 3, abc: 2}
    # step 1 pairs: (a,b) 3*2 + 2 = 8; (b,a) 3; (b,c) 2 -> merge ab
    # step 2 segs: [ab ab] x3, [ab c] x2 -> (ab,ab) 3; (ab,c) 2 -> abab
    # step 3 segs: [abab] x3, [ab c] x2 -> (ab,c) 2 -> abc
    df = spark.createDataFrame(
        [("abab abab abab abc abc",)], "text string")
    merges = bpe_learn_merges(df, n_merges=3)
    assert [(m["lhs"], m["rhs"], m["pair_count"]) for m in merges] == \
        [("a", "b", 8), ("ab", "ab", 3), ("ab", "c", 2)]
    assert merges[1]["new_token"] == "abab"


def test_bpe_learn_merges_greedy_overlap(spark):
    from vivace_graph_v3_spark.pipeline.tokenizer import bpe_learn_merges

    # "aaa": pair (a,a) counts overlapping (2 per word); the MERGE is
    # greedy left-to-right, so one step yields [aa, a], and step 2's top
    # pair is (aa, a)
    df = spark.createDataFrame([("aaa aaa",)], "text string")
    merges = bpe_learn_merges(df, n_merges=2)
    assert (merges[0]["lhs"], merges[0]["rhs"], merges[0]["pair_count"]) \
        == ("a", "a", 4)
    assert (merges[1]["lhs"], merges[1]["rhs"]) == ("aa", "a")


def test_train_logreg_separates_classes(spark):
    from pyspark.sql import functions as F

    from vivace_graph_v3_spark.pipeline.dedup import md5_hash64
    from vivace_graph_v3_spark.pipeline.text import train_logreg

    rows = [(i, "aaa aaa aaa", True) for i in range(20)] + \
           [(100 + i, "bbb bbb bbb", False) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string, y boolean")
    w = {r.bucket: r.w for r in
         train_logreg(df, label_col="y", buckets=32, steps=2).collect()}
    b_pos = spark.range(1).select(
        F.pmod(md5_hash64(F.lit("aaa")), F.lit(32)).alias("b")).first().b
    b_neg = spark.range(1).select(
        F.pmod(md5_hash64(F.lit("bbb")), F.lit(32)).alias("b")).first().b
    # positive-class token weight must exceed negative-class token weight
    assert w[b_pos] > 0 > w[b_neg]
    # bias exists and only hit buckets are emitted
    assert -1 in w and set(w) == {-1, b_pos, b_neg}


def test_curriculum_order_interleaves_sources(spark):
    from vivace_graph_v3_spark.pipeline.text import curriculum_order

    rows = [(1, "s1", 100), (2, "s1", 90), (3, "s2", 80), (4, "s2", 70)]
    df = spark.createDataFrame(rows, "doc_id long, source string, "
                                     "n_chars long")
    out = {r.curriculum_rank: r.doc_id for r in
           curriculum_order(df, score_col="n_chars").collect()}
    # round-robin: best of s1, best of s2, second of s1, second of s2
    assert out == {1: 1, 2: 3, 3: 2, 4: 4}


def test_bpe_compression_saves_on_repetitive_corpus(spark):
    from vivace_graph_v3_spark.pipeline.tokenizer import bpe_compression

    df = spark.createDataFrame([("abab abab abab abc abc",)], "text string")
    r = bpe_compression(df, n_merges=3).first()
    # vocab {abab x3, abc x2}: chars = 3*4 + 2*3 = 18; merges ab, abab,
    # abc -> abab = 1 token, abc = 1 token -> tokens_after = 5
    assert (r.chars_total, r.tokens_after) == (18, 5)
    assert r.n_merges == 3 and r.n_word_types == 2
    assert r.saved_ppm == 722222


def test_dataset_card_counts(spark):
    from vivace_graph_v3_spark.pipeline.text import dataset_card

    rows = [
        (1, "the cat", "en", "s1"),
        (2, "the cat", "en", "s1"),      # exact dup of 1
        (3, "le chat", "fr", "s1"),
        (4, "unique text", "en", "s2"),
    ]
    df = spark.createDataFrame(rows,
                               "doc_id long, text string, lang string, "
                               "source string")
    out = {r.source: r for r in dataset_card(df).collect()}
    s1 = out["s1"]
    assert (s1.n_docs, s1.n_tokens, s1.dup_docs) == (3, 6, 2)
    assert s1.en_ppm == 666667 and s1.vocab_size == 4
    s2 = out["s2"]
    assert (s2.n_docs, s2.dup_docs, s2.dup_ppm) == (1, 0, 0)


class TestCrossSourceLeakage:
    def test_leakage_matrix(self, spark):
        from vivace_graph_v3_spark.pipeline.dedup import cross_source_leakage
        boiler = "shared boilerplate prefix that is long enough "
        rows = [
            (1, boiler + "tail one", "s1"),
            (2, boiler + "tail two", "s1"),
            (3, boiler + "tail three", "s2"),
            (4, boiler + "tail four", "s3"),
            (5, "unique text in s1 only with no siblings", "s1"),
            (6, "another family entirely present twice", "s2"),
            (7, "another family ENTIRELY   present twice", "s3"),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
        out = {(r["source_a"], r["source_b"]): r
               for r in cross_source_leakage(
                   df, prefix_chars=30).collect()}
        # boiler family spans s1(x2), s2, s3; "another family" spans
        # s2, s3 (normalization folds case + whitespace)
        assert out[("s1", "s2")]["n_families"] == 1
        assert out[("s1", "s2")]["n_doc_pairs"] == 2  # 2x1
        assert out[("s1", "s3")]["n_doc_pairs"] == 2
        assert out[("s2", "s3")]["n_families"] == 2
        assert out[("s2", "s3")]["n_doc_pairs"] == 2  # 1x1 + 1x1
        assert ("s1", "s1") not in out

    def test_no_cross_family_no_rows(self, spark):
        from vivace_graph_v3_spark.pipeline.dedup import cross_source_leakage
        rows = [(1, "aaaa bbbb cccc", "s1"), (2, "dddd eeee ffff", "s2")]
        df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
        assert cross_source_leakage(df, prefix_chars=8).count() == 0


class TestDoremiMixWeights:
    def test_uniform_when_identical_sources(self, spark):
        from vivace_graph_v3_spark.pipeline.text import doremi_mix_weights
        rows = [(i, "alpha beta gamma delta", f"s{i % 2}")
                for i in range(8)]
        df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
        out = doremi_mix_weights(df).collect()
        # identical distributions -> zero excess everywhere -> uniform
        assert all(r["excess"] == 0.0 for r in out)
        assert all(r["weight_ppm"] == 500_000 for r in out)

    def test_hard_domain_upweighted(self, spark):
        from vivace_graph_v3_spark.pipeline.text import doremi_mix_weights
        # "easy" repeats common words; "hard" is all hapaxes (rare words
        # -> high neg-logp under the corpus unigram LM)
        rows = [(i, "the the the the", "easy") for i in range(10)] + \
               [(100 + i, f"zq{i}a zq{i}b zq{i}c zq{i}d", "hard")
                for i in range(10)]
        df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
        out = {r["source"]: r for r in doremi_mix_weights(df).collect()}
        assert out["hard"]["mean_nll"] > out["easy"]["mean_nll"]
        assert out["hard"]["excess"] > 0.0 and out["easy"]["excess"] == 0.0
        # hard holds ALL the excess: (1-s)*1 + s/2 = 0.9e6 at s=0.2
        assert out["hard"]["weight_ppm"] == 900_000
        assert out["easy"]["weight_ppm"] == 100_000

    def test_weights_sum_to_unity(self, spark):
        from vivace_graph_v3_spark.pipeline.text import doremi_mix_weights
        rows = [(i, f"w{i % 7} common tok{i % 3}", f"s{i % 4}")
                for i in range(40)]
        df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
        out = doremi_mix_weights(df).collect()
        assert abs(sum(r["weight_ppm"] for r in out) - 1_000_000) <= len(out)


class TestEmbeddingCovariance:
    def test_vs_numpy(self, spark):
        import numpy as np
        from vivace_graph_v3_spark.pipeline.similarity import (
            embedding_covariance)
        rng = np.random.RandomState(5)
        mat = rng.randn(60, 4).astype("float32")
        rows = [(i, [float(v) for v in mat[i]]) for i in range(60)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = {(r["i"], r["j"]): r["cov"]
               for r in embedding_covariance(df, dims=4).collect()}
        want = np.cov(mat.astype("float64").T, bias=True)
        assert len(out) == 10
        for (i, j), cov in out.items():
            assert cov == pytest.approx(want[i][j], abs=2e-6)

    def test_diagonal_matches_dim_stats_var(self, spark):
        from vivace_graph_v3_spark.pipeline.similarity import (
            embedding_covariance, embedding_dim_stats)
        rows = [(i, [float(i % 5), float((i * 3) % 7)]) for i in range(40)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        cov = {(r["i"], r["j"]): r["cov"]
               for r in embedding_covariance(df, dims=2).collect()}
        var = {r["dim"]: r["var"] for r in embedding_dim_stats(df).collect()}
        assert cov[(0, 0)] == pytest.approx(var[0], abs=1e-6)
        assert cov[(1, 1)] == pytest.approx(var[1], abs=1e-6)


def test_seed_scan_topk_matches_expression_path_exactly(spark):
    """The Arrow seed-broadcast scan (broadcast_corpus=True) must return
    the EXACT rows of the JVM-expression path — same raw fold order,
    rounding and ranking in Spark — including under a different
    partitioning of the query side."""
    from pyspark.sql import functions as F

    from vivace_graph_v3_spark.pipeline.similarity import (
        cosine_topk_bruteforce)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    seed = emb.filter(F.col("vec_id") % 2 == 0)
    qs = emb.filter(F.col("vec_id") % 2 == 1)
    ref = sorted(tuple(r) for r in
                 cosine_topk_bruteforce(seed, qs, 5).collect())
    got = sorted(tuple(r) for r in
                 cosine_topk_bruteforce(seed, qs, 5,
                                        broadcast_corpus=True).collect())
    assert got == ref
    got7 = sorted(tuple(r) for r in
                  cosine_topk_bruteforce(seed, qs.repartition(7), 5,
                                         broadcast_corpus=True).collect())
    assert got7 == ref


def test_seed_scan_empty_seed(spark):
    from pyspark.sql import functions as F

    from vivace_graph_v3_spark.pipeline.similarity import (
        cosine_topk_bruteforce)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    empty = emb.filter(F.lit(False))
    out = cosine_topk_bruteforce(empty, emb.limit(3), 5,
                                 broadcast_corpus=True)
    assert out.count() == 0
    assert out.columns == ["query_id", "neighbor_id", "cosine", "rank"]


def test_ngram_novelty_hand_values(spark):
    from vivace_graph_v3_spark.pipeline.dedup import ngram_novelty

    train = spark.createDataFrame([("a b c d",)], "text string")
    test = spark.createDataFrame([("a b c x y",)], "text string")
    row = ngram_novelty(train, test).collect()[0]
    # test trigrams: "a b c" (seen), "b c x", "c x y" (novel)
    assert row["n_test_ngrams"] == 3 and row["n_novel"] == 2
    assert row["novelty_ppm"] == 2_000_000 // 3
    # fully-seen test split: zero novelty (left-join null -> 0)
    row0 = ngram_novelty(train, train).collect()[0]
    assert row0["n_novel"] == 0 and row0["novelty_ppm"] == 0


def test_rank_biased_overlap_boundary_values(spark):
    """RBO closed-form checks: identical top-10 lists give exactly
    (1 - 0.9^10) (truncated, no residual); disjoint lists give 0; and
    sharing only the top-1 doc gives the full suffix weight of rank 1."""
    from vivace_graph_v3_spark.pipeline.retrieval import rank_biased_overlap

    ranks = [("q1", f"d{i}", i) for i in range(1, 11)]
    a = spark.createDataFrame(ranks, "q string, id string, rank int")
    same = {r["q"]: r for r in rank_biased_overlap(a, a).collect()}
    # scale = lcm(1..10) * 10^10; 1 - 0.9^10 = 6513215599/10^10
    assert same["q1"]["rbo_scaled"] * 10_000_000_000 == \
        6513215599 * 25_200_000_000_000 // 10_000_000_000 * 10_000_000_000 \
        or same["q1"]["rbo_scaled"] == 6513215599 * 2520
    assert same["q1"]["overlap_at_depth"] == 10
    assert same["q1"]["rbo_milli"] == 651

    b = spark.createDataFrame([("q1", f"e{i}", i) for i in range(1, 11)],
                              "q string, id string, rank int")
    disj = rank_biased_overlap(a, b).collect()[0]
    assert disj["rbo_scaled"] == 0 and disj["overlap_at_depth"] == 0

    top1 = spark.createDataFrame(
        [("q1", "d1", 1)] + [("q1", f"e{i}", i) for i in range(2, 11)],
        "q string, id string, rank int")
    one = rank_biased_overlap(a, top1).collect()[0]
    assert one["overlap_at_depth"] == 1
    assert one["rbo_scaled"] == 5932493265528  # suffix weight of rank 1


def test_md5_minhash_agg_bit_identical(spark, docs):
    """The codegen explode + min-aggregate md5 MinHash (r10) must equal
    the spec BIT-FOR-BIT — per position i, the min over the document's
    distinct shingles of md5_hash64(s || '#' || i), n_shingles == the
    distinct-shingle count — checked against an independent pure-Python
    hashlib reference (signed big-endian first 8 md5 bytes == Spark's
    (conv(hi,16,10) << 32) | conv(lo,16,10))."""
    import hashlib
    import struct

    from vivace_graph_v3_spark.pipeline.dedup import (
        has_min_tokens, minhash_signatures_md5, shingle_strings)

    sample = docs.limit(40)
    ref_rows = (sample.filter(has_min_tokens(F.col("text"), 3))
                .select("doc_id",
                        shingle_strings(F.col("text"), 3).alias("sh"))
                .collect())
    assert ref_rows

    def h64(s: str) -> int:
        return struct.unpack(
            ">q", hashlib.md5(s.encode("utf-8")).digest()[:8])[0]

    want = {}
    for r in ref_rows:
        sh = list(r["sh"])
        want[r["doc_id"]] = (len(sh), tuple(
            min(h64(f"{s}#{i}") for s in sh) for i in range(16)))
    got = {r["id"]: (r["n_shingles"], tuple(r["sig"]))
           for r in minhash_signatures_md5(sample, num_hashes=16).collect()}
    assert got == want


def test_shingle_pair_candidates_exact_and_schema(spark, docs):
    """_shingle_pair_candidates (r10: checkpointed base, sizes in the
    group keys) must still produce the exact inverted-index pair table —
    every doc pair sharing >= 1 shingle with exact intersection and set
    sizes — and keep sz_a/sz_b nullable in the schema (they were
    first()-aggregated before; the oracle pins schemas)."""
    from vivace_graph_v3_spark import util
    from vivace_graph_v3_spark.pipeline.dedup import (
        _shingle_base, _shingle_pair_candidates, has_min_tokens,
        shingle_strings)

    sample = docs.limit(60)
    ref = {r["doc_id"]: set(r["sh"]) for r in
           (sample.filter(has_min_tokens(F.col("text"), 3))
            .select("doc_id", shingle_strings(F.col("text"), 3).alias("sh"))
            .collect())}
    ids = sorted(ref)
    want = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(ref[a] & ref[b])
            if inter:
                want.add((a, b, inter, len(ref[a]), len(ref[b])))
    with util.materialized() as m:
        out = m.keep(_shingle_pair_candidates(_shingle_base(
            m, sample, text_col="text", id_col="doc_id", n=3, strings=True)))
    got = {(r["id_a"], r["id_b"], r["inter"], r["sz_a"], r["sz_b"])
           for r in out.collect()}
    assert got == want and want
    fields = {f.name: f for f in out.schema.fields}
    assert fields["sz_a"].nullable and fields["sz_b"].nullable


def test_band_tuning_truth_prefix_filter_on_boilerplate(spark):
    """lsh_band_tuning's truth pairs come from a rarest-first prefix
    filter over the shingle base. On 320 documents sharing one
    boilerplate shingle (20 of them near-duplicates of others) it gives
    the same pairs as the inverted-index formula (every pair sharing a
    shingle, verified by exact Jaccard), while its prefix self-join
    emits under 1% of that formula's join rows."""
    from vivace_graph_v3_spark import util
    from vivace_graph_v3_spark.pipeline.dedup import (
        _prefix_jaccard_pairs, _prefix_postings, _shingle_base,
        _shingle_pair_candidates, lsh_band_tuning)

    words = "u{0}a u{0}b u{0}c u{0}d u{0}e".format
    docs = ([(i, f"boiler plate header {words(i)} u{i}f")
             for i in range(300)]
            + [(1000 + i, f"boiler plate header {words(i)} x{i}")
               for i in range(20)])
    df = spark.createDataFrame(docs, "doc_id long, text string")
    t_ppm = 500000

    def pair_rows(postings):
        # a shingle posted by c documents joins c(c-1)/2 pairs
        return sum(c * (c - 1) // 2 for (c,) in
                   postings.groupBy("shingle").count().select("count")
                   .collect())

    with util.materialized() as m:
        base = _shingle_base(m, df, text_col="text", id_col="doc_id", n=3,
                             strings=True)
        want = {(r.id_a, r.id_b) for r in
                _shingle_pair_candidates(base)
                .filter(f"inter * 1000000L div (sz_a + sz_b - inter)"
                        f" >= {t_ppm}").collect()}
        got = {(r.id_a, r.id_b) for r in
               _prefix_jaccard_pairs(base, t_ppm).collect()}
        parent_rows = pair_rows(base.select(F.explode("sh")
                                            .alias("shingle")))
        prefix_rows = pair_rows(_prefix_postings(base, t_ppm))
    assert got == want == {(i, 1000 + i) for i in range(20)}
    assert prefix_rows < 0.01 * parent_rows, (prefix_rows, parent_rows)
    assert {r.n_true_total for r in lsh_band_tuning(df).collect()} == {20}


def test_hard_negatives_seed_scan_bit_identical(spark, embeds):
    """hard_negatives (r10: label-masked Arrow seed scan) must reproduce
    the all-pairs join + window spec BIT-FOR-BIT — same rounded cosines,
    same (cosine desc, id asc) ranks, same different-label constraint —
    or the oracle-pinned mining output silently drifts."""
    from pyspark.sql import Window
    from vivace_graph_v3_spark.pipeline.dedup import cosine
    from vivace_graph_v3_spark.pipeline.similarity import hard_negatives

    base = embeds.limit(300)
    # null labels on anchors and candidates alike: SQL `la != lb` drops
    # every pair with a null on either side
    nulled = base.withColumn(
        "label", F.when(F.col("vec_id") % 7 == 0, F.lit(None))
        .otherwise(F.col("label")))
    for emb in (base, nulled):
        a = emb.select(F.col("vec_id").alias("anchor_id"),
                       F.col("embedding").alias("va"),
                       F.col("label").alias("la"))
        b = emb.select(F.col("vec_id").alias("negative_id"),
                       F.col("embedding").alias("vb"),
                       F.col("label").alias("lb"))
        pairs = (a.join(b, (F.col("anchor_id") != F.col("negative_id"))
                        & (F.col("la") != F.col("lb")))
                 .select("anchor_id", "negative_id",
                         F.round(cosine(F.col("va"), F.col("vb")), 6)
                         .alias("cosine")))
        w = Window.partitionBy("anchor_id").orderBy(
            F.col("cosine").desc(), F.col("negative_id").asc())
        spec = (pairs.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= 3))
        got = hard_negatives(emb, k=3)
        assert got.schema == spec.schema
        assert sorted(map(tuple, got.collect())) == \
            sorted(map(tuple, spec.collect()))


def test_hard_negatives_seed_past_driver_bound_raises(spark, embeds):
    """The seed matrix is collected once, capped at the driver bound: a
    corpus past ``util.DRIVER_ROWS`` raises ValueError naming it rather
    than pulling the whole corpus onto the driver."""
    from unittest import mock

    from vivace_graph_v3_spark import util
    from vivace_graph_v3_spark.pipeline.similarity import hard_negatives

    with mock.patch.object(util, "DRIVER_ROWS", 9):
        with pytest.raises(ValueError, match="DRIVER_ROWS"):
            hard_negatives(embeds.limit(10), k=3)


def _nan_rows(df):
    """Order-insensitive rows with NaN made comparable."""
    import math

    return sorted((tuple("NaN" if isinstance(v, float) and math.isnan(v)
                         else v for v in r) for r in df.collect()), key=repr)


def test_containment_local_matches_distributed(spark):
    """The driver-side containment kernel (within the driver bound) and
    the Spark plan past it give identical rows: the +2 prefix case at
    threshold 0.666667, documents under ``n`` tokens, duplicate texts
    under distinct ids, one hot shingle in every document, a null id,
    an id with two documents (the Spark plan decides that one) and two
    documents sharing 1200 shingles (past an int's common * 2000000)."""
    import random

    from vivace_graph_v3_spark.pipeline.dedup import containment_pairs

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(25)]
    rows = [(i, " ".join(rng.choice(vocab) for _ in range(12)) + " hot x y")
            for i in range(30)]
    rows += [(100 + i, rows[i][1] + " " + " ".join(
        rng.choice(vocab) for _ in range(8))) for i in range(4)]
    rows += [(200, "a b c d e"), (201, "x b c d e y"), (202, "a b c d e"),
             (203, "a b"), (204, ""), (205, None), (None, "a b c d e f"),
             (206, "p q r s"), (206, "p q r s")]
    long_doc = " ".join(f"t{i}" for i in range(1202))
    rows += [(300, long_doc), (301, long_doc + " z")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    unique_ids = df.filter(F.col("doc_id").isNull()
                           | (F.col("doc_id") != 206))
    for frame in (df, unique_ids):
        for t in (0.666667, 0.8):
            got = _nan_rows(containment_pairs(frame, threshold=t))
            with distributed_regime():
                want = _nan_rows(containment_pairs(frame, threshold=t))
            assert got == want and got, t
    got = {(a, b): c for a, b, c in _nan_rows(
        containment_pairs(unique_ids, threshold=0.666667))}
    assert got[(200, 201)] == 0.666667 and got[(200, 202)] == 1.0
    assert got[(300, 301)] == 1.0 and got[(301, 300)] == 0.999167


def test_bruteforce_topk_local_matches_distributed(spark):
    """Exact top-k on the driver (within the driver bound) against the
    Spark plans past it, for both branches: a zero vector (a NaN cosine,
    null in every plan and ranked last), k larger than the corpus, ties
    on the rounded cosine, string and long ids. The seed branch's Spark
    path is forced by a bound that fits the seed but not the pairs. The
    local path's executed plans hold no Python node."""
    from unittest import mock

    from vivace_graph_v3_spark import util
    from vivace_graph_v3_spark.pipeline.similarity import (
        cosine_topk_bruteforce)

    vecs = [[1.0, 0.0], [0.0, 0.0], [1.0, 1.0], [2.0, 2.0], [3.0, 0.0],
            [-1.0, 0.5], [1.0, 1e-8], [0.0, 0.0], [0.0, 0.0], [0.0, 0.0]]
    longs = spark.createDataFrame(list(enumerate(vecs)),
                                  "vec_id long, embedding array<float>")
    strs = longs.select(F.concat(F.lit("v"), F.col("vec_id").cast("string"))
                        .alias("vec_id"), "embedding")
    store = spark._jsparkSession.sharedState().statusStore()

    def plans():
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        it, out = store.executionsList().iterator(), {}
        while it.hasNext():
            e = it.next()
            out[e.executionId()] = e.physicalPlanDescription()
        return out

    for emb, picks in ((longs, [0, 1, 4, 6]), (strs, ["v0", "v1", "v6"])):
        qs = emb.filter(F.col("vec_id").isin(picks))
        for k in (3, 20):
            for seed in (False, True):
                before = plans()
                got = _nan_rows(cosine_topk_bruteforce(
                    emb, qs, k, broadcast_corpus=seed))
                ran = [p for i, p in plans().items() if i not in before]
                assert ran and not any("MapInPandas" in p or
                                       "ArrowEvalPython" in p for p in ran)
                with (mock.patch.object(util, "DRIVER_ROWS", len(vecs))
                      if seed else distributed_regime()):
                    want = _nan_rows(cosine_topk_bruteforce(
                        emb, qs, k, broadcast_corpus=seed))
                assert got == want, (k, seed)
    got = {(q, n): (c, r) for q, n, c, r in _nan_rows(
        cosine_topk_bruteforce(longs, longs.filter("vec_id = 0"), 20))}
    assert got[(0, 4)] == (1.0, 1) and got[(0, 6)] == (1.0, 2)
    assert got[(0, 1)] == (None, 6) and len(got) == 9


def test_bruteforce_topk_bound_counts_pairs(spark, monkeypatch):
    """The default top-k's collects are capped by query x corpus pairs,
    not by vectors: past the driver bound a call collects
    O(DRIVER_ROWS / |Q|) corpus rows (plus a 2·isqrt(DRIVER_ROWS) + 2-row
    probe) before it takes its Spark plan, and within the bound it still
    finishes on the driver."""
    import math

    from vivace_graph_v3_spark import util
    from vivace_graph_v3_spark.pipeline.similarity import (
        cosine_topk_bruteforce)

    corpus = spark.range(3000).select(
        F.col("id").alias("vec_id"),
        F.array((F.col("id") % 17).cast("float"),
                F.lit(1.0).cast("float")).alias("embedding"))
    pulled = []
    to_arrow = type(corpus).toArrow

    def counted(self):
        t = to_arrow(self)
        pulled.append(t.num_rows)
        return t

    monkeypatch.setattr(type(corpus), "toArrow", counted)
    monkeypatch.setattr(util, "DRIVER_ROWS", 10_000)
    for nq, local in ((20, False), (3, True)):
        pulled.clear()
        qs = corpus.filter(F.col("vec_id") < nq)
        got = _nan_rows(cosine_topk_bruteforce(corpus, qs, 3))
        probe = 2 * math.isqrt(util.DRIVER_ROWS) + 2
        if local:
            assert pulled == [probe, nq, 3000]
        else:
            assert pulled and sum(pulled) <= (
                probe + nq + util.DRIVER_ROWS // nq + 1)
        with distributed_regime():
            assert got == _nan_rows(cosine_topk_bruteforce(corpus, qs, 3))
