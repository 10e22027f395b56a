"""Regression tests for the round-7 ADVICE findings fixed in round 8.

Each test fails on the pre-fix code:
- dyad_census null_pairs wrapped IntegerType past ~46341 nodes and lost
  exactness to double division (graph_algorithms.py).
- strongly_connected_components returned None when the filtered edge set
  was empty on round one (graph_algorithms.py).
- word-burstiness moment terms overflowed LONG past 2^63 while the
  DuckDB oracle stayed exact in HUGEINT (pipeline/text.vmr_ppm_expr).
- read_documents' CSV path tore newline-bearing quoted text into
  malformed records and masked them as "" (sources/formats.py).
- the stats-reset (rebased) checkpoint crashed with AttributeError when
  the private JVM handles are absent (Spark Connect) instead of falling
  back to the plain localCheckpoint (util.materialized.checkpoint).
"""

import pyspark.sql.functions as F
import pytest


def test_dyad_census_exact_past_int32(spark):
    # a 50001-node directed chain: n*(n-1) = 2.5e9 wraps a 32-bit
    # product; exact long arithmetic must not
    from vivace_graph_v3_spark.operators.graph_algorithms import dyad_census

    n = 50_001
    edges = (spark.range(n - 1)
             .select(F.col("id").alias("src"),
                     (F.col("id") + 1).alias("dst")))
    row = dyad_census(edges).collect()[0]
    assert row["n_nodes"] == n
    assert row["mutual"] == 0
    assert row["asym"] == n - 1
    assert row["null_pairs"] == n * (n - 1) // 2 - (n - 1)
    assert row["reciprocity_ppm"] == 0


def test_scc_empty_active_set_returns_typed_empty_frame(spark):
    # self-loop-only edges: the dedup/neq filter empties the edge set,
    # active_n is empty on round one — callers must get a well-typed
    # empty (id, scc_id) frame, not None
    from vivace_graph_v3_spark.operators.graph_algorithms import (
        strongly_connected_components)

    edges = spark.createDataFrame(
        [(1, 1), (2, 2)], ["src", "dst"])
    out = strongly_connected_components(edges)
    assert out is not None
    assert [f.name for f in out.schema.fields] == ["id", "scc_id"]
    assert out.count() == 0
    # and the downstream groupBy shape q_graph_scc relies on works
    assert out.groupBy("scc_id").count().count() == 0


def test_vmr_ppm_exact_past_long_overflow(spark):
    # moments big enough that N*s2 and s1^2 pass 2^63: the LONG form
    # wraps (non-ANSI) while the decimal form matches exact Python ints
    from vivace_graph_v3_spark.pipeline.text import vmr_ppm_expr

    n_docs = 1_000_000
    s1, s2 = 5_000_000_000, 5 * 10**18  # s1^2 = 2.5e19 > 2^63
    df = spark.createDataFrame([("w", s1, s2)], ["w", "s1", "s2"])
    got = df.select(vmr_ppm_expr(n_docs).alias("vmr")).collect()[0]["vmr"]
    expected = ((n_docs * s2 - s1 * s1) * 1_000_000) // (n_docs * s1)
    assert int(got) == expected
    # sanity: the old LONG arithmetic would have wrapped
    wrapped = (((n_docs * s2 - s1 * s1) * 1_000_000) % (1 << 64))
    assert expected != wrapped - (1 << 64) and expected != wrapped


def test_csv_roundtrip_preserves_embedded_newlines(spark, tmp_path):
    from vivace_graph_v3_spark.sources.formats import (
        read_documents, write_documents)

    rows = [
        (1, 'line one\nline two, with "quotes"', "en", "web", 33),
        (2, "plain", "en", "web", 5),
        (3, None, "de", "books", 0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    path = str(tmp_path / "docs_csv")
    write_documents(df, path, fmt="csv")
    back = read_documents(spark, path, fmt="csv")
    got = {r["doc_id"]: r["text"] for r in back.collect()}
    assert got[1] == 'line one\nline two, with "quotes"'
    assert got[2] == "plain"
    assert got[3] == ""  # normalizing read coalesces NULL text to ""
    assert back.count() == 3


def test_checkpoint_rebased_falls_back_without_jvm_handles(spark):
    # Spark Connect has no _jdf/_jsparkSession: the owner's rebased
    # checkpoint must fall back to the plain eager localCheckpoint, not
    # raise AttributeError
    from vivace_graph_v3_spark import util

    class NoJvmFrame:
        """Mimics a Connect DataFrame: observe and localCheckpoint work,
        private JVM handles absent."""

        def __init__(self, real):
            self._real = real

        def observe(self, ob, *exprs):
            return NoJvmFrame(self._real.observe(ob, *exprs))

        def localCheckpoint(self, eager=True):
            self._real.collect()  # the eager materialization
            return self

        @property
        def sparkSession(self):
            return object()  # no _jsparkSession attribute

    def size(df):
        return int(df._jdf.queryExecution().optimizedPlan().stats()
                   .sizeInBytes())

    with util.materialized() as m:
        out, n = m.checkpoint(NoJvmFrame(spark.range(3)), rebase=True)
        # the fallback returns the checkpointed frame and its count
        assert isinstance(out, NoJvmFrame) and n == 3

        # and the classic path still produces a usable, stats-reset
        # frame: default leaf statistics, not the inherited 5-row size
        plain, _ = m.checkpoint(spark.range(5))
        real, n = m.checkpoint(spark.range(5), rebase=True)
        assert n == 5 and real.count() == 5
        assert size(real) > size(plain)


def test_word_burstiness_matches_oracle(spark, duck):
    import __spark_entry__ as e
    from tests.conftest import SF_DIR, duck_set, rows_set

    got = rows_set(e.queries()["text_word_burstiness"](spark, SF_DIR))
    want = duck_set(duck, e.oracle_sql()["text_word_burstiness"])
    assert got == want
