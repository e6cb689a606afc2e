"""SQL scalar-function surface (functions/sqlapi.py): every fs_* SQL
function must agree exactly with its Column-API twin on the driver
corpus — same expressions resolved by Catalyst, so equality is
bit-for-bit, including NULL conventions."""

import pytest
from pyspark.sql import functions as F

from faisssearcher_spark.functions import metrics as M
from faisssearcher_spark.functions.sqlapi import register_sql_functions
from faisssearcher_spark.functions.vector import l2_normalize


@pytest.fixture(scope="module")
def pairs(spark, embeddings):
    register_sql_functions(spark)
    a = embeddings.select(F.col("vec_id").alias("ia"),
                          F.col("embedding").alias("va"))
    b = embeddings.select(F.col("vec_id").alias("ib"),
                          F.col("embedding").alias("vb"))
    df = a.join(b, F.col("ia") * 7 % 50 == F.col("ib") % 50) \
        .limit(300).cache()
    df.createOrReplaceTempView("__sql_pairs")
    return df


_CASES = [
    ("fs_dot(va, vb)", lambda: M.inner_product("va", "vb")),
    ("fs_cos(va, vb)", lambda: M.cosine("va", "vb")),
    ("fs_l2(va, vb)", lambda: M.l2_squared("va", "vb")),
    ("fs_l2_true(va, vb)", lambda: M.l2_distance("va", "vb")),
    ("fs_l1(va, vb)", lambda: M.l1("va", "vb")),
    ("fs_linf(va, vb)", lambda: M.l_inf("va", "vb")),
    ("fs_lp(va, vb, 3.0D)", lambda: M.l_p("va", "vb", 3.0)),
    ("fs_braycurtis(va, vb)", lambda: M.bray_curtis("va", "vb")),
    ("fs_canberra(va, vb)", lambda: M.canberra("va", "vb")),
    ("fs_norm(va)", lambda: M.l2_norm("va")),
]


class TestSqlFunctionParity:
    @pytest.mark.parametrize("sql_expr,col_fn",
                             _CASES, ids=[c[0].split("(")[0]
                                          for c in _CASES])
    def test_bitwise_parity(self, spark, pairs, sql_expr, col_fn):
        got = [r["v"] for r in spark.sql(
            f"SELECT {sql_expr} AS v FROM __sql_pairs "
            "ORDER BY ia, ib").collect()]
        want = [r["v"] for r in pairs.select(col_fn().alias("v"))
                .orderBy("ia", "ib").collect()]
        assert got == want          # same Catalyst expressions → exact

    def test_jensen_shannon_on_distributions(self, spark, pairs):
        # JS needs non-negative inputs: compare on abs()'d vectors
        got = [r["v"] for r in spark.sql(
            "SELECT fs_jensen_shannon(transform(va, x -> abs(x)), "
            "transform(vb, x -> abs(x))) AS v FROM __sql_pairs "
            "ORDER BY ia, ib").collect()]
        want = [r["v"] for r in pairs.select(
            M.jensen_shannon(F.transform("va", lambda x: F.abs(x)),
                             F.transform("vb", lambda x: F.abs(x)))
            .alias("v")).orderBy("ia", "ib").collect()]
        assert got == want

    def test_cos_zero_norm_null(self, spark):
        register_sql_functions(spark)
        r = spark.sql("SELECT fs_cos(array(0.0D, 0.0D), "
                      "array(1.0D, 2.0D)) AS v").first()
        assert r["v"] is None

    def test_l2_normalize_parity_and_zero_passthrough(self, spark, pairs):
        got = [r["v"] for r in spark.sql(
            "SELECT fs_l2_normalize(va) AS v FROM __sql_pairs "
            "ORDER BY ia, ib LIMIT 50").collect()]
        want = [r["v"] for r in pairs.select(
            l2_normalize("va").alias("v"))
            .orderBy("ia", "ib").limit(50).collect()]
        for g, w in zip(got, want):
            assert list(g) == pytest.approx(list(w), abs=0.0)
        z = spark.sql("SELECT fs_l2_normalize(array(0.0D, 0.0D)) AS v") \
            .first()["v"]
        assert list(z) == [0.0, 0.0]

    def test_idempotent_registration(self, spark):
        names = register_sql_functions(spark)
        again = register_sql_functions(spark)
        assert names == again and len(names) == 21

    def test_fs_mrl_parity(self, spark, pairs):
        from faisssearcher_spark.functions.vector import mrl_truncate
        got = spark.sql(
            "SELECT ia, fs_mrl(va, 3) AS m FROM __sql_pairs "
            "ORDER BY ia, ib").collect()
        want = pairs.select("ia", mrl_truncate("va", 3).alias("m")) \
            .orderBy("ia", "ib").collect()
        for g, w in zip(got, want):
            assert list(g["m"]) == list(w["m"])

    def test_b1_codec_parity(self, spark, pairs):
        from faisssearcher_spark.functions.vector import (b1_hamming,
                                                          quantize_b1)
        got = spark.sql(
            "SELECT ia, ib, fs_b1_pack(va) AS ca, "
            "fs_b1_hamming(fs_b1_pack(va), fs_b1_pack(vb)) AS h "
            "FROM __sql_pairs ORDER BY ia, ib").collect()
        want = pairs.select(
            "ia", "ib", quantize_b1("va").alias("ca"),
            b1_hamming(quantize_b1("va"), quantize_b1("vb")).alias("h")
        ).orderBy("ia", "ib").collect()
        for g, w in zip(got, want):
            assert list(g["ca"]) == list(w["ca"])
            assert g["h"] == w["h"]

    def test_fs_hamming_longs(self, spark):
        r = spark.sql("SELECT fs_hamming(CAST(13 AS BIGINT), "
                      "CAST(7 AS BIGINT)) AS h, "
                      "fs_hamming(CAST(-1 AS BIGINT), "
                      "CAST(0 AS BIGINT)) AS hneg").first()
        assert r["h"] == 2 and r["hneg"] == 64

    def test_text_functions_parity(self, spark, documents):
        """The dedup-key text functions agree with their Column twins
        on the driver corpus — the SQL dedup recipe
        (GROUP BY fs_fingerprint(text)) matches the operator."""
        from faisssearcher_spark.functions import text as T

        register_sql_functions(spark)
        documents.createOrReplaceTempView("__sql_docs")
        got = spark.sql(
            "SELECT doc_id, fs_tokens(text) AS tk, "
            "fs_token_count(text) AS n, fs_fingerprint(text) AS fp, "
            "fs_normalize_text(text) AS nt, fs_md5int(text) AS h "
            "FROM __sql_docs ORDER BY doc_id").collect()
        want = documents.select(
            "doc_id", T.tokens("text").alias("tk"),
            T.token_count("text").alias("n"),
            T.fingerprint("text").alias("fp"),
            T.normalize_text("text").alias("nt"),
            T.md5_int("text").alias("h")).orderBy("doc_id").collect()
        for g, w in zip(got, want):
            assert list(g["tk"]) == list(w["tk"])
            assert (g["n"], g["fp"], g["nt"], g["h"]) == \
                (w["n"], w["fp"], w["nt"], w["h"])

    def test_no_python_in_plan(self, spark, pairs):
        """SQL functions resolve to Catalyst expressions — no
        Arrow/Python eval node may appear."""
        from faisssearcher_spark.plans.inspect import python_stages

        df = spark.sql("SELECT fs_cos(va, vb) AS v FROM __sql_pairs")
        assert python_stages(df) == 0
