"""SparkSearcher facade: reference API parity (modes, result shapes,
feature-sep splits, persistence) — SURVEY.md §3."""

import math
from collections import Counter

import pyarrow as pa
import pytest
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from faisssearcher_spark.encoders import HashingEncoder, encoder_udf
from faisssearcher_spark.operators.knn import cal_sim
from faisssearcher_spark.plans.inspect import python_stages
from faisssearcher_spark.searcher import SparkSearcher


class _CounterParam(AccumulatorParam):
    def zero(self, value):
        return Counter()

    def addInPlace(self, a, b):
        a.update(b)
        return a


class _CountingEncoder(HashingEncoder):
    """HashingEncoder that counts every text it encodes, on the driver
    and in the workers, into a Counter accumulator."""

    def __init__(self, counts):
        super().__init__(dim=8)
        self.counts = counts

    def encode(self, items, verbose: int = 0):
        texts = [str(t) for t in items]
        self.counts.add(Counter(texts))
        return super().encode(texts)


def _texts(spark, prefix: str, n: int):
    return spark.createDataFrame(pa.table({
        "text": [f"{prefix} row {i}" for i in range(n)],
        "i": pa.array(range(n), pa.int32())}))


def _cached_rdd_ids(spark) -> set:
    return {info.id() for info in
            spark.sparkContext._jsc.sc().getRDDStorageInfo()}


@pytest.fixture(scope="module")
def doc_searcher(spark, documents):
    corpus = documents.select("text", "lang", "source", "n_chars")
    return SparkSearcher(corpus, encoder=HashingEncoder(dim=8),
                         measurement="cos").train()


class TestEncoderMode:
    def test_result_shape(self, doc_searcher):
        res = doc_searcher.search(["spark join merge"], topK=3,
                                  keep_rank_no=True)
        assert res.columns == ["source_item", "sim_item", "sim_val",
                               "rank_no", "lang", "source", "n_chars"]
        assert res.count() == 3

    def test_self_search_top1(self, doc_searcher, documents):
        text = documents.first()["text"]
        top = doc_searcher.search([text], topK=1).collect()[0]
        assert top["sim_item"] == text
        assert top["sim_val"] == pytest.approx(1.0, abs=1e-6)

    def test_range_search_contains_self_and_matches_topk(self,
                                                         doc_searcher,
                                                         documents):
        """range_search(r) must return exactly the items search() scores
        above r — checked against a full-corpus search at the same
        rounding — and the self-match (sim 1.0) always clears r<1."""
        text = documents.first()["text"]
        n = documents.count()
        rs = doc_searcher.range_search([text], radius=0.8, score_scale=4)
        assert rs.columns == ["source_item", "sim_item", "sim_val",
                              "lang", "source", "n_chars"]
        got = {r["sim_item"] for r in rs.collect()}
        assert text in got
        full = doc_searcher.search([text], topK=n, score_scale=4).collect()
        want = {r["sim_item"] for r in full if r["sim_val"] > 0.8}
        assert got == want

    def test_multi_radius_dict(self, doc_searcher, documents):
        """range_search(radii=[...]) — the List-K compute-once/filter-
        many form: dict keyed by radius, each frame equal to the
        standalone call at that radius."""
        text = documents.first()["text"]
        multi = doc_searcher.range_search([text], [0.9, 0.7],
                                          score_scale=4)
        assert sorted(multi) == [0.7, 0.9]
        for r, df in multi.items():
            want = {(x["source_item"], x["sim_item"], x["sim_val"])
                    for x in doc_searcher.range_search(
                        [text], r, score_scale=4).collect()}
            got = {(x["source_item"], x["sim_item"], x["sim_val"])
                   for x in df.collect()}
            assert got == want, f"radius {r}"
        # the tighter set is a subset of the looser one
        loose = {x["sim_item"] for x in multi[0.7].collect()}
        tight = {x["sim_item"] for x in multi[0.9].collect()}
        assert tight <= loose and text in tight

    def test_multi_k_dict(self, doc_searcher):
        res = doc_searcher.search(["spark join"], topK=[1, 3],
                                  keep_rank_no=True)
        assert sorted(res) == [1, 3]
        assert res[1].count() == 1 and res[3].count() == 3

    def test_rank_no_dropped_by_default(self, doc_searcher):
        res = doc_searcher.search(["spark"], topK=2)
        assert "rank_no" not in res.columns

    def test_cal_sim_returns_all_ranked(self, doc_searcher):
        res = doc_searcher.cal_sim("spark join", ["spark join", "key value"])
        rows = res.collect()
        assert len(rows) == 2
        assert rows[0]["score"] >= rows[1]["score"]
        assert rows[0]["item"] == "spark join"

    def test_untrained_raises(self, documents):
        s = SparkSearcher(documents.select("text"),
                          encoder=HashingEncoder(dim=4))
        with pytest.raises(RuntimeError, match="train"):
            s.search(["x"], 1)


class TestDriverEncodedQueries:
    """A List[str] target is encoded on the driver in one encode call and
    must answer exactly like the same texts passed as a DataFrame target,
    which the executor UDF encodes."""

    QUERIES = ["spark join merge##q1", "filter scan row##q2",
               "the big data##q3"]

    @pytest.fixture(scope="class")
    def corpus(self, documents):
        return documents.filter(F.col("doc_id") < 80).select(
            F.concat("text", F.lit("##d"),
                     F.col("doc_id").cast("string")).alias("text"), "lang")

    @staticmethod
    def _rows(res):
        if isinstance(res, DataFrame):
            return sorted(map(tuple, res.collect()))
        return {k: sorted(map(tuple, v.collect())) for k, v in res.items()}

    def _both(self, spark, call, texts=QUERIES):
        frame = spark.createDataFrame([(t,) for t in texts], "text string")
        return self._rows(call(list(texts))), self._rows(call(frame))

    @pytest.mark.parametrize("measurement", ["cos", "ip", "l2"])
    def test_search_matches_dataframe_target(self, spark, corpus,
                                             measurement):
        s = SparkSearcher(corpus, encoder=HashingEncoder(dim=8),
                          measurement=measurement).train()
        got, want = self._both(spark, lambda t: s.search(
            t, topK=3, keep_rank_no=True))
        assert got == want and len(got) == 9

    def test_whitening_feature_seps_and_multi_k(self, spark, corpus):
        from faisssearcher_spark.operators.whitening import VecsWhitening

        vecs = corpus.select(HashingEncoder(dim=8).spark_expr("text")
                             .alias("v"))
        s = SparkSearcher(corpus, encoder=HashingEncoder(dim=8),
                          whitening=VecsWhitening(6).fit(vecs, "v"),
                          query_feature_sep="##",
                          doc_feature_sep="##").train()
        got, want = self._both(spark, lambda t: s.search(
            t, topK=[1, 3], keep_rank_no=True))
        assert got == want and sorted(got) == [1, 3]
        assert all("##" not in r[0] and "##" not in r[1] for r in got[3])

    def test_range_search_matches_dataframe_target(self, spark, corpus):
        s = SparkSearcher(corpus, encoder=HashingEncoder(dim=8)).train()
        got, want = self._both(spark, lambda t: s.range_search(t, 0.3))
        assert got == want and got
        got, want = self._both(spark, lambda t: s.range_search(
            t, [0.2, 0.4], score_scale=4))
        assert got == want and sorted(got) == [0.2, 0.4] and got[0.4]

    def test_empty_list(self, spark, corpus):
        s = SparkSearcher(corpus, encoder=HashingEncoder(dim=8)).train()
        got, want = self._both(spark, lambda t: s.search(t, topK=3), [])
        assert got == want == []

    def test_list_queries_run_no_python(self, spark, corpus):
        """The encoded query frame is a local table: no Python eval node
        and no Python-RDD scan. The DataFrame target keeps its UDF."""
        s = SparkSearcher(corpus, encoder=HashingEncoder(dim=8)).train()
        assert python_stages(s._prepare_queries(self.QUERIES, s.corpus)) == 0
        assert python_stages(s.search(self.QUERIES, topK=3)) == 0
        frame = spark.createDataFrame([(t,) for t in self.QUERIES],
                                      "text string")
        assert python_stages(s._prepare_queries(frame, s.corpus)) == 2


def _udf_cal_sim(s, item1, items2):
    """cal_sim with every text encoded by the executor UDF — the form
    the driver-side encode must reproduce."""
    spark = s.items.sparkSession
    udf = encoder_udf(s.encoder)
    if isinstance(items2, DataFrame):
        key = s.item_col
    else:
        key = "item"
        items2 = spark.createDataFrame([(t,) for t in items2], "item string")
    qv = spark.createDataFrame([(item1,)], "q string") \
        .withColumn("__vec", udf(F.col("q")))
    cv = items2.withColumn("__vec", udf(F.col(key)))
    if s.whitening is not None:
        qv = qv.withColumn("__vec", s.whitening.transform_expr("__vec"))
        cv = cv.withColumn("__vec", s.whitening.transform_expr("__vec"))
    return cal_sim(qv, cv, query_vec_col="__vec", cand_vec_col="__vec",
                   cand_key_col=key).withColumnRenamed(key, "item")


class TestCalSimParity:
    @pytest.mark.parametrize("whitened", [False, True])
    def test_list_and_dataframe_candidates(self, spark, documents,
                                           whitened):
        from faisssearcher_spark.operators.whitening import VecsWhitening

        corpus = documents.filter(F.col("doc_id") < 40).select(
            "text", "lang")
        wh = (VecsWhitening(4).fit(corpus.select(
            HashingEncoder(dim=8).spark_expr("text").alias("v")), "v")
            if whitened else None)
        s = SparkSearcher(corpus, encoder=HashingEncoder(dim=8),
                          measurement="cos", whitening=wh).train()
        texts = [r["text"] for r in corpus.limit(6).collect()]
        for items2 in (texts + ["spark join"], corpus.limit(12)):
            got = s.cal_sim("spark join merge", items2)
            want = _udf_cal_sim(s, "spark join merge", items2)
            assert got.columns == want.columns
            assert got.collect() == want.collect()
        assert python_stages(s.cal_sim("spark join", texts)) == \
            (2 if whitened else 0)


class TestFeatureSep:
    def test_query_and_doc_feature_sep(self, spark):
        # faiss_searcher.py:150-156: strip suffixes after the separator
        corpus = spark.createDataFrame(
            [("apple##f1", 1), ("banana##f2", 2)], "text string, pid int")
        s = SparkSearcher(corpus, encoder=HashingEncoder(dim=4),
                          measurement="cos", doc_feature_sep="##",
                          query_feature_sep="##").train()
        res = s.search(["apple##q9"], topK=1).collect()[0]
        assert res["source_item"] == "apple"
        assert res["sim_item"] == "apple"


class TestRawVectorMode:
    def test_search_with_vec_col(self, embeddings):
        s = SparkSearcher(embeddings, vec_col="embedding", key_col="vec_id",
                          measurement="l2").train()
        res = s.search(embeddings.limit(2), topK=3, keep_rank_no=True)
        assert res.count() == 6
        # self-match at rank 0 with distance 0
        top = res.filter(F.col("rank_no") == 0).collect()
        for r in top:
            assert r["sim_val"] == pytest.approx(0.0, abs=1e-9)

    def test_requires_vec_col_or_encoder(self, documents):
        with pytest.raises(TypeError, match="vector"):
            SparkSearcher(documents)


class TestPersistence:
    def test_save_load_roundtrip(self, spark, documents, tmp_path):
        corpus = documents.select("text", "lang")
        s = SparkSearcher(corpus, encoder=HashingEncoder(dim=4),
                          measurement="cos").train()
        path = str(tmp_path / "searcher")
        s.save(path)
        loaded = SparkSearcher.load(spark, path, encoder=HashingEncoder(dim=4))
        res = loaded.search(["spark join"], topK=2)
        assert res.count() == 2

    def test_load_without_encoder_raises(self, spark, documents, tmp_path):
        corpus = documents.select("text", "lang")
        s = SparkSearcher(corpus, encoder=HashingEncoder(dim=4)).train()
        path = str(tmp_path / "searcher2")
        s.save(path)
        with pytest.raises(ValueError, match="encoder"):
            SparkSearcher.load(spark, path)

    def test_whitened_roundtrip_scores_unchanged(self, spark, embeddings,
                                                 tmp_path):
        """r1/r2 ADVICE: a whitened searcher must reload WITH its whitening
        (has_whitening now lives in the JSON meta, not an os.path probe) —
        scores after load must equal scores before."""
        from faisssearcher_spark.operators.whitening import VecsWhitening

        wh = VecsWhitening(8).fit(embeddings, "embedding")
        s = SparkSearcher(embeddings, vec_col="embedding", key_col="vec_id",
                          measurement="cos", whitening=wh).train()
        q = embeddings.limit(3)
        before = sorted(map(tuple,
                            s.search(q, topK=4, keep_rank_no=True,
                                     score_scale=4).collect()))
        path = str(tmp_path / "searcher_wh")
        s.save(path)
        loaded = SparkSearcher.load(spark, path)
        assert loaded.whitening is not None
        after = sorted(map(tuple,
                           loaded.search(q, topK=4, keep_rank_no=True,
                                         score_scale=4).collect()))
        assert before == after

    def test_meta_records_has_whitening(self, spark, embeddings, tmp_path):
        import json
        import os
        s = SparkSearcher(embeddings, vec_col="embedding", key_col="vec_id",
                          measurement="cos").train()
        path = str(tmp_path / "searcher_plain")
        s.save(path)
        meta = json.loads(spark.read.parquet(
            os.path.join(path, "meta")).first()["meta"])
        assert meta["has_whitening"] is False


class TestAddItems:
    def test_incremental_add_matches_full_retrain(self, spark, documents):
        from faisssearcher_spark.encoders import HashingEncoder
        from faisssearcher_spark.searcher import SparkSearcher

        corpus = documents.select("text", "lang")
        first = corpus.limit(30)
        rest = corpus.subtract(first)

        inc = SparkSearcher(first, encoder=HashingEncoder(dim=8),
                            measurement="cos").train(validate=False)
        inc.add_items(rest)
        full = SparkSearcher(corpus, encoder=HashingEncoder(dim=8),
                             measurement="cos").train(validate=False)

        q = ["spark join merge"]
        a = inc.search(q, topK=5, keep_rank_no=True, score_scale=4)
        b = full.search(q, topK=5, keep_rank_no=True, score_scale=4)
        assert sorted(map(tuple, a.collect())) \
            == sorted(map(tuple, b.collect()))

    def test_add_before_train_raises(self, spark, documents):
        import pytest
        from faisssearcher_spark.encoders import HashingEncoder
        from faisssearcher_spark.searcher import SparkSearcher

        s = SparkSearcher(documents.select("text"),
                          encoder=HashingEncoder(dim=8))
        with pytest.raises(RuntimeError):
            s.add_items(documents.select("text"))

    def test_add_items_caches_each_encoded_row_once(self, spark):
        """Appends keep the corpus cached as it is: 64 appends encode every
        row exactly once, leave O(log n) cached segments and no other
        cache (no row is cached twice), and close() releases them all."""
        counts = spark.sparkContext.accumulator(Counter(), _CounterParam())
        before = _cached_rdd_ids(spark)
        s = SparkSearcher(_texts(spark, "base", 20),
                          encoder=_CountingEncoder(counts),
                          measurement="cos").train()
        for n in range(1, 65):
            s.add_items(_texts(spark, f"add{n}", 1 + n % 3))
            segments = s._cached_state()
            assert len(segments) - 1 <= math.log2(n) + 1, n
        want = {r["text"] for r in s.corpus.collect()}
        assert len(want) == 20 + sum(1 + n % 3 for n in range(1, 65))
        top = s.search(["add64 row 1"], topK=1).collect()[0]
        assert (top["sim_item"], top["sim_val"]) == \
            ("add64 row 1", pytest.approx(1.0, abs=1e-6))
        # each corpus row once, plus the query text once on the driver
        assert counts.value == Counter(want) + Counter(["add64 row 1"])
        assert len(_cached_rdd_ids(spark) - before) == len(segments)
        s.close()
        assert not _cached_rdd_ids(spark) - before

    def test_indexed_add_items_codes_each_row_once(self, spark):
        """The index codes appended rows from the searcher's segment
        cache: the encoder still sees every row once, and close()
        releases the corpus and index segments."""
        counts = spark.sparkContext.accumulator(Counter(), _CounterParam())
        before = _cached_rdd_ids(spark)
        s = SparkSearcher(_texts(spark, "base", 40),
                          encoder=_CountingEncoder(counts),
                          measurement="cos", index_param="IVF2",
                          index_kwargs={"nprobe": 2,
                                        "train_mode": "sample"}).train()
        for n in range(1, 7):
            s.add_items(_texts(spark, f"add{n}", 2))
        top = s.search(["add6 row 1"], topK=1).collect()[0]
        assert top["sim_item"] == "add6 row 1"
        want = {r["text"] for r in s.corpus.collect()}
        assert counts.value == Counter(want) + Counter(["add6 row 1"])
        s.close()
        assert not _cached_rdd_ids(spark) - before

    def test_validate_checks_the_new_segment(self, spark):
        """add_items(validate=True) checks the new rows against the
        trained dimension; a rejected append leaves the corpus as it
        was."""
        def vecs(keys, rows):
            return spark.createDataFrame(pa.table({
                "k": keys, "v": pa.array(rows, pa.list_(pa.float32()))}))

        s = SparkSearcher(vecs(["a", "b"], [[1, 0], [0, 1]]),
                          vec_col="v", key_col="k").train()
        with pytest.raises(ValueError, match="expected dim 2"):
            s.add_items(vecs(["c"], [[1, 1, 1]]), validate=True)
        assert s.corpus.count() == 2 and len(s._cached_state()) == 1
        s.add_items(vecs(["d"], [[1, 1]]), validate=True)
        assert sorted(r["k"] for r in s.corpus.collect()) == ["a", "b", "d"]


class TestCombinedKwargs:
    def test_multik_with_payload_and_both_feature_seps(self, spark):
        """VERDICT r2 #7: the List-K dict path must compose with payload
        carry AND both feature-sep splits — each multi-K slice equals the
        direct single-K search with identical kwargs."""
        corpus = spark.createDataFrame(
            [("apple pie recipe##d1", "food", 1),
             ("apple tart recipe##d2", "food", 2),
             ("banana bread##d3", "food", 3),
             ("spark shuffle join##d4", "eng", 4),
             ("spark merge join##d5", "eng", 5)],
            "text string, topic string, pid int")
        def build():
            return SparkSearcher(
                corpus, encoder=HashingEncoder(dim=8), measurement="cos",
                query_feature_sep="##", doc_feature_sep="##").train()
        s = build()
        multi = s.search(["apple pie recipe##q1", "spark join##q2"],
                         topK=[1, 3], keep_rank_no=True, score_scale=4)
        assert sorted(multi) == [1, 3]
        for k in (1, 3):
            direct = build().search(
                ["apple pie recipe##q1", "spark join##q2"],
                topK=k, keep_rank_no=True, score_scale=4)
            got = sorted(map(tuple, multi[k].collect()))
            want = sorted(map(tuple, direct.collect()))
            assert got == want, k
            # the separator split really happened on both sides
            for r in multi[k].collect():
                assert "##" not in r["source_item"]
                assert "##" not in r["sim_item"]
            # payload carried
            assert multi[k].columns[-2:] == ["topic", "pid"]


class TestAutoStrategyThroughSearcher:
    def test_search_with_auto_strategy(self, doc_searcher):
        """strategy='auto' flows through the facade: encoded query frames
        have no usable size estimate (Python UDF stage), so auto must
        still resolve to a working kernel and match the default path."""
        a = doc_searcher.search(["spark join merge"], topK=3,
                                keep_rank_no=True, score_scale=4)
        b = doc_searcher.search(["spark join merge"], topK=3,
                                keep_rank_no=True, score_scale=4,
                                strategy="auto")
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


class TestIndexParam:
    """Reference parity: FaissSearcher(index_param=...) forwards FAISS
    index_factory specs (faiss_searcher.py:30,104). IVF / PQ / IVFPQ map
    to the native Spark indexes; when an index_param is given EVERY
    search routes through it; multi-K slices one max-K search."""

    def test_ivf_exhaustive_probe_matches_exact(self, embeddings):
        base = SparkSearcher(embeddings, vec_col="embedding",
                             key_col="vec_id", measurement="cos").train()
        ivf = SparkSearcher(embeddings, vec_col="embedding",
                            key_col="vec_id", measurement="cos",
                            index_param="IVF8",
                            index_kwargs={"nprobe": 8}).train()
        q = embeddings.limit(3)
        exact = {(r["source_item"], r["sim_item"])
                 for r in base.search(q, topK=5).collect()}
        idx = {(r["source_item"], r["sim_item"])
               for r in ivf.search(q, topK=5).collect()}
        assert idx == exact   # nprobe == n_cells -> exhaustive == exact

    def test_pq_encoder_mode_and_multik(self, documents):
        corpus = documents.select("text", "lang", "source", "n_chars")
        s = SparkSearcher(corpus, encoder=HashingEncoder(dim=8),
                          measurement="cos", index_param="PQ4").train()
        text = documents.first()["text"]
        multi = s.search([text], topK=[1, 3], keep_rank_no=True)
        assert set(multi) == {1, 3}
        assert multi[1].count() == 1 and multi[3].count() == 3
        rows3 = multi[3].collect()
        # PQ4 over 8 hashed dims is deliberately coarse: docs whose
        # embeddings collide in code space tie at the top, so the self
        # text is only guaranteed within the top-3, not exact top-1
        assert text in {r["sim_item"] for r in rows3}
        assert all(r["lang"] is not None for r in rows3)   # payload carried
        # multi-K slice == direct search at that K
        direct = {(r["source_item"], r["sim_item"])
                  for r in s.search([text], topK=3).collect()}
        sliced = {(r["source_item"], r["sim_item"])
                  for r in multi[3].collect()}
        assert sliced == direct

    def test_ivfpq_roundtrip_rebuilds_index(self, spark, embeddings,
                                            tmp_path):
        s = SparkSearcher(embeddings, vec_col="embedding",
                          key_col="vec_id", measurement="cos",
                          index_param="IVF8,PQ8",
                          index_kwargs={"nprobe": 8}).train()
        q = embeddings.limit(2)
        before = {(r["source_item"], r["sim_item"])
                  for r in s.search(q, topK=4).collect()}
        path = str(tmp_path / "searcher_ivfpq")
        s.save(path)
        loaded = SparkSearcher.load(spark, path)
        assert loaded.index_param == "IVF8,PQ8"
        after = {(r["source_item"], r["sim_item"])
                 for r in loaded.search(q, topK=4).collect()}
        assert after == before   # seeded quantizers rebuild identically

    def test_add_items_reaches_index(self, embeddings):
        base = embeddings.filter(F.col("vec_id") < 400)
        extra = embeddings.filter(F.col("vec_id") >= 400)
        s = SparkSearcher(base, vec_col="embedding", key_col="vec_id",
                          measurement="cos", index_param="IVF8",
                          index_kwargs={"nprobe": 8}).train()
        s.add_items(extra)
        probe = extra.limit(1)
        top = s.search(probe, topK=1).collect()[0]
        assert top["sim_item"] == top["source_item"]   # added row findable
        assert top["sim_val"] == pytest.approx(1.0, abs=1e-6)

    def test_hnsw_spec_builds_native_graph(self, embeddings):
        """Round 6: bare HNSW<m> maps to the native NSW graph index
        (operators/graph.py) — no faiss import needed, same convention
        as IVF/PQ specs building native structures."""
        s = SparkSearcher(embeddings, vec_col="embedding",
                          key_col="vec_id", measurement="cos",
                          index_param="HNSW12").train()
        from faisssearcher_spark.operators.graph import NSWIndex
        assert isinstance(s._index, NSWIndex)
        q = embeddings.limit(1)
        top = s.search(q, topK=3, keep_rank_no=True)
        rows = top.collect()
        assert len(rows) == 3
        r0 = [r for r in rows if r["rank_no"] == 0][0]
        assert r0["sim_item"] == r0["source_item"]   # self at rank 0

    def test_unknown_spec_defers_to_faiss(self, embeddings):
        s = SparkSearcher(embeddings, vec_col="embedding",
                          key_col="vec_id", measurement="cos",
                          index_param="NSG32").train()
        try:
            import faiss  # noqa: F401
        except ImportError:
            with pytest.raises(ImportError):
                s.search(embeddings.limit(1), topK=3)
        else:
            assert s.search(embeddings.limit(1), topK=3).count() == 3

    def test_unsupported_measurement_rejected(self, embeddings):
        with pytest.raises(ValueError):
            SparkSearcher(embeddings, vec_col="embedding",
                          key_col="vec_id", measurement="canberra",
                          index_param="IVF8")


class TestRefineSpec:
    """",RFlat" index_factory suffix (IndexRefineFlat): native exact
    re-score for the PQ family through the facade."""

    def _corpus(self, spark):
        from faisssearcher_spark.sources.catalog import load_table
        return load_table(spark, "/root/testdata/sf0.001", "embeddings") \
            .limit(120).select("vec_id", "embedding", "label")

    def test_pq_rflat_matches_exact_search(self, spark):
        from faisssearcher_spark.searcher import SparkSearcher
        corpus = self._corpus(spark)
        q = corpus.limit(6)
        exact = SparkSearcher(corpus, vec_col="embedding", key_col="vec_id",
                              measurement="cos").train() \
            .search(q, topK=4, keep_rank_no=True)
        # shortlist factor large enough to cover the whole corpus ->
        # refined results must EQUAL the exact search
        refined = SparkSearcher(corpus, vec_col="embedding",
                                key_col="vec_id", measurement="cos",
                                index_param="PQ8,RFlat",
                                index_kwargs={"refine_factor": 40}) \
            .train().search(q, topK=4, keep_rank_no=True)
        e = {(r["source_item"], r["rank_no"]): r["sim_item"]
             for r in exact.collect()}
        g = {(r["source_item"], r["rank_no"]): r["sim_item"]
             for r in refined.collect()}
        assert e == g

    def test_spec_routing(self, spark):
        from faisssearcher_spark.searcher import SparkSearcher
        corpus = self._corpus(spark)
        s = SparkSearcher(corpus, vec_col="embedding", key_col="vec_id",
                          index_param="IVF8,PQ8,RFlat")
        assert s._index_plan[0] == "ivfpq" and s._refine
        s2 = SparkSearcher(corpus, vec_col="embedding", key_col="vec_id",
                           index_param="IVF8,RFlat")
        assert s2._index_plan[0] == "ivf" and not s2._refine  # already exact
        s3 = SparkSearcher(corpus, vec_col="embedding", key_col="vec_id",
                           index_param="SQ8,RFlat")
        assert s3._index_plan[0] == "faiss"   # real-FAISS pass-through


class TestRefineReviewRegressions:
    def test_refine_factor_survives_save_load(self, spark,
                                              tmp_path_factory):
        from faisssearcher_spark.searcher import SparkSearcher
        from faisssearcher_spark.sources.catalog import load_table
        corpus = load_table(spark, "/root/testdata/sf0.001",
                            "embeddings").limit(80) \
            .select("vec_id", "embedding")
        s = SparkSearcher(corpus, vec_col="embedding", key_col="vec_id",
                          measurement="cos", index_param="PQ8,RFlat",
                          index_kwargs={"refine_factor": 30}).train()
        path = str(tmp_path_factory.mktemp("rfs") / "s")
        s.save(path)
        loaded = SparkSearcher.load(spark, path)
        assert loaded.refine_factor == 30
        assert loaded._refine

    def test_refine_factor_without_rflat_rejected(self, spark):
        from faisssearcher_spark.searcher import SparkSearcher
        from faisssearcher_spark.sources.catalog import load_table
        corpus = load_table(spark, "/root/testdata/sf0.001",
                            "embeddings").limit(10) \
            .select("vec_id", "embedding")
        with pytest.raises(ValueError, match="RFlat"):
            SparkSearcher(corpus, vec_col="embedding", key_col="vec_id",
                          index_param="PQ8",
                          index_kwargs={"refine_factor": 4})

    def test_refine_factor_one_still_rescores_exactly(self, spark):
        """FAISS k_factor=1 semantics: the top-k itself is re-ranked
        with exact scores (review finding: factor 1 silently skipped
        the re-score)."""
        from faisssearcher_spark.functions.metrics import cosine
        from faisssearcher_spark.operators.ann import PQIndex
        from faisssearcher_spark.sources.catalog import load_table
        corpus = load_table(spark, "/root/testdata/sf0.001",
                            "embeddings").limit(100)
        q = corpus.limit(4).select(F.col("vec_id").alias("query_id"),
                                   "embedding")
        idx = PQIndex(m=8, metric="cos").fit(
            corpus, item_key_col="vec_id", item_vec_col="embedding")
        out = idx.search(q, k=3, query_item_col="query_id",
                         refine_factor=1).collect()
        vecs = {r["vec_id"]: r["embedding"] for r in corpus.collect()}
        import numpy as np
        for r in out:
            a = np.array(vecs[r["source_item"]], dtype=np.float64)
            b = np.array(vecs[r["sim_item"]], dtype=np.float64)
            exact = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
            assert r["sim_val"] == pytest.approx(exact, abs=1e-9)
