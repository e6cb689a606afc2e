"""The workloads. Each is a closed loop with one client: the next
operation starts only when the previous one has returned.

A workload function runs set-up (input generation, parquet landing,
warm-up) and then its timed loop for ``seconds``, and returns a
:class:`Result`. Engine calls go through :class:`tracing.Tracer` under
their site names, so the traced run charges Spark work to call sites.
The warm-up runs the same calls on one file of the input, so code
generation, JIT compilation and Python worker start-up happen before the
loop without doubling the set-up time.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import check
import gen
from clock import Stopwatch, reference_ms

K = 10

#: input sizes; "tiny" is for the benchmark's own tests
SIZES = {
    "full": {
        "vector_search": dict(n=5000, batch=16, n_batches=8,
                              index="IVF32,PQ16,RFlat"),
        "ingest_stream": dict(n_base=300, n_steps=12, batch=100,
                              dup_rate=0.3, edit_rate=0.0),
    },
    "tiny": {
        "vector_search": dict(n=400, batch=4, n_batches=4,
                              index="IVF4,PQ4,RFlat"),
        "ingest_stream": dict(n_base=100, n_steps=4, batch=30,
                              dup_rate=0.3, edit_rate=0.0),
    },
}
PARQUET_FILES = 8
BASE_FILES = 4
SETUP_REPEATS = 3
WARM_SECONDS = 10.0
WARM_STEPS = 3
MINHASH = dict(num_hashes=16, bands=4)
DEDUP_VERIFY = 0.5
SCREEN_THRESHOLD = 0.7
ENCODER_DIM = 8


@dataclass
class Result:
    """Raw samples of one run; ``run.py`` turns them into metrics."""
    attempted: int = 0
    failed: int = 0
    reasons: list[str] = field(default_factory=list)
    #: CPU ms of each timed operation, by name (``clock.Stopwatch``)
    samples: dict[str, list[float]] = field(
        default_factory=lambda: defaultdict(list))
    #: wall ms of the same operations
    wall: dict[str, list[float]] = field(
        default_factory=lambda: defaultdict(list))
    #: ``clock.reference_ms`` once before each loop operation
    ref: list[float] = field(default_factory=list)
    counts: dict[str, float] = field(
        default_factory=lambda: defaultdict(float))
    setup_parts: dict[str, float] = field(default_factory=dict)
    loop_t0: float = 0.0
    loop_t1: float = 0.0
    untraced_ms: list[float] = field(default_factory=list)
    traced_ms: list[float] = field(default_factory=list)

    def attempt(self, fn) -> bool:
        """Run one operation; an exception or a check's reason fails it."""
        self.attempted += 1
        try:
            why = fn()
        except Exception:
            why = traceback.format_exc(limit=3).strip().splitlines()[-1]
        if why:
            self.failed += 1
            self.reasons.append(why)
            return False
        return True

    def record(self, name: str, sw: Stopwatch) -> None:
        """Add a stopped interval to ``samples[name]`` (CPU ms) and
        ``wall[name]`` (wall ms)."""
        self.samples[name].append(sw.cpu_ms)
        self.wall[name].append(sw.wall_ms)

    def timed(self, name: str, fn):
        """``fn()``, recording its time under ``name``."""
        sw = Stopwatch()
        out = fn()
        self.record(name, sw.stop())
        return out


def land(spark, path: str, pdf: pd.DataFrame, files: int = PARQUET_FILES):
    """Write ``pdf`` as multi-file parquet (row i to file i % files) and
    return it read back."""
    os.makedirs(path)
    for i in range(files):
        part = pdf.iloc[i::files]
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False),
                       os.path.join(path, f"part-{i:03d}.parquet"))
    return spark.read.parquet(path)


def repeated_inputs(res: Result, work: str, make):
    """Generate and land the inputs ``SETUP_REPEATS`` times, each into a
    fresh directory, and keep the last; the median time is the input
    part of ``setup_s``."""
    times = []
    for r in range(SETUP_REPEATS):
        sw = Stopwatch()
        out = make(os.path.join(work, f"inputs{r}"))
        times.append(sw.stop().ms / 1e3)
    res.setup_parts["inputs_s"] = float(np.median(times))
    return out


def warm_up(res: Result, tr, fn) -> None:
    """Run ``fn`` untraced as one operation and time it as set-up."""
    sw = Stopwatch()
    tr.traced = False
    res.attempt(fn)
    tr.traced = tr.enabled
    res.setup_parts["warmup_s"] = sw.stop().ms / 1e3


def closed_loop(res: Result, tr, seconds: float, name: str, op,
                period: int = 1) -> None:
    """Call ``op(n)`` for n = 0, 1, ... until ``seconds`` have passed or
    it returns False. In a traced run, ``period`` operations are traced,
    the next ``period`` are not, and so on; the untraced ones' wall
    times give the tracing overhead."""
    res.loop_t0 = time.time()
    loop = Stopwatch()
    deadline = time.perf_counter() + seconds
    n = 0
    while time.perf_counter() < deadline:
        res.ref.append(reference_ms())
        sw = Stopwatch()
        with tr.op(name):
            more = op(n)
        if tr.enabled:
            ms = sw.stop().ms
            (res.traced_ms if tr.traced else res.untraced_ms).append(ms)
            tr.traced = (n + 1) // period % 2 == 0
        n += 1
        if more is False:
            break
    tr.traced = tr.enabled
    res.loop_t1 = time.time()
    res.counts["loop_steal_share"] = loop.stop().steal_share


# -- vector_search -----------------------------------------------------------

def vector_search(spark, seed, seconds, tr, work, size) -> Result:
    from faisssearcher_spark import SparkSearcher

    p = SIZES[size]["vector_search"]
    res = Result()
    qkeys = np.arange(p["batch"], dtype=np.int64) + 10 ** 9

    def inputs(d):
        data = gen.vector_input(seed, p["n"], p["n_batches"], p["batch"], K)
        land(spark, os.path.join(d, "corpus"), pd.DataFrame(
            {"key": np.arange(p["n"], dtype=np.int64),
             "vec": list(data.corpus)}))
        queries = [land(spark, os.path.join(d, f"queries{i}"), pd.DataFrame(
            {"key": qkeys, "vec": list(b)}), 1)
            for i, b in enumerate(data.batches)]
        return data, os.path.join(d, "corpus"), queries

    data, corpus_path, queries = repeated_inputs(res, work, inputs)
    corpus = spark.read.parquet(corpus_path)

    def build():
        flat = res.timed("flat_train_ms", lambda: SparkSearcher(
            corpus, vec_col="vec", key_col="key").train())
        ivf = res.timed("ivfpq_train_ms", lambda: SparkSearcher(
            corpus, vec_col="vec", key_col="key",
            index_param=p["index"]).train())
        state["flat"], state["ivf"] = flat, ivf
        # the first search of each materializes its cached corpus; the
        # next ones let the JIT settle before timing
        deadline = time.perf_counter() + WARM_SECONDS
        i = 0
        while time.perf_counter() < deadline:
            flat.search(queries[i % p["n_batches"]], topK=K).toPandas()
            ivf.search(queries[i % p["n_batches"]], topK=K).toPandas()
            i += 1

    state = {}
    warm_up(res, tr, build)
    if "ivf" not in state:
        return res
    flat, ivf = state["flat"], state["ivf"]

    def flat_op(i):
        out = res.timed("flat_search_ms", lambda: tr.call(
            "knn.search", lambda: flat.search(queries[i], topK=K),
            lambda df: df.toPandas()))
        return check.exact_topk(out, qkeys, data.scores[i], K)

    def ivf_op(i):
        out = res.timed("ivfpq_search_ms", lambda: tr.call(
            "ann.search", lambda: ivf.search(queries[i], topK=K),
            lambda df: df.toPandas()))
        hits, why = check.ann_topk(out, qkeys, data.scores[i],
                                   data.truth[i], K)
        res.counts["hits"] += hits
        res.counts["asked"] += K * len(qkeys)
        return why

    def op(n):
        i = n // 2 % p["n_batches"]
        if res.attempt(lambda: (flat_op if n % 2 == 0 else ivf_op)(i)):
            res.counts["queries"] += len(qkeys)

    closed_loop(res, tr, seconds, "vector_search.batch", op, period=2)
    if tr.enabled:
        # rebuild both searchers traced, for the build sites' counters
        with tr.op("vector_search.build"):
            for site, spec in (("searcher.train_flat", None),
                               ("ann.fit", p["index"])):
                res.attempt(lambda: tr.call(site, lambda: SparkSearcher(
                    corpus, vec_col="vec", key_col="key",
                    index_param=spec).train()).close())
    flat.close()
    ivf.close()
    return res


# -- ingest_stream -----------------------------------------------------------

def ingest_stream(spark, seed, seconds, tr, work, size) -> Result:
    """Each step screens a new batch against the store, commits the
    survivors, appends them to a searcher, queries it and compacts the
    store. The store keeps its history across steps; the searcher is
    rebuilt over the base corpus before each step (untimed), because
    its query cost grows with every append and a run must not sample a
    mix of append counts that depends on its speed."""
    from faisssearcher_spark import SparkSearcher
    from faisssearcher_spark.encoders.mock import HashingEncoder
    from faisssearcher_spark.operators import dedup
    from faisssearcher_spark.operators.incremental import MinHashStore

    p = SIZES[size]["ingest_stream"]
    res = Result()

    def inputs(d):
        data = gen.ingest_input(seed, p["n_base"], p["n_steps"], p["batch"],
                                p["dup_rate"], p["edit_rate"],
                                MINHASH["num_hashes"])
        land(spark, os.path.join(d, "base"), pd.DataFrame(
            {"text": data.base_texts, "doc_id": data.base_ids}), BASE_FILES)
        # one directory per batch, so every step's plan is the same
        steps = [os.path.join(d, f"step{i}") for i in range(p["n_steps"])]
        batches = [land(spark, path, pd.DataFrame(
            {"text": texts, "doc_id": ids}), 2)
            for path, (ids, texts) in zip(steps, data.batches)]
        return data, os.path.join(d, "base"), batches, steps

    data, base_path, batches, step_paths = repeated_inputs(res, work, inputs)
    base = spark.read.parquet(base_path)
    stream = spark.read.parquet(*step_paths)
    st = {"n": 0}

    def open_store():
        """A fresh store holding the base corpus, and its reference
        model; the stream replays from its first batch."""
        if "path" in st:
            shutil.rmtree(st["path"], ignore_errors=True)
        st["path"] = os.path.join(work, f"store{st['n']}")
        st["n"] += 1
        st["store"] = MinHashStore(spark, st["path"], **MINHASH)
        st["store"].commit(base)
        st["model"] = check.StoreModel(data.sigs, MINHASH["bands"],
                                       SCREEN_THRESHOLD)
        st["model"].commit(data.base_ids)
        st["committed"] = {int(i) for i in data.base_ids}

    def ingest(i: int, timed: bool, box: dict):
        store, searcher, path = st["store"], st["searcher"], st["path"]
        ids = data.batches[i][0]
        batch = batches[i]
        sw = Stopwatch()
        surv = tr.call("incremental.screen", lambda: store.filter_new(
            batch, threshold=SCREEN_THRESHOLD), lambda df: df.toPandas())
        new = spark.createDataFrame(surv)
        before = _dir_bytes(path) if tr.traced else 0
        tr.call("incremental.commit", lambda: store.commit(new))
        if tr.traced:
            res.counts["state_bytes_written"] += _dir_bytes(path) - before
            res.counts["traced_appended"] += len(surv)
            res.counts["traced_screened"] += len(ids)
        tr.call("searcher.add_items", lambda: searcher.add_items(new))
        sw.stop()
        box["surv"] = surv
        why = check.survivors(surv["doc_id"], ids, st["model"])
        before_ids = set(st["committed"])
        st["model"].commit(surv["doc_id"])
        st["committed"].update(int(d) for d in surv["doc_id"])
        if timed and why is None:
            res.record("ingest_batch_ms", sw)
            planted, resolved = check.planted_resolved(
                ids, data.twin, before_ids, st["committed"])
            res.counts["planted"] += planted
            res.counts["resolved"] += resolved
        return why

    def query(surv, timed: bool):
        row = surv.iloc[len(surv) // 2]
        sw = Stopwatch()
        out = tr.call("searcher.search_text",
                      lambda: st["searcher"].search([row["text"]], topK=5),
                      lambda df: df.toPandas())
        sw.stop()
        why = check.text_hit(out, int(row["doc_id"]))
        if timed and why is None:
            res.record("ingest_query_ms", sw)
        return why

    def compact(timed: bool):
        sw = Stopwatch()
        tr.call("incremental.compact", st["store"].compact)
        if timed:
            res.record("compact_ms", sw.stop())

    def step(n: int, timed: bool) -> None:
        """Step ``n`` of the run ingests batch ``n % n_steps`` and
        compacts the store, so every screen reads a store of the same
        shape; a new pass over the stream starts from a fresh store."""
        i = n % p["n_steps"]
        if i == 0:
            open_store()
        if "searcher" in st:
            st["searcher"].close()
        st["searcher"] = SparkSearcher(
            base, encoder=HashingEncoder(dim=ENCODER_DIM)).train()
        box = {}
        sw = Stopwatch()
        ok = res.attempt(lambda: ingest(i, timed, box))
        ok = ok and res.attempt(lambda: query(box["surv"], timed))
        ok = res.attempt(lambda: compact(timed)) and ok
        if timed and ok:
            res.record("step_ms", sw.stop())

    def warm():
        for n in range(WARM_STEPS):
            step(n, timed=False)

    def bulk_dedup():
        """``minhash_lsh_join`` → ``dedup_clusters`` →
        ``drop_near_duplicates`` over the whole stream, checked down to
        the kept documents."""
        truth = gen.dedup_truth(
            np.concatenate([ids for ids, _ in data.batches]),
            [t for _, texts in data.batches for t in texts],
            MINHASH["num_hashes"], MINHASH["bands"], DEDUP_VERIFY)
        docs = stream.select("doc_id", "text")
        pairs = tr.call("dedup.lsh_join", lambda: dedup.minhash_lsh_join(
            docs, verify_threshold=DEDUP_VERIFY, **MINHASH))
        clusters = tr.call("dedup.clusters",
                           lambda: dedup.dedup_clusters(pairs))
        kept = tr.call("dedup.drop",
                       lambda: dedup.drop_near_duplicates(docs, clusters),
                       lambda df: df.select("doc_id").toPandas())
        res.counts["traced_pairs"] += len(truth.pairs)
        labels = {int(r[0]): int(r[1]) for r in clusters.collect()}
        if set(kept["doc_id"].tolist()) != truth.kept:
            return "drop_near_duplicates kept the wrong documents"
        return check.clusters(labels, truth.clusters)

    warm_up(res, tr, warm)
    if "searcher" not in st:
        return res
    closed_loop(res, tr, seconds, "ingest_stream.step",
                lambda n: step(n + WARM_STEPS, timed=True))
    res.counts["state_files"] = sum(
        len(fs) for _, _, fs in os.walk(st["path"]))
    st["searcher"].close()
    if tr.enabled:
        # bulk MinHash dedup of the whole stream, for the dedup sites'
        # counters; the signature pass alone, for its own
        with tr.op("ingest_stream.bulk_dedup"):
            res.attempt(bulk_dedup)
        with tr.op("ingest_stream.signatures"):
            res.attempt(lambda: tr.call(
                "dedup.signatures",
                lambda: dedup.minhash_signatures(
                    stream, num_hashes=MINHASH["num_hashes"]), noop))
    return res


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


WORKLOADS = {"vector_search": vector_search, "ingest_stream": ingest_stream}
