"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The checker tests need no Spark. The workload tests run each workload at
its tiny size (about half a minute each, Spark start-up included) and
check that every metric BENCHMARK.json names is printed with its unit.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import check  # noqa: E402
import clock  # noqa: E402
import gen  # noqa: E402
import tracing  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


# -- checkers ----------------------------------------------------------------

@pytest.fixture(scope="module")
def vectors():
    return gen.vector_input(seed=5, n=300, n_batches=1, batch=6, k=10)


def _result(ids: np.ndarray, qkeys: np.ndarray, scores: np.ndarray):
    rows = [(q, int(i), float(scores[qi, i]))
            for qi, q in enumerate(qkeys) for i in ids[qi]]
    return pd.DataFrame(rows, columns=["source_item", "sim_item", "sim_val"])


def test_exact_check_accepts_truth(vectors):
    qkeys = np.arange(6) + 100
    res = _result(vectors.truth[0], qkeys, vectors.scores[0])
    assert check.exact_topk(res, qkeys, vectors.scores[0], 10) is None


def test_exact_check_flags_shuffled_sim_item(vectors):
    qkeys = np.arange(6) + 100
    res = _result(vectors.truth[0], qkeys, vectors.scores[0])
    rng = np.random.default_rng(0)
    res["sim_item"] = rng.permutation(res["sim_item"].to_numpy())
    assert check.exact_topk(res, qkeys, vectors.scores[0], 10) is not None


def test_exact_check_flags_missing_row(vectors):
    qkeys = np.arange(6) + 100
    res = _result(vectors.truth[0], qkeys, vectors.scores[0]).iloc[1:]
    assert check.exact_topk(res, qkeys, vectors.scores[0], 10) is not None


def test_ann_check_counts_hits_and_flags_wrong_scores(vectors):
    qkeys = np.arange(6) + 100
    sc = vectors.scores[0]
    worse = np.argsort(-sc, axis=1)[:, 5:15]
    hits, why = check.ann_topk(_result(worse, qkeys, sc), qkeys, sc,
                               vectors.truth[0], 10)
    assert why is None and hits == 6 * 5
    bad = _result(worse, qkeys, sc)
    bad["sim_val"] += 0.01
    assert check.ann_topk(bad, qkeys, sc, vectors.truth[0], 10)[1] is not None


@pytest.fixture(scope="module")
def stream():
    return gen.ingest_input(seed=4, n_base=60, n_steps=2, batch=40,
                            dup_rate=0.5, edit_rate=0.0, num_hashes=16)


def test_cluster_check_flags_dropped_planted_pair(stream):
    ids, texts = stream.batches[0]
    truth = gen.dedup_truth(
        np.concatenate([stream.base_ids, ids]),
        list(stream.base_texts) + list(texts), 16, 4, 0.5)
    assert truth.pairs, "one-token copies of base documents must pair up"
    assert check.clusters(dict(truth.clusters), truth.clusters) is None
    # the engine "forgets" one found pair
    a, b = sorted(truth.pairs)[0]
    broken = gen.components(truth.pairs - {(a, b)})
    if broken == truth.clusters:
        # the pair was also linked through another member: cut b out
        broken = {m: c for m, c in truth.clusters.items() if m != b}
    assert check.clusters(broken, truth.clusters) is not None


def test_minhash_reference_matches_engine_slots():
    # slot 5 = second 8-hex window of the group-1 digest of the shingle
    import hashlib
    sig = gen.minhash_signatures(["alpha"], 8, None)
    want = int(hashlib.md5(b"mh|42|1|alpha").hexdigest()[8:16], 16)
    assert int(sig[0, 5]) == want


def test_survivor_check_flags_a_kept_twin(stream):
    model = check.StoreModel(stream.sigs, bands=4, threshold=0.7)
    model.commit(stream.base_ids)
    ids = [int(i) for i in stream.batches[0][0]]
    hits = model.hits(ids)
    assert hits, "edit-free copies of committed originals must screen"
    want = [i for i in ids if i not in hits]
    assert check.survivors(want, ids, model) is None
    assert check.survivors(ids, ids, model) is not None


def test_planted_resolved_counts_pairs_left_in_the_index():
    twin = {11: 1, 12: 2, 13: 99}
    before, batch = {1, 2}, [11, 12, 13]
    # 12 kept beside its original: unresolved; 13's original was never
    # indexed, so it is not counted
    assert check.planted_resolved(batch, twin, before,
                                  before | {12, 13}) == (2, 1)


def test_text_hit_check():
    res = pd.DataFrame({"sim_val": [1.0, 0.8], "doc_id": [7, 9]})
    assert check.text_hit(res, 7) is None
    assert check.text_hit(res, 9) is not None


def test_tree_cpu_counts_a_reaped_child():
    before = clock.tree_cpu_ms()
    subprocess.run([sys.executable, "-c",
                    "import time\nt = time.process_time()\n"
                    "while time.process_time() - t < 0.3: pass"], check=True)
    assert clock.tree_cpu_ms() - before >= 250


# -- workloads at tiny size --------------------------------------------------

def _run(workload: str, trace: int) -> tuple[dict, str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
         workload, "--seed", "11", "--seconds", "3", "--trace", str(trace),
         "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), proc.stdout


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_emits_every_metric(workload):
    out, text = _run(workload, 0)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    for m in SPEC["end_to_end"]:
        assert out["metrics"][m["name"]]["unit"] == m["unit"], m["name"]
        assert out["metrics"][m["name"]]["value"] > 0, m["name"]
    assert f"{workload} setup_s = " in text

    out, _ = _run(workload, 1)
    assert out["correct"]
    for m in SPEC["per_layer"]:
        assert out["metrics"][m["name"]]["unit"] == m["unit"], m["name"]
    assert set(out["metrics"]) == set(tracing.per_layer_names())
