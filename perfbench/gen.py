"""Seeded input generation and ground truth for the benchmark.

Everything here is numpy/hashlib on the driver and runs before a
workload's timed loop, so its cost counts toward ``setup_s`` and never
toward engine time. The same seed always gives the same inputs.

Documents are sequences of synthetic words drawn from a Zipf-Mandelbrot
distribution (p(rank) ∝ 1/(rank + ZIPF_Q)^ZIPF_S), so a few common words
appear in many documents, as stop words do in real text. Planted
near-duplicates are copies of an earlier original with a fixed share of
their tokens replaced by random words.

The MinHash reference below replicates the engine's signature exactly
(``operators/dedup.py`` ``minhash_sig_sql_parts``: slot i is the minimum,
over the document's distinct shingles, of the 32-bit window
``md5('mh|<seed>|<i // 4>|' || shingle)[8·(i % 4) : 8·(i % 4) + 8]``), so
the checker knows which pairs the engine must find, not only which pairs
were planted.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np

DIM = 64
N_CLUSTERS = 256
CLUSTER_NOISE = 0.6
VOCAB = 30_000
ZIPF_S = 1.05
ZIPF_Q = 30.0
DOC_LEN = (30, 70)
MINHASH_SEED = 42
SLOTS_PER_MD5 = 4


# -- vectors -----------------------------------------------------------------

def clustered_vectors(rng: np.random.Generator, n: int,
                      centroids: np.ndarray) -> np.ndarray:
    """``n`` float32 vectors scattered around the centroids, every
    centroid getting the same number (±1), in random order; equal
    cluster sizes keep the index's cells, and so the work of a search,
    alike from seed to seed."""
    labels = rng.permutation(np.arange(n) % len(centroids))
    noise = rng.normal(size=(n, centroids.shape[1]))
    return (centroids[labels] + CLUSTER_NOISE * noise).astype(np.float32)


def unit_rows(x: np.ndarray) -> np.ndarray:
    """The engine's cosine preparation: L2-normalize in float64, store
    float32 (searcher ``_vectorize``)."""
    x64 = x.astype(np.float64)
    return (x64 / np.linalg.norm(x64, axis=1, keepdims=True)).astype(np.float32)


def exact_topk(corpus_unit: np.ndarray, queries_unit: np.ndarray,
               k: int) -> tuple[np.ndarray, np.ndarray]:
    """Brute-force cosine top-k: ``(ids [nq, k], all scores [nq, n])``."""
    scores = queries_unit.astype(np.float64) @ corpus_unit.astype(np.float64).T
    top = np.argsort(-scores, axis=1, kind="stable")[:, :k]
    return top, scores


@dataclass
class VectorInput:
    corpus: np.ndarray          # [n, DIM] float32, key = row index
    batches: list[np.ndarray]   # query batches, [batch, DIM] float32
    truth: list[np.ndarray]     # per batch, exact top-k ids [batch, k]
    scores: list[np.ndarray]    # per batch, exact scores [batch, n]


def vector_input(seed: int, n: int, n_batches: int, batch: int,
                 k: int) -> VectorInput:
    rng = np.random.default_rng(seed)
    centroids = rng.normal(size=(N_CLUSTERS, DIM))
    corpus = clustered_vectors(rng, n, centroids)
    cu = unit_rows(corpus)
    batches, truth, scores = [], [], []
    for _ in range(n_batches):
        q = clustered_vectors(rng, batch, centroids)
        top, sc = exact_topk(cu, unit_rows(q), k)
        batches.append(q)
        truth.append(top)
        scores.append(sc)
    return VectorInput(corpus, batches, truth, scores)


# -- documents ---------------------------------------------------------------

def vocabulary(rng: np.random.Generator, size: int = VOCAB) -> np.ndarray:
    """``size`` distinct lowercase words of 3 to 9 letters."""
    words: dict[str, None] = {}
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    while len(words) < size:
        lens = rng.integers(3, 10, size)
        chars = letters[rng.integers(0, 26, (size, 9))]
        for row, ln in zip(chars, lens):
            words.setdefault("".join(row[:ln]), None)
    return np.array(list(words)[:size])


def zipf_tokens(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` word ranks drawn from the Zipf-Mandelbrot distribution."""
    ranks = np.arange(VOCAB, dtype=np.float64)
    p = 1.0 / (ranks + ZIPF_Q) ** ZIPF_S
    return rng.choice(VOCAB, size=n, p=p / p.sum())


def random_docs(rng: np.random.Generator, n: int) -> list[np.ndarray]:
    lens = rng.integers(DOC_LEN[0], DOC_LEN[1] + 1, n)
    flat = zipf_tokens(rng, int(lens.sum()))
    return np.split(flat, np.cumsum(lens)[:-1])


def near_copy(rng: np.random.Generator, doc: np.ndarray,
              edit_rate: float) -> np.ndarray:
    """``doc`` with each token replaced by a random word with probability
    ``edit_rate``; at least one token always changes, so a planted copy
    is never an exact duplicate."""
    out = doc.copy()
    hit = rng.random(len(doc)) < edit_rate
    hit[rng.integers(0, len(doc))] = True
    out[hit] = zipf_tokens(rng, int(hit.sum()))
    return out


def render(vocab: np.ndarray, docs: list[np.ndarray]) -> list[str]:
    return [" ".join(vocab[d]) for d in docs]


# -- MinHash reference -------------------------------------------------------

def _slot_windows(units: list[str], num_hashes: int) -> np.ndarray:
    """[len(units), num_hashes] uint64 slot values of each shingle."""
    n_groups = -(-num_hashes // SLOTS_PER_MD5)
    out = np.empty((len(units), n_groups * SLOTS_PER_MD5), dtype=np.uint64)
    for g in range(n_groups):
        salt = f"mh|{MINHASH_SEED}|{g}|".encode()
        digests = b"".join(hashlib.md5(salt + u.encode()).digest()[:16]
                           for u in units)
        words = np.frombuffer(digests, dtype=">u4").reshape(len(units), 4)
        out[:, g * SLOTS_PER_MD5:(g + 1) * SLOTS_PER_MD5] = words
    return out[:, :num_hashes]


def minhash_signatures(texts: list[str], num_hashes: int,
                       shingle_n: int | None) -> np.ndarray:
    """[len(texts), num_hashes] signatures, bit-identical to the engine's
    (whitespace tokens, distinct, optionally word ``shingle_n``-grams).
    Each distinct shingle is hashed once across the whole input."""
    doc_units: list[list[str]] = []
    index: dict[str, int] = {}
    for text in texts:
        toks = text.split()
        if shingle_n:
            toks = [" ".join(toks[i:i + shingle_n])
                    for i in range(len(toks) - shingle_n + 1)]
        doc_units.append(list(dict.fromkeys(toks)))
        for u in doc_units[-1]:
            index.setdefault(u, len(index))
    table = _slot_windows(list(index), num_hashes)
    sigs = np.empty((len(texts), num_hashes), dtype=np.uint64)
    for i, units in enumerate(doc_units):
        sigs[i] = table[[index[u] for u in units]].min(axis=0)
    return sigs


def band_keys(sigs: np.ndarray, bands: int) -> list[list[bytes]]:
    """Per document, one hashable key per band (band index + values)."""
    r = sigs.shape[1] // bands
    return [[bytes([b]) + row[b * r:(b + 1) * r].tobytes()
             for b in range(bands)] for row in sigs]


def token_jaccard(a: str, b: str) -> float:
    sa, sb = set(a.split()), set(b.split())
    return len(sa & sb) / len(sa | sb)


# -- dedup truth ------------------------------------------------------------

@dataclass
class DedupTruth:
    pairs: set[tuple[int, int]]     # (id_a < id_b) pairs the join must emit
    clusters: dict[int, int]        # id -> min member id, for pair members
    kept: set[int]                  # ids that drop_near_duplicates keeps


def dedup_truth(ids: np.ndarray, texts: list[str], num_hashes: int,
                bands: int, verify: float) -> DedupTruth:
    """The exact expected output of ``minhash_lsh_join`` (token sets,
    ``num_hashes``/``bands``, exact Jaccard ≥ ``verify``) →
    ``dedup_clusters`` → ``drop_near_duplicates`` (min-id policy)."""
    sigs = minhash_signatures(texts, num_hashes, None)
    buckets: dict[bytes, list[int]] = {}
    for i, keys in enumerate(band_keys(sigs, bands)):
        for key in keys:
            buckets.setdefault(key, []).append(i)
    cand: set[tuple[int, int]] = set()
    for members in buckets.values():
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                cand.add((members[x], members[y]))
    pairs = set()
    for i, j in cand:
        if token_jaccard(texts[i], texts[j]) >= verify:
            a, b = sorted((int(ids[i]), int(ids[j])))
            pairs.add((a, b))
    clusters = components(pairs)
    kept = {int(i) for i in ids} - {m for m, c in clusters.items() if m != c}
    return DedupTruth(pairs, clusters, kept)


def components(pairs: set[tuple[int, int]]) -> dict[int, int]:
    """Connected components of the pair graph: member -> min member."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {m: find(m) for m in parent}


# -- ingest_stream -----------------------------------------------------------

@dataclass
class IngestInput:
    base_ids: np.ndarray            # the corpus the searcher starts from
    base_texts: list[str]
    batches: list[tuple[np.ndarray, list[str]]]   # (ids, texts) per step
    twin: dict[int, int]            # planted copy id -> original id
    sigs: dict[int, np.ndarray]     # id -> MinHash signature (store params)


def ingest_input(seed: int, n_base: int, n_steps: int, batch: int,
                 dup_rate: float, edit_rate: float,
                 num_hashes: int) -> IngestInput:
    """A base corpus and ``n_steps`` batches; ``dup_rate`` of each batch
    are near-copies of an original from the base corpus or an earlier
    batch. Signatures use the store's shingles (word 3-grams)."""
    rng = np.random.default_rng(seed)
    vocab = vocabulary(rng)
    base_docs = random_docs(rng, n_base)
    originals = list(base_docs)
    orig_ids = list(range(1, n_base + 1))
    next_id = n_base + 1
    batches, twin = [], {}
    for _ in range(n_steps):
        n_dup = int(round(batch * dup_rate))
        fresh = random_docs(rng, batch - n_dup)
        ids = np.arange(next_id, next_id + batch, dtype=np.int64)
        src = rng.integers(0, len(originals), n_dup)
        copies = [near_copy(rng, originals[s], edit_rate) for s in src]
        for pos, s in zip(range(batch - n_dup, batch), src):
            twin[int(ids[pos])] = orig_ids[s]
        originals += fresh
        orig_ids += [int(i) for i in ids[:batch - n_dup]]
        order = rng.permutation(batch)
        texts = render(vocab, fresh + copies)
        batches.append((ids[order], [texts[o] for o in order]))
        next_id += batch
    base_texts = render(vocab, base_docs)
    all_ids = list(range(1, n_base + 1))
    all_texts = list(base_texts)
    for ids, texts in batches:
        all_ids += [int(i) for i in ids]
        all_texts += texts
    sig = minhash_signatures(all_texts, num_hashes, 3)
    return IngestInput(np.arange(1, n_base + 1, dtype=np.int64), base_texts,
                       batches, twin, dict(zip(all_ids, sig)))
