"""Correctness checks on engine outputs against the generator's truth.

Each check returns ``None`` when the output is right and a one-line
reason when it is not; the workloads count a reason (or a raised
exception) as one failed operation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

import gen

#: float32 storage of unit vectors puts exact scores within this of the
#: float64 reference (one ulp of float32 near 1 is 6e-8, times dim 64)
SCORE_TOL = 1e-5


def _rows_by_query(res: pd.DataFrame, qkeys: np.ndarray, k: int):
    if set(res["source_item"]) - set(qkeys.tolist()):
        return None, "result names a query that was not asked"
    groups = dict(tuple(res.groupby("source_item")))
    for q in qkeys:
        g = groups.get(q)
        if g is None or len(g) != k:
            return None, f"query {q}: {0 if g is None else len(g)} rows, want {k}"
        if g["sim_item"].nunique() != k:
            return None, f"query {q}: repeated ids"
    return groups, None


def exact_topk(res: pd.DataFrame, qkeys: np.ndarray, scores: np.ndarray,
               k: int) -> str | None:
    """The exact searcher must return the true top-k of every query; an
    id may differ from the reference only where scores tie at the k-th
    place."""
    groups, why = _rows_by_query(res, qkeys, k)
    if why:
        return why
    for qi, q in enumerate(qkeys):
        ids = groups[q]["sim_item"].to_numpy()
        if ids.min() < 0 or ids.max() >= scores.shape[1]:
            return f"query {q}: unknown id"
        row = scores[qi]
        kth = np.sort(row)[-k]
        got = row[ids]
        if got.min() < kth - SCORE_TOL:
            return f"query {q}: id scored below the k-th score"
        if np.count_nonzero(row > kth + SCORE_TOL) > np.count_nonzero(
                got > kth + SCORE_TOL):
            return f"query {q}: a clearly better id is missing"
        if np.abs(groups[q]["sim_val"].to_numpy() - got).max() > SCORE_TOL:
            return f"query {q}: sim_val differs from the exact score"
    return None


def ann_topk(res: pd.DataFrame, qkeys: np.ndarray, scores: np.ndarray,
             truth: np.ndarray, k: int) -> tuple[int, str | None]:
    """``(hits, reason)``: hits = returned ids that are in the true
    top-k, summed over queries (recall numerator). The result must be
    well formed: k distinct known ids per query, scored exactly (the
    ``RFlat`` re-rank scores candidates with the full vectors)."""
    groups, why = _rows_by_query(res, qkeys, k)
    if why:
        return 0, why
    hits = 0
    for qi, q in enumerate(qkeys):
        ids = groups[q]["sim_item"].to_numpy()
        if ids.min() < 0 or ids.max() >= scores.shape[1]:
            return 0, f"query {q}: unknown id"
        if np.abs(groups[q]["sim_val"].to_numpy() - scores[qi][ids]).max() \
                > SCORE_TOL:
            return 0, f"query {q}: sim_val differs from the exact score"
        hits += len(set(ids.tolist()) & set(truth[qi].tolist()))
    return hits, None


def clusters(got: dict[int, int], want: dict[int, int]) -> str | None:
    """``dedup_clusters`` output must equal the reference components."""
    if got == want:
        return None
    missing = len(set(want) - set(got))
    extra = len(set(got) - set(want))
    wrong = sum(1 for m in set(got) & set(want) if got[m] != want[m])
    return f"clusters differ: {missing} missing, {extra} extra, {wrong} relabelled"


def planted_resolved(batch_ids, twin: dict[int, int], before: set[int],
                     after: set[int]) -> tuple[int, int]:
    """``(planted, resolved)`` over the batch's planted copies whose
    original was indexed before the step or arrived in the same batch:
    a pair is resolved when the step left at most one of the two in the
    index."""
    batch = {int(i) for i in batch_ids}
    planted = resolved = 0
    for c in batch:
        o = twin.get(c)
        if o is None or (o not in before and o not in batch):
            continue
        planted += 1
        resolved += not (c in after and o in after)
    return planted, resolved


class StoreModel:
    """Reference model of ``MinHashStore.screen``/``filter_new``: a batch
    document is a hit when some committed document shares one of its
    band keys and their signatures agree on at least ``threshold`` of
    the slots."""

    def __init__(self, sigs: dict[int, np.ndarray], bands: int,
                 threshold: float):
        self.sigs = sigs
        self.bands = bands
        self.threshold = threshold
        self.buckets: dict[bytes, list[int]] = {}

    def _keys(self, doc: int) -> list[bytes]:
        return gen.band_keys(self.sigs[doc][None, :], self.bands)[0]

    def commit(self, ids) -> None:
        for d in ids:
            for key in self._keys(int(d)):
                self.buckets.setdefault(key, []).append(int(d))

    def hits(self, ids) -> set[int]:
        out = set()
        for d in ids:
            d = int(d)
            sig = self.sigs[d]
            for key in self._keys(d):
                if any(k != d and np.count_nonzero(self.sigs[k] == sig)
                       / len(sig) >= self.threshold
                       for k in self.buckets.get(key, ())):
                    out.add(d)
                    break
        return out


def survivors(got_ids, batch_ids, model: StoreModel) -> str | None:
    """``filter_new`` must drop exactly the documents the reference
    screens as near-duplicates of committed history."""
    got = {int(i) for i in got_ids}
    want = {int(i) for i in batch_ids} - model.hits(batch_ids)
    if got == want:
        return None
    return (f"survivors differ: {len(want - got)} wrongly dropped, "
            f"{len(got - want)} wrongly kept")


def text_hit(res: pd.DataFrame, doc_id: int) -> str | None:
    """A search with a document's own text must return that document
    at similarity 1."""
    top = res[res["sim_val"] >= 1 - SCORE_TOL]
    if doc_id not in set(top["doc_id"].tolist()):
        return f"doc {doc_id} not returned at similarity 1 for its own text"
    return None
