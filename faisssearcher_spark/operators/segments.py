"""Append storage shared by every ``add_items`` in the engine.

FAISS ``index.add`` (faiss_searcher.py:124) processes each new item once
and leaves the trained part of the index alone. :class:`Segments` is the
Spark equivalent for any fitted frame that grows by appends (the
searcher's encoded corpus, the ANN code tables, BM25 postings):

- the fit-time frame is the base segment, cached by its owner;
- an append caches only the new rows, as one more segment, and the
  fitted frame becomes the union of the segments. No earlier cache is
  released while something still has to be computed from it, so an
  append never makes Spark recompute (re-encode) rows it already holds;
- append segments fold like a binary counter: when the newest segments
  hold 1, 1 appends, or 2, 1, 1, and so on, they merge into one segment
  read from their caches. After n appends at most log2(n) + 1 append
  segments remain. The append that folds materializes the merged segment
  with one Spark job, then releases its inputs; an append that folds
  nothing (the first after a fit, and every odd one) runs no job.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame


class Segments:
    """A fitted frame held as a base segment plus cached append segments."""

    def __init__(self, base: DataFrame):
        # (frame, appends it holds); the base holds 0, so it never folds
        self._parts: list[tuple[DataFrame, int]] = [(base, 0)]
        self.frame = base

    def parts(self) -> list[DataFrame]:
        """The segment frames, base first."""
        return [f for f, _ in self._parts]

    def append(self, rows: DataFrame) -> None:
        """Add ``rows`` as a new segment and fold the trailing segments.
        Columns align by name with the base segment. An already cached
        ``rows`` is used as it is, and its cache then belongs to these
        segments. If the fold job fails, the append fails whole."""
        columns = self.frame.columns
        if rows.columns != columns:
            rows = rows.select(*columns)
        seg = rows if rows.is_cached else rows.cache()
        keep, held = len(self._parts), 1
        while self._parts[keep - 1][1] == held:
            keep, held = keep - 1, held * 2
        group = self.parts()[keep:] + [seg]
        if len(group) > 1:
            merged = _union(group).cache()
            try:
                merged.count()
            except Exception:
                merged.unpersist()
                seg.unpersist()
                raise
            for f in group:
                f.unpersist(blocking=True)
            seg = merged
        self._parts[keep:] = [(seg, held)]
        self.frame = _union(self.parts())

    def unpersist(self, blocking: bool = False) -> None:
        for f in self.parts():
            f.unpersist(blocking)


def _union(frames: list[DataFrame]) -> DataFrame:
    """Union by name that keeps every frame's plan whole. Spark flattens
    nested unions (CombineUnions, also through deterministic
    projections) before it looks plans up in the cache, so a cached
    frame whose plan is itself a union would vanish into the new one
    and be recomputed from its lineage. An alias node above each frame
    stops the flattening."""
    if len(frames) == 1:
        return frames[0]
    return reduce(DataFrame.unionByName,
                  [f.alias("segment") for f in frames])


def segments_property(attr: str, doc: str) -> property:
    """A frame attribute backed by :class:`Segments` stored in ``attr``:
    reading gives the union of the segments, assigning a frame makes it
    the base of fresh segments, assigning None clears them."""

    def get(self) -> "DataFrame | None":
        segs = getattr(self, attr, None)
        return None if segs is None else segs.frame

    def set(self, frame: "DataFrame | None") -> None:
        setattr(self, attr, None if frame is None else Segments(frame))

    return property(get, set, doc=doc)
