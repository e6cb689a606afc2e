"""Call-site timing and the traced run's per-layer counters.

Every call the benchmark makes into the engine goes through
:meth:`Tracer.call` under a site name ``<layer>.<site>``. With tracing
off it only runs the call. With tracing on it also

- splits the call's wall time into ``build`` (the public call until it
  returns), ``plan`` (forcing the executed plan, when the call returned a
  DataFrame) and ``exec`` (the benchmark's action on it);
- runs the call under a Spark job group of its own, so the jobs, stages
  and SQL executions it launched can be read back afterwards from the
  driver's status REST API (``/api/v1/applications/<app>/...``) and
  charged to the site;
- records a span (name, start, end, parent) under the current operation.

Counters are read once, after the timed loop, so reading them does not
slow the loop. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql import DataFrame

#: every timed call site; a site a workload does not call reports zeros
SITES = (
    "searcher.train_flat", "ann.fit", "knn.search", "ann.search",
    "dedup.signatures", "dedup.lsh_join", "dedup.clusters", "dedup.drop",
    "incremental.screen", "incremental.commit", "incremental.compact",
    "searcher.add_items", "searcher.search_text",
)
SITE_METRICS = ("build_ms", "plan_ms", "exec_ms", "driver_only_ms", "jobs",
                "tasks", "executor_run_ms", "shuffle_bytes", "spill_bytes")
RATIOS = (
    "knn.pairs_per_query", "ann.candidates_per_query",
    "dedup.candidates_per_pair", "incremental.candidates_per_doc",
    "incremental.bytes_written_per_doc", "incremental.state_files",
    "encoders.rows_encoded_per_new_row",
)
WORKLOAD_WIDE = ("spark.busy_share", "spark.gc_share", "session.start_s",
                 "session.peak_rss_mb")
JOIN_NODES = ("Join", "NestedLoopJoin", "CartesianProduct")


def per_layer_names() -> list[str]:
    return ([f"{s}.{m}" for s in SITES for m in SITE_METRICS]
            + list(RATIOS) + list(WORKLOAD_WIDE))


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    group: str | None = None
    parts: dict[str, float] = field(default_factory=dict)


class Tracer:
    """Runs engine calls for one workload run; see the module docstring.

    ``enabled`` is fixed for the run. ``traced`` can be switched per
    operation, so a traced run can interleave untraced operations and
    measure the tracing overhead against them."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.traced = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._seq = 0

    # -- spans -----------------------------------------------------------

    @contextmanager
    def op(self, name: str):
        """An operation of the closed loop: the parent of its call sites."""
        if not self.traced:
            yield
            return
        span = Span(name, time.time(),
                    parent=self._stack[-1] if self._stack else None)
        self.spans.append(span)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            span.end = time.time()

    def call(self, site: str, build, action=None):
        """Run ``build()`` and, if given, ``action(result)``; return the
        action's result, or the build's when there is no action."""
        if not self.traced:
            out = build()
            return action(out) if action is not None else out
        if site not in SITES:
            raise ValueError(f"unknown call site {site!r}")
        sc = self.spark.sparkContext
        self._seq += 1
        group = f"perfbench-{self._seq}"
        span = Span(site, time.time(),
                    parent=self._stack[-1] if self._stack else None,
                    group=group)
        self.spans.append(span)
        sc.setJobGroup(group, site)
        try:
            t0 = time.perf_counter()
            out = build()
            t1 = time.perf_counter()
            if isinstance(out, DataFrame):
                out._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            if action is not None:
                out = action(out)
            t3 = time.perf_counter()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            span.end = time.time()
        span.parts = {"build_ms": 1e3 * (t1 - t0), "plan_ms": 1e3 * (t2 - t1),
                      "exec_ms": 1e3 * (t3 - t2)}
        return out

    def dump(self) -> list[dict]:
        return [{"id": i, "name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent, **s.parts}
                for i, s in enumerate(self.spans)]


# -- reading the status store ------------------------------------------------

class StatusReader:
    """The driver's status REST API, read after the loop."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def settle(self, groups: set[str], timeout: float = 20.0) -> None:
        """Wait until the listener has recorded every job of ``groups``
        as finished (the status store is updated asynchronously)."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            jobs = [j for j in self.get("/jobs")
                    if j.get("jobGroup") in groups]
            if all(j["status"] != "RUNNING" and "completionTime" in j
                   for j in jobs):
                return
            time.sleep(0.2)

    def snapshot(self) -> tuple[list, dict, list]:
        jobs = self.get("/jobs")
        stages = {s["stageId"]: s for s in self.get("/stages")
                  if s["status"] in ("COMPLETE", "FAILED")}
        sql = self.get("/sql?details=true&planDescription=false"
                        "&length=100000")
        return jobs, stages, sql


def _ts(s: str) -> float:
    return datetime.strptime(s.replace("GMT", "+0000"),
                             "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _num(v: str) -> float:
    head = v.split("\n")[0].split("(")[0].strip().split(" ")[0]
    return float(head.replace(",", "")) if head else 0.0


def sql_rows(executions: list, node_names: tuple[str, ...]) -> float:
    """Σ 'number of output rows' over plan nodes whose name contains one
    of ``node_names``."""
    total = 0.0
    for ex in executions:
        for node in ex.get("nodes", []):
            if any(n in node["nodeName"] for n in node_names):
                for m in node.get("metrics", []):
                    if m["name"] == "number of output rows":
                        total += _num(m["value"])
    return total


@dataclass
class SiteCounters:
    """Per call of a site: the parts of its wall time and its counters."""
    calls: list[dict] = field(default_factory=list)
    executions: list = field(default_factory=list)


def harvest(tracer: Tracer, reader: StatusReader) -> dict[str, SiteCounters]:
    """Charge every job, stage and SQL execution to the span whose job
    group launched it."""
    spans = [s for s in tracer.spans if s.group]
    reader.settle({s.group for s in spans})
    jobs, stages, sql = reader.snapshot()
    by_group: dict[str, list] = {}
    for j in jobs:
        by_group.setdefault(j.get("jobGroup"), []).append(j)
    exec_by_job = {}
    for ex in sql:
        for jid in (ex.get("successJobIds", []) + ex.get("failedJobIds", [])
                    + ex.get("runningJobIds", [])):
            exec_by_job[jid] = ex
    out: dict[str, SiteCounters] = {}
    for span in spans:
        site_jobs = by_group.get(span.group, [])
        busy = []
        tasks = run_ms = shuffle = spill = 0.0
        seen_ex = {}
        for j in site_jobs:
            if "submissionTime" in j:
                end = _ts(j["completionTime"]) if "completionTime" in j \
                    else span.end
                busy.append((max(_ts(j["submissionTime"]), span.start),
                             min(end, span.end)))
            if j["jobId"] in exec_by_job:
                ex = exec_by_job[j["jobId"]]
                seen_ex[ex["id"]] = ex
            for sid in j.get("stageIds", []):
                st = stages.get(sid)
                if st is None:
                    continue
                tasks += st.get("numCompleteTasks", 0)
                run_ms += st.get("executorRunTime", 0)
                shuffle += (st.get("shuffleReadBytes", 0)
                            + st.get("shuffleWriteBytes", 0))
                spill += (st.get("memoryBytesSpilled", 0)
                          + st.get("diskBytesSpilled", 0))
        wall_ms = 1e3 * (span.end - span.start)
        covered = 1e3 * _union_length(busy)
        sc = out.setdefault(span.name, SiteCounters())
        sc.calls.append({**span.parts, "driver_only_ms": max(0.0, wall_ms - covered),
                         "jobs": float(len(site_jobs)), "tasks": tasks,
                         "executor_run_ms": run_ms, "shuffle_bytes": shuffle,
                         "spill_bytes": spill})
        sc.executions.extend(seen_ex.values())
    return out


def workload_share(reader: StatusReader, t0: float, t1: float,
                   cores: int) -> tuple[float, float]:
    """(busy share, gc share) of the stages that ran within [t0, t1]."""
    run_ms = gc_ms = 0.0
    for st in reader.get("/stages"):
        if "submissionTime" not in st or st["status"] != "COMPLETE":
            continue
        if t0 <= _ts(st["submissionTime"]) <= t1:
            run_ms += st.get("executorRunTime", 0)
            gc_ms += st.get("jvmGcTime", 0)
    busy = run_ms / (1e3 * (t1 - t0) * cores)
    return busy, (gc_ms / run_ms if run_ms else 0.0)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
