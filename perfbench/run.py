"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository: the engine package is
imported from there and every file the run writes stays under it
(``.perfbench_work/`` while running, ``.perfbench_out/`` for traces).
The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The lines before it repeat the workload's metrics under their own names.
See ``perfbench/README.md`` for the workloads and the metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEMORY = "2g"
#: tail percentiles tried, highest first; one is reported only when at
#: least TAIL_BEYOND samples lie beyond it
TAIL_PCTS = (99, 95, 90, 80, 75)
TAIL_BEYOND = 10


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("vector_search", "ingest_stream"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input sizes; 'tiny' is for the benchmark's tests")
    return ap.parse_args(argv)


def configure_env(work: str, trace: bool) -> None:
    """Keep Spark's scratch files, the JVM's temp files and the Python
    temp files inside ``work``; one core per local task slot. A traced
    run keeps every job, stage and SQL execution in the status store,
    where the tracer reads them."""
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData " \
                f"-Xms{DRIVER_MEMORY} " \
                f"-Dderby.system.home={tmp} " \
                "-XX:-UseDynamicNumberOfCompilerThreads"
    retain = ["--conf", "spark.ui.retainedJobs=100000",
              "--conf", "spark.ui.retainedStages=100000",
              "--conf", "spark.sql.ui.retainedExecutions=100000"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-java-options", f"'{java_opts}'",
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        *(retain if trace else []),
        "pyspark-shell"])


def p50(xs):
    return statistics.median(xs) if xs else None


def tail(xs):
    """``(pct, value)`` at the highest percentile with at least
    ``TAIL_BEYOND`` samples beyond it, or ``None``."""
    for pct in TAIL_PCTS:
        if len(xs) * (100 - pct) / 100 >= TAIL_BEYOND:
            return pct, statistics.quantiles(xs, n=100)[pct - 1]
    return None


def jvm_peak_rss_kb(spark) -> int:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def rate(items: float, *op_ms: list) -> float | None:
    """``items`` per second of a client whose one operation is one of
    each of ``op_ms`` in turn, each taking its median time."""
    if not all(op_ms):
        return None
    return 1e3 * items / sum(p50(xs) for xs in op_ms)


def named_metrics(workload: str, size: str, res, setup_s: float) -> dict:
    """The workload's metrics under their own names: ``name -> (value,
    unit)``. ``None`` values are left out. ``*_p50_ms`` are wall-time
    medians, ``*_cpu_ms`` CPU-time medians of the same operations."""
    import workloads

    cpu, w, c = res.samples, res.wall, res.counts
    sizes = workloads.SIZES[size][workload]
    batch = sizes.get("batch")
    out = {"setup_s": (setup_s, "s")}
    if workload == "vector_search":
        ops = {"flat_search": "flat_search_ms",
               "ivfpq_search": "ivfpq_search_ms"}
        out.update({
            "flat_train_s": (w["flat_train_ms"][0] / 1e3, "s"),
            "ivfpq_train_s": (w["ivfpq_train_ms"][0] / 1e3, "s"),
            "ivfpq_recall_at_10": (c["hits"] / c["asked"] if c["asked"]
                                   else None, "ratio"),
            "queries_per_s": (rate(2 * batch, w["flat_search_ms"],
                                   w["ivfpq_search_ms"]), "1/s"),
            "queries_per_cpu_s": (rate(2 * batch, cpu["flat_search_ms"],
                                       cpu["ivfpq_search_ms"]), "1/cpu_s"),
        })
    else:
        ops = {"ingest_batch": "ingest_batch_ms",
               "ingest_query": "ingest_query_ms", "compact": "compact_ms"}
        out.update({
            "ingest_docs_per_s": (rate(batch, w["step_ms"]), "docs/s"),
            "ingest_docs_per_cpu_s": (rate(batch, cpu["step_ms"]),
                                      "docs/cpu_s"),
            "ingest_planted_recall": (c["resolved"] / c["planted"]
                                      if c["planted"] else None, "ratio"),
        })
    for name, key in ops.items():
        out[f"{name}_p50_ms"] = (p50(w[key]), "ms")
        out[f"{name}_cpu_ms"] = (p50(cpu[key]), "ms")
        t = tail(w[key])
        if t is not None and name != "compact":
            out[f"{name}_p{t[0]}_ms"] = (t[1], "ms")
    out["loop_steal_share"] = (c["loop_steal_share"], "ratio")
    out["host_reference_ms"] = (p50(res.ref), "ms")
    out["failed_share"] = (res.failed / res.attempted if res.attempted
                           else None, "ratio")
    return {k: v for k, v in out.items() if v[0] is not None}


#: each end-to-end metric in BENCHMARK.json -> the named metric it
#: reports on each workload (see README.md "End-to-end metrics")
END_TO_END = {
    "op_cpu_ms": {"vector_search": "ivfpq_search_cpu_ms",
                  "ingest_stream": "ingest_batch_cpu_ms"},
    "op2_cpu_ms": {"vector_search": "flat_search_cpu_ms",
                   "ingest_stream": "ingest_query_cpu_ms"},
    "recall": {"vector_search": "ivfpq_recall_at_10",
               "ingest_stream": "ingest_planted_recall"},
}
UNITS = {"setup_s": "s", "op_cpu_ms": "ms", "op2_cpu_ms": "ms",
         "recall": "ratio"}


def end_to_end(workload: str, named: dict) -> dict:
    vals = {"setup_s": named["setup_s"][0]}
    for metric, by_workload in END_TO_END.items():
        src = named.get(by_workload[workload])
        vals[metric] = None if src is None else src[0]
    return {k: {"value": v, "unit": UNITS[k]} for k, v in vals.items()
            if v is not None}


def per_layer(size: str, res, tracer, spark, session_s: float,
              rss_mb: float) -> dict:
    import tracing as trace
    import workloads

    reader = trace.StatusReader(spark)
    sites = trace.harvest(tracer, reader)
    out = {}
    for site in trace.SITES:
        calls = sites.get(site, trace.SiteCounters()).calls
        for m in trace.SITE_METRICS:
            out[f"{site}.{m}"] = p50([c[m] for c in calls]) or 0.0

    def rows(site, nodes):
        return trace.sql_rows(sites.get(site, trace.SiteCounters())
                              .executions, nodes)

    def n_calls(site):
        return len(sites.get(site, trace.SiteCounters()).calls)

    def ratio(num, den):
        return num / den if den else 0.0

    c = res.counts
    batch = workloads.SIZES[size]["vector_search"]["batch"]
    out["knn.pairs_per_query"] = ratio(
        rows("knn.search", trace.JOIN_NODES), n_calls("knn.search") * batch)
    out["ann.candidates_per_query"] = ratio(
        rows("ann.search", trace.JOIN_NODES), n_calls("ann.search") * batch)
    out["dedup.candidates_per_pair"] = ratio(
        rows("dedup.clusters", trace.JOIN_NODES), c["traced_pairs"])
    out["incremental.candidates_per_doc"] = ratio(
        rows("incremental.screen", trace.JOIN_NODES), c["traced_screened"])
    out["incremental.bytes_written_per_doc"] = ratio(
        c["state_bytes_written"], c["traced_appended"])
    out["incremental.state_files"] = c["state_files"]
    out["encoders.rows_encoded_per_new_row"] = ratio(
        rows("searcher.add_items", ("ArrowEvalPython",))
        + rows("searcher.search_text", ("ArrowEvalPython",)),
        c["traced_appended"])
    cores = len(os.sched_getaffinity(0))
    busy, gc = trace.workload_share(reader, res.loop_t0, res.loop_t1, cores)
    out["spark.busy_share"] = busy
    out["spark.gc_share"] = gc
    out["session.start_s"] = session_s
    out["session.peak_rss_mb"] = rss_mb
    return out


def stop(spark) -> None:
    """Stop Spark and wait for the JVM to exit (its Python workers are
    its children and exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    # fails here, before any work, when the engine is not beside us
    import faisssearcher_spark  # noqa: F401

    import clock
    import tracing as trace
    import workloads
    from clock import Stopwatch

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        configure_env(work, bool(args.trace))
        from faisssearcher_spark.session import get_spark

        sw = Stopwatch()
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = sw.stop().ms / 1e3
        clock.exclude_jit(spark.sparkContext._gateway.proc.pid)
        tracer = trace.Tracer(spark, enabled=bool(args.trace))
        res = workloads.WORKLOADS[args.workload](
            spark, args.seed, args.seconds, tracer, work, args.size)
        setup_s = session_s + sum(res.setup_parts.values())
        rss_mb = (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
                  + jvm_peak_rss_kb(spark)) / 1024
        named = named_metrics(args.workload, args.size, res, setup_s)
        named["peak_rss_mb"] = (rss_mb, "MB")
        if args.trace and res.traced_ms and res.untraced_ms:
            named["trace_overhead_share"] = (
                statistics.fmean(res.traced_ms)
                / statistics.fmean(res.untraced_ms) - 1, "ratio")
        if args.trace:
            metrics = per_layer(args.size, res, tracer, spark, session_s,
                                rss_mb)
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            path = os.path.join(out_dir,
                                f"trace-{args.workload}-{args.seed}.json")
            with open(path, "w") as f:
                json.dump({"workload": args.workload, "seed": args.seed,
                           "spans": tracer.dump(), "per_layer": metrics,
                           "end_to_end": {k: v[0] for k, v in named.items()}},
                          f, indent=1)
            metrics = {k: {"value": v, "unit": unit_of(k)}
                       for k, v in metrics.items()}
        else:
            metrics = end_to_end(args.workload, named)
    finally:
        if spark is not None:
            stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    for name, (value, unit) in named.items():
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    print(json.dumps({"setup_parts_s": res.setup_parts,
                      "cpu_ms": {k: [round(x, 1) for x in v]
                                 for k, v in res.samples.items()},
                      "wall_ms": {k: [round(x, 1) for x in v]
                                  for k, v in res.wall.items()},
                      "reasons": res.reasons[:5]}))
    print(json.dumps({"correct": res.failed == 0,
                      "attempted": res.attempted, "failed": res.failed,
                      "metrics": metrics}))
    return 0


def unit_of(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_ms"):
        return "ms"
    if last.endswith("_s"):
        return "s"
    if last.endswith("_mb"):
        return "MB"
    if last.endswith("_bytes") or last == "bytes_written_per_doc":
        return "bytes"
    if last in ("jobs", "tasks", "state_files"):
        return "count"
    return "ratio"


if __name__ == "__main__":
    sys.exit(main())
