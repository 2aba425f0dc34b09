"""Benchmark of the otel_worker_spark pipeline: one workload per run.

    python3 perfbench/run.py --workload bulk_agg --seed 1 --seconds 10 --trace 0

Run from the repository root. The run starts one Spark session at
``local[nproc]`` with the package's own defaults (only scratch
directories, and the event log when tracing, are added), builds the
workload's inputs from ``--seed``, warms up, then measures closed-loop
operations for ``--seconds``, checking every output. The last line of
standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs half
the time untraced and half traced (spans around the package's public
calls, Spark job groups, the event log), then the workload's layer
ladder, and reports the per-layer metrics. A detail record (host stamp,
input properties, failures, and with tracing the spans) is written to
``.perfbench_out/``. Scratch data lives in ``.perfbench_work/`` and is
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: end-to-end metrics (``--trace 0``): name -> (unit, better)
END_TO_END = {
    "throughput_per_s": ("1/s", "higher"),
    "op_p50_ms": ("ms", "lower"),
    "setup_s": ("s", "lower"),
}

#: layers whose job groups get their own Spark CPU figure
SPARK_LAYERS = ["sources", "parse_arrow", "pipeline", "store", "api", "dedup"]
STORE_TABLES = {"spans": "spans", "sink_receipts": "receipts", "span_added_manifest": "manifest"}
API_ROUTES = ["traces_list", "trace_get", "span_get", "ingest"]

#: per-layer metrics (``--trace 1``): name -> unit; a layer a workload
#: never enters reads 0
_LAYER_UNITS = {
    "e2e.op_tail_ms": "ms",
    "e2e.op_tail_pct": "%",
    "e2e.op_samples": "count",
    "e2e.error_rate": "ratio",
    "host.peak_rss_mb": "MB",
    "sources.scan_s": "s",
    "parse_arrow.kernel_s": "s",
    "parse_arrow.python_cpu_s": "s",
    "parse_arrow.inner_s": "s",
    "parse_arrow.rows_in": "count",
    "parse_arrow.rows_quarantined": "count",
    "pipeline.transform_s": "s",
    "pipeline.agg_s": "s",
    "pipeline.ingest_batch_s": "s",
    "pipeline.replay_s": "s",
    "pipeline.replays": "count",
    **{f"store.append_s.{t}": "s" for t in STORE_TABLES.values()},
    "store.read_batch_s": "s",
    "store.commits_per_batch": "count",
    "store.files_per_batch": "count",
    "store.bytes_per_batch": "B",
    "store.committed_batches_s": "s",
    "store.log_entries": "count",
    "store.read_s": "s",
    "store.read_files": "count",
    **{f"api.handler_s.{r}": "s" for r in API_ROUTES},
    "api.http_s": "s",
    "api.status_2xx": "count",
    "api.status_4xx": "count",
    "api.status_5xx": "count",
    "api.list_p50_ms": "ms",
    "api.list_tail_ms": "ms",
    "api.lookup_p50_ms": "ms",
    "api.lookup_tail_ms": "ms",
    "api.export_p50_ms": "ms",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_cpu_s": "s",
    **{f"spark.executor_cpu_s.{layer}": "s" for layer in SPARK_LAYERS},
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.peak_exec_mem_mb": "MB",
    "dedup.signatures_s": "s",
    "dedup.candidates_s": "s",
    "dedup.verify_s": "s",
    "dedup.components_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.useful_ratio": "ratio",
    "ladder.rungs_vs_pass_pct": "%",
    "tracing.overhead_pct": "%",
    "scaling.local1_seq_per_s": "1/s",
}
_HIGHER = {"e2e.op_samples", "parse_arrow.rows_in", "api.status_2xx",
           "dedup.verified_pairs", "dedup.useful_ratio", "scaling.local1_seq_per_s"}
PER_LAYER = {k: (u, "higher" if k in _HIGHER else "lower") for k, u in _LAYER_UNITS.items()}


def scratch_conf(work: str, trace: bool) -> dict[str, str]:
    """Keep every file Spark writes inside the run's scratch directory."""
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    return conf


def child_env(work: str) -> dict[str, str]:
    """Environment the JVM and the Python workers it forks inherit: the
    package on the path, and scratch files inside ``work``."""
    return {
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    }


def stop_jvm() -> None:
    """Stop the JVM the sessions ran in, and wait for it to exit."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def install_tracer(tracer) -> None:
    """Wrap the package's public entry points named in the layer map."""
    from otel_worker_spark import api, pipeline, queries
    from otel_worker_spark.ops import dedup
    from otel_worker_spark.store import TableStore

    def append_name(store, *args, **kwargs) -> str:
        table = os.path.basename(store.root)
        return f"store.append.{STORE_TABLES.get(table, table)}"

    tracer.propagate_to_pools()
    tracer.wrap(pipeline, "ingest_batch", "pipeline.ingest_batch")
    tracer.wrap(api, "ingest_batch", "pipeline.ingest_batch")  # api's own import of it
    tracer.wrap(pipeline, "transform_batch", "pipeline.transform_batch")
    tracer.wrap(TableStore, "append", append_name)
    tracer.wrap(TableStore, "read_batch", "store.read_batch")
    tracer.wrap(TableStore, "committed_batches", "store.committed_batches")
    tracer.wrap(TableStore, "read", "store.read")
    for route in API_ROUTES:
        tracer.wrap(api.TraceApi, route, f"api.{route}")
    tracer.wrap(queries, "traces_list", "queries.traces_list")
    for fn in ("dedup_groups", "verified_pairs", "minhash_lsh_pairs",
               "minhash_signatures", "connected_components"):
        tracer.wrap(dedup, fn, f"dedup.{fn}")


def span_metrics(tracer) -> dict[str, float]:
    from workloads import median

    dur = tracer.durations()
    own = tracer.self_time_by_id()
    parents = {sp["parent"] for sp in tracer.spans if sp["name"] == "store.append.spans"}
    ingest = [sp for sp in tracer.spans if sp["name"] == "pipeline.ingest_batch"]
    # a re-delivered batch returns before writing anything
    replay = [sp["end"] - sp["start"] for sp in ingest if sp["id"] not in parents]
    out = {
        "pipeline.ingest_batch_s": median(own[sp["id"]] for sp in ingest if sp["id"] in parents),
        "pipeline.replay_s": median(replay),
        "pipeline.replays": len(replay),
        "store.read_batch_s": median(dur.get("store.read_batch", [])),
        "store.committed_batches_s": median(dur.get("store.committed_batches", [])),
        "store.read_s": median(dur.get("store.read", [])),
    }
    for t in STORE_TABLES.values():
        out[f"store.append_s.{t}"] = median(dur.get(f"store.append.{t}", []))
    for route in API_ROUTES:
        out[f"api.handler_s.{route}"] = median(dur.get(f"api.{route}", []))
    return out


def spark_metrics(groups: dict, events: dict) -> dict[str, float]:
    out = {
        "spark.jobs": sum(g.get("jobs", 0) for g in groups.values()),
        "spark.tasks": sum(e.get("tasks", 0) for e in events.values()),
        "spark.executor_cpu_s": sum(g.get("executor_cpu_s", 0) for g in groups.values()),
        "spark.executor_run_s": sum(g.get("executor_run_s", 0) for g in groups.values()),
        "spark.gc_s": sum(g.get("gc_s", 0) for g in groups.values()),
        "spark.shuffle_bytes": sum(e.get("shuffle_write_bytes", 0) for e in events.values()),
        "spark.spill_bytes": sum(e.get("spill_disk_bytes", 0) for e in events.values()),
        "spark.peak_exec_mem_mb": max((g.get("peak_exec_mem", 0) for g in groups.values()),
                                      default=0) / 2**20,
    }
    for layer in SPARK_LAYERS:
        out[f"spark.executor_cpu_s.{layer}"] = sum(
            g.get("executor_cpu_s", 0) for name, g in groups.items()
            if name.split(".")[0] == layer)
    return out


#: traced-run segments: untraced, traced, traced, untraced, so a drift
#: during the run cancels out of the tracing-overhead comparison
ABBA = (False, True, True, False)


def traced_phase(wl, tracer, seconds: int) -> None:
    """The measured phase of a traced run, in ``ABBA`` segments of equal
    time (or the workload's own split of its work)."""
    install_tracer(tracer)
    for i, on in enumerate(ABBA):
        tracer.enabled = on
        wl.segment(i, len(ABBA), time.perf_counter() + seconds / len(ABBA))
    tracer.enabled = True  # the ladder that follows is traced


def measure(args, work: str) -> tuple[dict, dict]:
    import host
    from tracing import Tracer, spark_by_group
    from workloads import WORKLOADS, BulkAgg, median, tail

    from otel_worker_spark.session import get_spark

    trace = bool(args.trace)
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", cores=host.nproc(),
                      extra_conf=scratch_conf(work, trace))
    session_s = time.perf_counter() - t0
    detail: dict = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                    "trace": args.trace, "host": host.host_stamp(spark)}
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    tracer = Tracer(spark.sparkContext, run_id) if trace else None
    wl = WORKLOADS[args.workload](spark, work, args.seed, args.seconds, tracer)
    try:
        t1 = time.perf_counter()
        wl.phase("start")
        wl.setup()
        setup_s = session_s + time.perf_counter() - t1
        with host.RssSampler() as rss:
            start = time.perf_counter()
            if not trace:
                wl.run(start + args.seconds)
            else:
                traced_phase(wl, tracer, args.seconds)
            wall = time.perf_counter() - start
        ops = wl.latencies
        if not trace:
            metrics = {
                "throughput_per_s": wl.items / wall,
                "op_p50_ms": 1e3 * median(ops),
                "setup_s": setup_s,
            }
            wl.finish()
        else:
            wl.ladder()
            groups = spark_by_group(spark.sparkContext)
            tracer.enabled = False
            tracer.restore()
            wl.finish()
            tail_s, tail_pct = tail(ops)
            metrics = {name: 0.0 for name in PER_LAYER}
            metrics.update({
                "e2e.op_tail_ms": 1e3 * tail_s,
                "e2e.op_tail_pct": tail_pct,
                "e2e.op_samples": len(ops),
                "host.peak_rss_mb": rss.peak / 2**20,
                "tracing.overhead_pct": wl.tracing_overhead_pct(),
            })
            metrics.update(span_metrics(tracer))
            metrics.update(wl.layer)
            detail["spans"] = tracer.spans
    finally:
        wl.close()
        spark.stop()
    if trace:
        import shuffle_audit

        # the event log is complete only once its session stopped
        events = shuffle_audit.parse_event_log(os.path.join(work, "eventlog"))
        metrics.update(spark_metrics(groups, events))
        if isinstance(wl, BulkAgg):
            one = get_spark(app_name="perfbench-local1", cores=1,
                            extra_conf=scratch_conf(work, False))
            try:
                metrics["scaling.local1_seq_per_s"] = wl.local1(one)
            finally:
                one.stop()
        metrics["e2e.error_rate"] = wl.failed / max(wl.attempted, 1)
    detail.update({"session_s": session_s, "setup_phases_s": wl.phases, "inputs": wl.props,
                   "failures": wl.failures, "latencies_s": wl.latencies,
                   "latencies_by_kind": {f"{k} traced" if on else k: v
                                         for (k, on), v in wl.by_kind.items()},
                   "metrics": metrics})
    catalog = PER_LAYER if trace else END_TO_END
    result = {
        "correct": wl.attempted > 0 and wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, (u, _) in catalog.items()},
    }
    return result, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "otel_worker_spark", "__init__.py")):
        print(f"perfbench: no otel_worker_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.update(child_env(work))
    try:
        result, detail = measure(args, work)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out, name), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
