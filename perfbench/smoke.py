"""Smoke test of the benchmark itself (takes a few minutes).

    python3 perfbench/smoke.py

1. BENCHMARK.json names exactly the metrics and units ``run.py`` emits.
2. Every workload runs for one second on a tiny seed, untraced and
   traced, and prints every named metric with its unit and no failure.
3. In one session, each workload runs against a corrupted expectation,
   and the corruption must show up as failed operations.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import run  # noqa: E402


def check_catalog() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for key, catalog in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        named = {m["name"]: (m["unit"], m["better"]) for m in bench[key]}
        assert named == catalog, f"BENCHMARK.json {key} differs from run.py"
    return bench


def check_runs(bench: dict) -> None:
    want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
            1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    for w in bench["workloads"]:
        for trace in (0, 1):
            cmd = bench["command"] + ["--workload", w["name"], "--seed", "7",
                                      "--seconds", "1", "--trace", str(trace)]
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            assert out.returncode == 0, f"{cmd} exited {out.returncode}: {out.stderr[-3000:]}"
            res = json.loads(out.stdout.strip().splitlines()[-1])
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want[trace], f"{w['name']} trace {trace}: {got}"
            assert res["correct"] and res["attempted"] >= 1 and res["failed"] == 0, res
            print(f"ok {w['name']} trace={trace}: {res['attempted']} operations", flush=True)


def corrupt(wl) -> None:
    """Make one expectation of ``wl`` wrong."""
    if wl.name == "bulk_agg":
        n, s = wl.expected["traces"]
        wl.expected["traces"] = (n + 1, s)
    elif wl.name == "api_mixed":
        wl.plan[0]["want"] = 500
    else:
        wl.families[0] = wl.families[0] + wl.families[1][:1]


def check_corruption() -> None:
    from workloads import WORKLOADS

    from otel_worker_spark.session import get_spark

    work = os.path.join(ROOT, ".perfbench_work", f"smoke-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.update(run.child_env(work))
    spark = get_spark(app_name="perfbench-smoke", extra_conf=run.scratch_conf(work, False))
    try:
        for name, cls in WORKLOADS.items():
            wl = cls(spark, work, 7, 1)
            wl.setup()
            corrupt(wl)
            try:
                wl.run(0.0)  # a deadline in the past still runs one operation
                wl.finish()
            finally:
                wl.close()
            assert wl.failed > 0, f"{name}: corrupted expectation went unnoticed"
            print(f"ok {name}: corruption gives error rate {wl.failed / wl.attempted:.2f}",
                  flush=True)
    finally:
        spark.stop()
        run.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    check_runs(check_catalog())
    check_corruption()
    print("smoke ok")
