"""Self-test of the benchmark: every workload for a few operations on the
sf0.001 tables, untraced and traced, checked against ``BENCHMARK.json``.

    python3 perfbench/selftest.py

Checks that each run exits 0 with a correct result whose metric names are
exactly the declared ones, that every timing the workload measures is
positive, that the per-run scratch directory is gone afterwards, and that
the benchmark refuses to run (non-zero exit, no result) in a directory that
holds only ``BENCHMARK.json`` and ``perfbench/``. Exits non-zero on the
first failure.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from dmshadoop_spark.catalog import DEFAULT_SF_DIR  # noqa: E402
from perfbench.dmsops import READS, WRITES  # noqa: E402
from perfbench.lanes import LLM_PIPELINE  # noqa: E402
from perfbench.run import WORKLOADS  # noqa: E402


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=600)


def _own_timings(workload: str) -> list[str]:
    """Per-layer timings the workload itself measures."""
    names = ["session.start_s", "warmup_s", "trace_overhead_s"]
    if workload == "dms_ops":
        return names + ["dms.bulk_ingest_s"] + [
            f"dms.{op}.p50_s" for op in READS + WRITES]
    return names + ["plan_s", "sink_s"] + [
        f"{lane}.{phase}_s" for lane in LLM_PIPELINE
        for phase in ("plan", "sink")]


def check_run(spec: dict, workload: str, trace: int) -> None:
    proc = _run(ROOT, "--workload", workload, "--seed", "7", "--seconds", "1",
                "--trace", str(trace), "--sf-dir", DEFAULT_SF_DIR)
    label = f"{workload} --trace {trace}"
    if proc.returncode != 0:
        sys.exit(f"{label}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit(f"{label}: result keys {sorted(result)}")
    if not (result["correct"] and result["failed"] == 0 and result["attempted"] >= 1):
        sys.exit(f"{label}: not correct: {result}\n{proc.stderr[-3000:]}")
    declared = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != declared:
        sys.exit(f"{label}: metrics differ from BENCHMARK.json: "
                 f"missing {sorted(set(declared) - set(got))}, "
                 f"extra {sorted(set(got) - set(declared))}")
    values = {k: v["value"] for k, v in result["metrics"].items()}
    positive = _own_timings(workload) if trace else list(declared)
    zero = [k for k in positive if not values[k] > 0]
    if zero:
        sys.exit(f"{label}: not positive: {zero}")
    print(f"ok  {label}: {result['attempted']} operations", flush=True)


def check_refuses_without_program() -> None:
    runs = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(runs, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=runs) as bare:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(os.path.join(ROOT, "perfbench"),
                        os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        proc = _run(bare, "--workload", WORKLOADS[0], "--seed", "1",
                    "--seconds", "1", "--trace", "0")
    if proc.returncode == 0 or '"metrics"' in proc.stdout:
        sys.exit(f"ran without the program: exit {proc.returncode}, {proc.stdout!r}")
    print("ok  refuses to run without the program", flush=True)


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if [w["name"] for w in spec["workloads"]] != list(WORKLOADS):
        sys.exit(f"BENCHMARK.json workloads differ from {WORKLOADS}")
    check_refuses_without_program()
    for workload in WORKLOADS:
        for trace in (0, 1):
            check_run(spec, workload, trace)
    runs = os.path.join(ROOT, ".perfbench_runs")
    if os.path.isdir(runs) and os.listdir(runs):
        sys.exit(f"scratch left behind: {os.listdir(runs)}")
    print("ok  scratch removed")


if __name__ == "__main__":
    main()
