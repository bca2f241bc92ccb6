"""Self-test of the benchmark: every workload, both modes, one second of
measurement, on the same code and input sizes as a real run.

    python3 perfbench/selftest.py [workload ...]

Checks the output contract (last line is one JSON object with exactly
``correct``, ``attempted``, ``failed`` and ``metrics``; the metrics are
BENCHMARK.json's end-to-end set without tracing and its per-layer set
with it; every output check passed), that no process a run started is
still alive once it has exited, and that the benchmark refuses to run,
without printing a result, when the engine is not beside it.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from layers import process_tree  # noqa: E402
from run import adopt_orphans  # noqa: E402


def run(cwd: str, workload: str, trace: int, seconds: float = 1) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=180)
    # this process is the subreaper: whatever the run left behind is re-parented here
    left = sorted(process_tree(os.getpid()).keys() - {os.getpid()})
    if left:
        raise SystemExit(f"{workload} trace={trace}: processes left running: {left}")
    return p


def check_run(spec: dict, workload: str, trace: int) -> None:
    p = run(ROOT, workload, trace)
    if p.returncode != 0:
        raise SystemExit(f"{workload} trace={trace}: exit {p.returncode}\n{p.stderr[-3000:]}")
    doc = json.loads(p.stdout.strip().splitlines()[-1])
    if set(doc) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit(f"{workload}: result keys {sorted(doc)}")
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in doc["metrics"].items()}
    if got != want:
        raise SystemExit(f"{workload} trace={trace}: metrics {got} != {want}")
    if not (doc["correct"] and doc["failed"] == 0 and doc["attempted"] >= 1):
        raise SystemExit(f"{workload} trace={trace}: outputs failed their checks: {doc}")
    for name, m in doc["metrics"].items():
        if not isinstance(m["value"], (int, float)):
            raise SystemExit(f"{workload}: {name} is not a number: {m['value']!r}")
    if not trace and any(m["value"] <= 0 for m in doc["metrics"].values()):
        raise SystemExit(f"{workload}: an end-to-end metric is not positive: {doc['metrics']}")
    print(f"ok {workload} trace={trace} attempted={doc['attempted']}", flush=True)


def check_refuses_without_engine(workload: str) -> None:
    bare = os.path.join(HERE, ".work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns(".work", "out", "__pycache__"))
        p = run(bare, workload, 0)
        if p.returncode == 0 or p.stdout.strip():
            raise SystemExit(f"bare directory: exit {p.returncode}, stdout {p.stdout[-300:]!r}")
        print("ok refuses to run without the engine", flush=True)
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = sys.argv[1:] or [w["name"] for w in spec["workloads"]]
    adopt_orphans()
    check_refuses_without_engine(names[0])
    for workload in names:
        for trace in (0, 1):
            check_run(spec, workload, trace)


if __name__ == "__main__":
    main()
