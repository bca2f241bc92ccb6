"""Run one workload on several seeds and report each end-to-end metric's
median and quartile spread (the distance between the first and third
quartile as a share of the median, from ``statistics.quantiles(n=4)``),
next to the bound BENCHMARK.json gives it.

    python3 perfbench/spread.py --workload knob_stream --seeds 1-10 [--out FILE]

``--out`` writes every run's result line and the summary as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    runs = []
    for seed in args.seeds:
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=300,
        )
        if p.returncode != 0:
            raise SystemExit(f"seed {seed}: exit {p.returncode}\n{p.stderr[-3000:]}")
        doc = json.loads(p.stdout.strip().splitlines()[-1])
        doc["seed"], doc["wall_s"] = seed, time.time() - t0
        runs.append(doc)
        print(json.dumps(doc), flush=True)
    summary = {}
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        q1, _, q3 = statistics.quantiles(vals, n=4)
        med = statistics.median(vals)
        summary[m["name"]] = {"median": med, "spread": (q3 - q1) / med, "bound": m["bound"],
                              "unit": m["unit"], "n": len(vals)}
        print(f"{m['name']:>14} median {med:.4g} {m['unit']}  spread {(q3 - q1) / med:.3f}  "
              f"bound {m['bound']}  (n={len(vals)})")
    walls = [r["wall_s"] for r in runs]
    print(f"{'run wall':>14} mean {statistics.mean(walls):.1f} s  max {max(walls):.1f} s")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"workload": args.workload, "runs": runs, "summary": summary,
                       "wall_s": walls}, fh, indent=1)


if __name__ == "__main__":
    main()
