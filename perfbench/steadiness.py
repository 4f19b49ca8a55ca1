"""Run the benchmark over several seeds and report each end-to-end
metric's median and spread (interquartile distance over the median).

    python3 perfbench/steadiness.py [--workloads A,B] [--seeds 1-10] [--out FILE]

Runs are sequential, one process each, with the ``run_seconds`` of
BENCHMARK.json. The summary JSON goes to stdout, and to ``--out`` too.
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
sys.path.insert(0, ROOT)

from perfbench.stats import spread  # noqa: E402


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seeds", default="1-10", type=_seeds)
    ap.add_argument("--out")
    args = ap.parse_args(argv)
    summary = {}
    for wl in args.workloads.split(","):
        values: dict[str, list[float]] = {}
        runs = []
        for seed in args.seeds:
            t0 = time.time()
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                 "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                 "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, check=True,
            )
            lines = proc.stdout.strip().splitlines()
            result, diag = json.loads(lines[-1]), json.loads(lines[-2])["diagnostics"]
            runs.append({"seed": seed, "wall_s": round(time.time() - t0, 1),
                         "correct": result["correct"], "failed": result["failed"],
                         "setup": diag["setup"], "measured": diag["measured"],
                         "layout": diag["layout"],
                         "calibration_s": diag["environment"]["calibration_s"]})
            for name, m in result["metrics"].items():
                values.setdefault(name, []).append(m["value"])
            print(wl, runs[-1], file=sys.stderr, flush=True)
        summary[wl] = {
            "runs": runs,
            "metrics": {
                name: {"median": statistics.median(xs), "spread": spread(xs), "values": xs}
                for name, xs in sorted(values.items())
            },
        }
    text = json.dumps(summary, indent=1)
    print(text)
    if args.out:
        with open(args.out, "w", encoding="utf-8") as fh:
            fh.write(text + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
