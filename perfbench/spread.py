"""Run-to-run spread of the end-to-end metrics across seeds.

    python3 perfbench/spread.py --workload corpus_vector --seeds 1-5 [--out f.json]

Runs ``perfbench/run.py`` once per seed (sequentially, untraced) and
prints, per metric, the median and the inter-quartile range as a share
of the median (``statistics.quantiles(values, n=4)``), next to the
metric's bound from BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spread(values: list[float]) -> float:
    """(Q3 - Q1) / median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")


def _seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-5")
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    runs = []
    for seed in _seeds(args.seeds):
        t = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, check=False,
        )
        wall = time.perf_counter() - t
        lines = proc.stdout.strip().splitlines() or ["{}"]
        result = json.loads(lines[-1]) if lines[-1].startswith("{") else {}
        report = "\n".join(line[2:] for line in lines if line.startswith("# "))
        runs.append({"seed": seed, "rc": proc.returncode, "wall_s": wall, **result,
                     "report": json.loads(report) if report else None})
        print(f"seed {seed}: rc={proc.returncode} wall={wall:.1f}s correct={result.get('correct')}",
              file=sys.stderr)
    summary = {}
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs if "metrics" in r]
        if len(vals) >= 2:
            summary[m["name"]] = {
                "median": statistics.median(vals),
                "spread": spread(vals),
                "bound": m["bound"],
            }
    out = {"workload": args.workload, "runs": runs, "summary": summary}
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(out, fh, indent=1)
    for name, s in summary.items():
        print(f"{name:14s} median={s['median']:.4g} spread={s['spread']:.4f} bound={s['bound']}")
    return 0 if all(r["rc"] == 0 and r.get("correct") for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
