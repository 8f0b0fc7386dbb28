"""Run the benchmark over several seeds and summarize each metric across runs.

    python3 perfbench/sweep.py --workload medallion,corpus-graph --seeds 1-10

For every metric it prints the run count, the median, the highest
percentile that has at least ten runs beyond it (when there are more than
ten runs), and the spread: the distance between the first and third
quartile (``statistics.quantiles(values, n=4)``) as a share of the median.
Each run's JSON line is appended to ``.bench_build/perfbench/sweep.jsonl``.
The exit code is 1 if any run exited non-zero (a failed check exits 1).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def summarize(values: list[float]) -> dict[str, float]:
    """Median, high percentile with ten runs beyond it, and quartile spread."""
    xs = sorted(values)
    n, med = len(xs), statistics.median(xs)
    out = {"runs": n, "median": med}
    if n > 10:
        out[f"p{100 * (n - 10) // n}"] = xs[n - 11]
    if n >= 2:
        q1, _, q3 = statistics.quantiles(xs, n=4)
        out["spread"] = (q3 - q1) / med if med else 0.0
    return out


def sweep(workload: str, seeds: list[int], seconds: str, trace: str, log: str) -> int:
    """Run ``workload`` once per seed, print each run and the summary;
    return the number of runs that failed."""
    runs, bad = [], 0
    for seed in seeds:
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", seconds, "--trace", trace],
            cwd=ROOT, capture_output=True, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode or not lines:
            bad += 1
            print(f"{workload} seed {seed}: exit {proc.returncode}\n"
                  f"{proc.stdout[-2000:]}{proc.stderr[-2000:]}")
            continue
        result = json.loads(lines[-1])
        runs.append(result)
        with open(log, "a") as fh:
            fh.write(json.dumps({"workload": workload, "seed": seed, **result}) + "\n")
        print(f"{workload} seed {seed}: " + ", ".join(
            f"{k}={m['value']:.4g}" for k, m in result["metrics"].items() if m["value"]), flush=True)

    for name in runs[0]["metrics"] if runs else []:
        s = summarize([r["metrics"][name]["value"] for r in runs])
        unit = runs[0]["metrics"][name]["unit"]
        print(f"{workload:>13}  {name:<40} " + "  ".join(
            f"{k}={v:.4g}" for k, v in s.items()) + f"  [{unit}]")
    return bad


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, help="one name, or several joined by commas")
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--seconds", default="1")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()

    log = os.path.join(ROOT, ".bench_build", "perfbench", "sweep.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    bad = sum(sweep(w, _seeds(args.seeds), args.seconds, args.trace, log)
              for w in args.workload.split(","))
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
