"""Run the benchmark over several seeds and summarise each metric.

    python3 perfbench/spread.py --workloads ingest,query --seeds 1-10 \
        --seconds 5 [--trace 0] [--out perfbench/baseline.json]

Run from the repository root. Runs are sequential, one process each.
For every end-to-end metric it prints the median, the quartiles (as
`statistics.quantiles(values, n=4)` gives them) and the spread, the
distance between the quartiles as a share of the median; with `--out`
it writes the same summary plus every run's record as JSON.
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


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def one_run(workload: str, seed: int, seconds: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", seconds, "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n"
                           f"{proc.stderr[-3000:]}")
    rec = {"seed": seed, "run_wall_s": wall, "result": json.loads(lines[-1])}
    for line in lines:
        for tag in ("env", "setup"):
            if line.startswith(f"# {tag} "):
                rec[tag] = json.loads(line[len(tag) + 3:])
        if line.startswith("layer "):
            _, section, name, value, _ = line.split()
            rec.setdefault("layer_rows_s", {}).setdefault(section, {})[name] = float(value)
    return rec


def summarise(runs: list[dict]) -> dict:
    out = {}
    for name in runs[0]["result"]["metrics"]:
        vals = [r["result"]["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        out[name] = {"unit": runs[0]["result"]["metrics"][name]["unit"], "median": med,
                     "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="5")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    report = {}
    for wl in args.workloads.split(","):
        runs = []
        for seed in seeds(args.seeds):
            rec = one_run(wl, seed, args.seconds, args.trace)
            runs.append(rec)
            r = rec["result"]
            print(f"{wl} seed={seed} wall={rec['run_wall_s']:.1f}s correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']} load1="
                  f"{rec.get('env', {}).get('load1_at_start', float('nan')):.2f} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()
                             if args.trace == 0), flush=True)
        summary = summarise(runs)
        for name, s in summary.items():
            if args.trace == 0:
                print(f"  {wl} {name}: median {s['median']:.6g} {s['unit']} "
                      f"q1 {s['q1']:.6g} q3 {s['q3']:.6g} spread {s['spread']:.4f}",
                      flush=True)
        report[wl] = {"summary": summary, "runs": runs}
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
