#!/usr/bin/env python3
"""Steadiness mode: run one workload repeatedly and report, for every
end-to-end metric, the median, the quartiles and the spread (interquartile
range as a share of the median) against the metric's bound.

    python3 perfbench/steady.py --workload dq_sweep --runs 10 [--first-seed 1]

Each run uses the next seed. A spread above the bound fails the metric; a
spread above a third of the bound is flagged as not yet steady. With
--compare FILE the medians are also compared with an earlier report written
by --out, and a median worse by more than the bound fails. Exit code 1 when
any metric fails.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


# printed on every run, without a bound in BENCHMARK.json
UNBOUNDED = ("failed_frac", "write_amp")


def run_once(workload, seed, seconds):
    """One run's metrics: the JSON result's, plus every printed line."""
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=HERE.parent, stdout=subprocess.PIPE, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise SystemExit("run with seed %d failed (exit %d)"
                         % (seed, proc.returncode))
    res = json.loads(lines[-1])
    for l in lines[:-1]:
        parts = l.split()
        if l.startswith("host load"):
            print("  seed %d: %s" % (seed, l), flush=True)
        elif len(parts) == 4 and parts[0] == "metric":
            res["metrics"].setdefault(parts[1], {"value": float(parts[2])})
    return res


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out", help="write the per-metric summary here")
    ap.add_argument("--compare", help="an earlier --out to compare with")
    args = ap.parse_args()
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    metrics.update({n: {"bound": None} for n in UNBOUNDED})

    values = {n: [] for n in metrics}
    for i in range(args.runs):
        res = run_once(args.workload, args.first_seed + i, spec["run_seconds"])
        if not res["correct"] or res["failed"]:
            print("  seed %d: %d of %d failed" % (args.first_seed + i,
                                                  res["failed"],
                                                  res["attempted"]))
        for n in metrics:
            values[n].append(res["metrics"][n]["value"])

    earlier = json.loads(Path(args.compare).read_text()) if args.compare \
        else {}
    summary, bad = {}, False
    print("%-18s %12s %12s %12s %8s %6s  %s" % (
        "metric", "median", "q1", "q3", "spread", "bound", "verdict"))
    for n, m in metrics.items():
        xs = values[n]
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med if med else 0.0
        verdict = "ok"
        if m["bound"] is None:
            verdict = "-"
        elif spread > m["bound"]:
            verdict, bad = "FAIL spread", True
        elif spread > m["bound"] / 3:
            verdict = "unsteady"
        if n in earlier and m["bound"] is not None:
            before = earlier[n]["median"]
            worse = (med - before) / before if m["better"] == "lower" \
                else (before - med) / before
            if worse > m["bound"]:
                verdict, bad = "FAIL median %+.3f" % worse, True
        summary[n] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                      "values": xs}
        print("%-18s %12.6g %12.6g %12.6g %8.4f %6s  %s" % (
            n, med, q1, q3, spread, "-" if m["bound"] is None else
            "%.3f" % m["bound"], verdict))
    if args.out:
        Path(args.out).write_text(json.dumps(summary, indent=1))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
