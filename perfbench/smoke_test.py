#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at sf0.001.

    python3 perfbench/smoke_test.py

For each workload it makes one traced run with every expected output
deliberately corrupted, and checks that
  1. every end-to-end and per-layer metric of BENCHMARK.json prints as
     `metric <name> <value> <unit>` with its unit, and the last line is the
     JSON result carrying the per-layer metrics with their units;
  2. the corrupted expectations make calls fail: failed_frac > 0 and the
     result reads correct: false.
Exit code 0 when every check holds.
"""
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def main():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    problems = []
    for w in (x["name"] for x in spec["workloads"]):
        proc = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", w,
             "--seed", "1", "--seconds", "1", "--trace", "1",
             "--scale", "sf0.001", "--corrupt-expected"],
            cwd=HERE.parent, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            problems.append("%s: run failed (exit %d)" % (w, proc.returncode))
            continue
        printed = {}
        for l in lines[:-1]:
            parts = l.split()
            if len(parts) == 4 and parts[0] == "metric":
                printed[parts[1]] = (float(parts[2]), parts[3])
        for name, unit in units.items():
            if name not in printed:
                problems.append("%s: metric %s not printed" % (w, name))
            elif printed[name][1] != unit:
                problems.append("%s: metric %s printed with unit %s, not %s"
                                % (w, name, printed[name][1], unit))
        res = json.loads(lines[-1])
        if set(res) != {"correct", "attempted", "failed", "metrics"}:
            problems.append("%s: result keys %s" % (w, sorted(res)))
        for m in spec["per_layer"]:
            got = res["metrics"].get(m["name"])
            if not got or got.get("unit") != m["unit"]:
                problems.append("%s: result lacks %s" % (w, m["name"]))
        if not printed.get("failed_frac", (0.0,))[0] > 0 or res["correct"] \
                or not res["failed"]:
            problems.append("%s: corrupted expectations did not fail calls"
                            % w)
        print("%s: %d metrics printed, failed %d of %d with corrupted "
              "expectations" % (w, len(printed), res["failed"],
                                res["attempted"]), flush=True)
    for p in problems:
        print("FAIL " + p)
    print("smoke test %s" % ("failed" if problems else "passed"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
