#!/usr/bin/env python3
"""Procedure-level benchmark of the graft engine.

Runs one workload as a closed loop with one caller and prints every metric
by name with its unit; the last line of standard output is one JSON object
with the keys correct, attempted, failed and metrics.

    python3 perfbench/run.py --workload dq_sweep --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark JVM with sbt (offline); later runs reuse the build while the sources are
unchanged. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
# the read-only test corpus (TESTDATA.md): sf0.001, sf0.01 and sf0.1 parquet
DATA = Path(os.environ.get("PERFBENCH_DATA", Path.home() / "testdata"))
WORKLOADS = ("dq_sweep", "ingest_merge")
LAYERS = ("io", "profile", "dq", "security", "interp", "orch", "exec",
          "pipeline", "catalog", "streaming")
JVM_TIMEOUT_S = 165

sys.path.insert(0, str(HERE))
import checks  # noqa: E402
import inputs  # noqa: E402


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def loadavg():
    try:
        return float(Path("/proc/loadavg").read_text().split()[0])
    except (OSError, ValueError, IndexError):
        return -1.0


# --------------------------------------------------------------------- build

def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [ROOT / "build.sbt", ROOT / "project", ROOT / "src" / "main",
             HERE / "build.sbt", HERE / "project", HERE / "src"]
    for r in roots:
        files = [r] if r.is_file() else sorted(
            p for p in r.rglob("*") if p.is_file() and "target" not in p.parts)
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile the engine and the benchmark JVM; return its classpath."""
    BUILD.mkdir(exist_ok=True)
    stamp = source_stamp()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp.txt"
    if cp_file.is_file() and stamp_file.is_file() and \
            stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=%s "
                       "-Dsbt.offline=true -Xmx2g" %
                       Path.home().joinpath(".sbt", "repositories"))
    log("perfbench: building the engine and the benchmark JVM with sbt ...")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    cp = [l for l in proc.stdout.splitlines()
          if l.startswith("/") and ".jar" in l]
    if proc.returncode != 0 or not cp:
        log(proc.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp_file.write_text(cp[-1])
    stamp_file.write_text(stamp)
    return cp[-1]


# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def run_jvm(cp, manifest_path, result_path, work):
    cores = str(len(os.sched_getaffinity(0)))
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
           # reach optimised code within the warm-up, not in the timed loop
           "-XX:Tier3InvocationThreshold=100", "-XX:Tier4InvocationThreshold=500",
           "-XX:Tier4CompileThreshold=1500", "-XX:Tier4BackEdgeThreshold=4000",
           "-Djava.io.tmpdir=%s" % tmp, "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           "-Dlog4j2.configurationFile=%s" % (HERE / "log4j2.properties"),
           "-Dspark.local.dir=%s" % (work / "local"),
           "-Dspark.sql.warehouse.dir=%s" % (work / "warehouse")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", str(manifest_path), str(result_path)]
    env = dict(os.environ, SPARK_GRAFT_CPUS=cores,
               SPARK_LOCAL_DIRS=str(work / "local"))
    env.pop("SPARK_GRAFT_SF_DIR", None)
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.STDOUT, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        raise SystemExit("perfbench: benchmark JVM timed out")
    if proc.returncode != 0 or not result_path.is_file():
        log(out[-6000:])
        raise SystemExit("perfbench: benchmark JVM failed (exit %d)"
                         % proc.returncode)
    return json.loads(result_path.read_text())


# ------------------------------------------------------------------- metrics

def quantile(xs, q):
    """Linear-interpolated quantile of a non-empty list."""
    xs = sorted(xs)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def safe_div(a, b):
    return a / b if b else 0.0


def op_latencies(phase):
    """Per-operation latencies: per micro-batch for streams, else per call."""
    lat = []
    for c in phase["calls"]:
        out = c.get("out")
        if isinstance(out, dict) and "batch_s" in out:
            lat += out["batch_s"]
        else:
            lat.append(c["seconds"])
    return lat


def merge_phases(phases):
    """Several loop phases as one: calls, heap samples and spans appended
    (span ids kept unique), Spark totals, change bytes and workload extras
    summed or appended."""
    out = {"calls": [], "heap_mb": [], "spans": [], "wall_s": 0.0,
           "change_bytes": 0, "spark": {}, "extra": {}}
    for ph in phases:
        off = len(out["spans"])
        out["spans"] += [dict(s, id=s["id"] + off,
                              parent=s["parent"] + off if s["parent"] else 0)
                         for s in ph["spans"]]
        out["calls"] += ph["calls"]
        out["heap_mb"] += ph["heap_mb"]
        out["wall_s"] += ph["wall_s"]
        out["change_bytes"] += ph["change_bytes"]
        for k, v in ph["spark"].items():
            out["spark"][k] = out["spark"].get(k, 0) + v
        for k, v in ph["extra"].items():
            out["extra"][k] = out["extra"].get(k, [] if isinstance(v, list)
                                               else 0) + v
    return out


def phase_summary(phase):
    calls = phase["calls"]
    units = sum(c["units"] for c in calls)
    failed_units = sum(c["units"] for c in calls if not c["ok"])
    busy = sum(c["seconds"] for c in calls)
    lat = op_latencies(phase)
    return {
        "units": units,
        "failed_units": failed_units,
        "ops_per_s": safe_div(units, busy),
        "op_p50_s": quantile(lat, 0.5),
        "op_p90_s": quantile(lat, 0.9),
        "samples": len(lat),
        "failed_frac": safe_div(failed_units, units),
        "write_amp": safe_div(phase["spark"]["written_bytes"],
                              phase["change_bytes"]),
        "retained_heap_mb": max(phase["heap_mb"]),
    }


def layer_metrics(res, untraced, traced, traced_summary):
    spans = traced["spans"]
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for layer in LAYERS:
        mine = [s for s in spans if s["layer"] == layer]
        self_s = 0.0
        for s in mine:
            dur = s["end_s"] - s["start_s"]
            kids = sum(k["end_s"] - k["start_s"]
                       for k in children.get(s["id"], []))
            self_s += max(0.0, dur - kids)
        out[layer + ".calls"] = len(mine)
        out[layer + ".self_s"] = self_s
        for k in ("jobs", "task_s", "shuffle_bytes", "spill_bytes"):
            out[layer + "." + k] = sum(s[k] for s in mine)
        out[layer + ".failed"] = sum(1 for s in mine if s["failed"])
    extra = traced.get("extra", {})
    out["io.jobs_per_load"] = safe_div(out["io.jobs"], out["io.calls"])
    out["exec.jobs_per_stmt"] = safe_div(out["exec.jobs"],
                                         extra.get("statements", 0))
    stmt = extra.get("stmt_s") or [0.0]
    out["exec.stmt_p50_s"] = statistics.median(stmt)
    written = sum(s["written_bytes"] for s in spans
                  if s["layer"] == "pipeline")
    out["pipeline.rewrite_per_changed_byte"] = safe_div(
        written, traced["change_bytes"])
    out["streaming.add_batch_s"] = statistics.median(
        extra.get("add_batch_s") or [0.0])
    out["streaming.wal_commit_s"] = statistics.median(
        extra.get("wal_commit_s") or [0.0])
    batches = sum(len(c["out"]["batch_s"]) for c in traced["calls"]
                  if isinstance(c.get("out"), dict) and "batch_s" in c["out"])
    out["streaming.jobs_per_batch"] = safe_div(out["streaming.jobs"], batches)
    out["streaming.state_bytes"] = max(extra.get("state_bytes") or [0.0])
    sp = traced["spark"]
    for k in ("jobs", "stages", "tasks", "task_s", "gc_s"):
        out["spark." + k] = sp[k]
    out["spark.spill_bytes"] = sp["spill_bytes"]
    out["spark.busy_frac"] = safe_div(sp["task_s"],
                                      traced["wall_s"] * res["cores"])
    base = untraced["ops_per_s"]
    out["tracing.overhead_frac"] = safe_div(base - traced_summary["ops_per_s"],
                                            base)
    out["failed_frac"] = untraced["failed_frac"]
    out["write_amp"] = untraced["write_amp"]
    return out


def load_spec():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def unit_of(spec):
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    units.update({m["name"]: m["unit"] for m in spec["per_layer"]})
    return units


# ---------------------------------------------------------------------- main

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default=None,
                    help="override every input scale (e.g. sf0.001 for the "
                         "smoke test)")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="perturb every expected output (smoke test: the "
                         "checks must then fail calls)")
    args = ap.parse_args(argv)

    spec_file = ROOT / "BENCHMARK.json"
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src").is_dir() \
            or not spec_file.is_file():
        raise SystemExit("perfbench: engine sources not found under %s" % ROOT)
    if not DATA.is_dir():
        raise SystemExit("perfbench: test data not found at %s" % DATA)
    spec = load_spec()
    load_start = loadavg()
    cp = build()

    work = BUILD / ("run-%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        t0 = time.monotonic()
        manifest = inputs.generate(args.workload, args.seed, args.seconds,
                                   args.trace, work, DATA, args.scale)
        mpath = work / "manifest.json"
        mpath.write_text(json.dumps(manifest))
        t1 = time.monotonic()
        res = run_jvm(cp, mpath, work / "result.json", work)
        t2 = time.monotonic()
        checker = checks.Checker(manifest, res, DATA,
                                 corrupt=args.corrupt_expected)
        for phase in res["phases"]:
            for call, ok in zip(phase["calls"], checker.check_phase(phase)):
                call["ok"] = ok
            phase["change_bytes"] = inputs.change_bytes(manifest, phase)
        checker.close()
        log("perfbench: inputs %.1fs, benchmark JVM %.1fs, checks %.1fs"
            % (t1 - t0, t2 - t1, time.monotonic() - t2))
        if args.trace:  # the spans, with every call's output
            shutil.copy(work / "result.json", BUILD / (
                "trace-%s-%d.json" % (args.workload, args.seed)))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    load_end = loadavg()

    untraced_phase = merge_phases(
        [p for p in res["phases"] if not p["traced"]])
    untraced = phase_summary(untraced_phase)
    units = unit_of(spec)
    setup = res["setup_s"]
    e2e = {"setup_s": setup, "ops_per_s": untraced["ops_per_s"],
           "op_p50_s": untraced["op_p50_s"], "op_p90_s": untraced["op_p90_s"],
           "failed_frac": untraced["failed_frac"],
           "write_amp": untraced["write_amp"],
           "retained_heap_mb": untraced["retained_heap_mb"]}
    host = res["host"]
    print("workload %s seed %d: %d ops in %d calls, %d latency samples, "
          "%d failed" % (args.workload, args.seed, untraced["units"],
                         len(untraced_phase["calls"]), untraced["samples"],
                         untraced["failed_units"]))
    print("host load: loadavg %.2f -> %.2f (benchmark JVM %.2f -> %.2f), "
          "co-tenant cores %.2f -> %.2f, CPU stolen by the hypervisor during "
          "the loop %.2f cores" % (
              load_start, load_end, host["loadavg_start"],
              host["loadavg_end"], host["cotenant_cores_start"],
              host["cotenant_cores_end"],
              max(p["steal_cores"] for p in res["phases"])))
    if checker.exact_pairs:
        print("near-dup recall: the MinHash-LSH probe proposed %d of %d "
              "document pairs at exact Jaccard >= 0.8" % (
                  checker.exact_pairs - checker.lsh_missed,
                  checker.exact_pairs))
    for name, value in e2e.items():
        print("metric %s %.6g %s" % (name, value, units.get(name, "")))

    attempted = untraced["units"]
    failed = untraced["failed_units"]
    if args.trace:
        traced_phase = merge_phases([p for p in res["phases"] if p["traced"]])
        traced_summary = phase_summary(traced_phase)
        layers = layer_metrics(res, untraced, traced_phase, traced_summary)
        for name, value in layers.items():
            print("metric %s %.6g %s" % (name, value, units.get(name, "")))
        attempted += traced_summary["units"]
        failed += traced_summary["failed_units"]
        wanted = [m["name"] for m in spec["per_layer"]]
        metrics = {n: {"value": layers[n], "unit": units[n]} for n in wanted}
    else:
        wanted = [m["name"] for m in spec["end_to_end"]]
        metrics = {n: {"value": e2e[n], "unit": units[n]} for n in wanted}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
