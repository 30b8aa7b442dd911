#!/usr/bin/env python3
"""Per-layer diff of two perfbench trace files.

Usage: python3 tools/layer_diff.py A.json B.json

A and B are trace files written by a traced perfbench run
(`python3 perfbench/run.py --workload <w> --seed <s> --trace 1` leaves
`.bench_build/trace-<w>-<s>.json`). The spans of the traced phases are
merged, as perfbench merges them for its per-layer metrics, and for each
layer the script prints jobs, stages, tasks, shuffle bytes and self time
(a span's duration minus its child spans') in A, in B and B - A; then
the Spark totals of the traced phases; then the mean jobs per span name.
A row marked `*` moved: one of its counts differs between A and B.
Self times are wall-clock and move between runs of the same code; the
counts do not, so only the counts mark a row.
"""
import json
import sys

COUNTS = ("jobs", "stages", "tasks", "shuffle_bytes")


def traced_spans(path):
    """The traced phases' spans (ids made unique) and Spark totals."""
    with open(path) as f:
        res = json.load(f)
    spans, spark = [], {}
    for ph in res["phases"]:
        if not ph["traced"]:
            continue
        off = len(spans)
        spans += [dict(s, id=s["id"] + off,
                       parent=s["parent"] + off if s["parent"] else 0)
                  for s in ph["spans"]]
        for k, v in ph["spark"].items():
            spark[k] = spark.get(k, 0) + v
    return spans, spark


def per_layer(spans):
    kids = {}
    for s in spans:
        kids[s["parent"]] = kids.get(s["parent"], 0.0) + (
            s["end_s"] - s["start_s"])
    out = {}
    for s in spans:
        row = out.setdefault(s["layer"], dict.fromkeys(COUNTS + ("self_s",),
                                                       0))
        for k in COUNTS:
            row[k] += s[k]
        row["self_s"] += max(0.0, s["end_s"] - s["start_s"]
                             - kids.get(s["id"], 0.0))
    return out


def per_name(spans):
    out = {}
    for s in spans:
        n, jobs = out.get((s["layer"], s["name"]), (0, 0))
        out[(s["layer"], s["name"])] = (n + 1, jobs + s["jobs"])
    return out


def fmt(v):
    return "%.3f" % v if isinstance(v, float) else str(v)


def table(header, rows):
    widths = [max(len(r[i]) for r in [header] + rows)
              for i in range(len(header))]
    for r in [header] + rows:
        print("  ".join(c.rjust(w) if i else c.ljust(w)
                        for i, (c, w) in enumerate(zip(r, widths))))


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__.strip().splitlines()[2])
    (sa, ka), (sb, kb) = traced_spans(argv[1]), traced_spans(argv[2])
    la, lb = per_layer(sa), per_layer(sb)
    zero = dict.fromkeys(COUNTS + ("self_s",), 0)
    rows = []
    for layer in sorted(set(la) | set(lb)):
        a, b = la.get(layer, zero), lb.get(layer, zero)
        moved = any(a[k] != b[k] for k in COUNTS)
        row = [("* " if moved else "  ") + layer]
        for k in COUNTS + ("self_s",):
            row += [fmt(a[k]), fmt(b[k]), fmt(b[k] - a[k])]
        rows.append(row)
    cols = [c + s for c in COUNTS + ("self_s",) for s in ("", " B", " d")]
    print("per layer (A, B, B-A), traced phases")
    table(["layer"] + cols, rows)

    print("\nSpark totals (A, B, B-A), traced phases")
    table(["counter", "A", "B", "B-A"],
          [[k, fmt(ka.get(k, 0)), fmt(kb.get(k, 0)),
            fmt(kb.get(k, 0) - ka.get(k, 0))]
           for k in sorted(set(ka) | set(kb))])

    na, nb = per_name(sa), per_name(sb)
    rows = []
    for key in sorted(set(na) | set(nb)):
        (ca, ja), (cb, jb) = na.get(key, (0, 0)), nb.get(key, (0, 0))
        ma = ja / ca if ca else 0.0
        mb = jb / cb if cb else 0.0
        rows.append([("* " if (ca, ja) != (cb, jb) else "  ") + key[0],
                     key[1], str(ca), str(cb), "%.2f" % ma, "%.2f" % mb,
                     "%+.2f" % (mb - ma)])
    print("\nmean jobs per span name")
    table(["layer", "span", "calls", "calls B", "jobs/call", "B", "d"],
          rows)


if __name__ == "__main__":
    main(sys.argv)
