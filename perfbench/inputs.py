"""Seeded input generation for the perfbench workloads.

Every file the engine reads in a run is written here from the seed and the
read-only test corpus; the same seed gives the same inputs. `generate`
returns the manifest the benchmark JVM reads.
"""
import os
import random

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

FIXED_NOW = "1996-06-01 00:00:00"  # the DQ clock of the engine's DQ lanes
SMALL, BIG = "sf0.01", "sf0.1"

# dq_sweep: one cycle of calls (shuffled per cycle from the seed). Each
# distinct table schema costs about 2 s of codegen and JIT in the warm-up,
# so the sweep keeps six sf0.01 tables: the 5-row region, the mid-sized
# customer and orders, the widest (lineitem), and events and documents.
DQ_TABLES = ["region", "customer", "orders", "lineitem", "events",
             "documents"]
EXPORTS = [("events", "event_id")]
PII_TABLES = ["customer", "orders", "documents"]
# sf0.1 lineitem twice per cycle: with 13 calls, op_p90_s then falls on the
# compute-bound profile the sweep is meant to expose, not between call kinds
BIG_CALLS = [("lineitem", 2)]
OBJECTIVES = [
    "Summarize total price by order status",
    "Monthly aggregate of event value per user_id",
    "Join documents with events on source",
    "Count rows per event_type and lang",
]

# ingest_merge: the change-batch target, sf0.01 events with a PII-shaped
# contact column and a CREATED_AT column the generated SCD1 code orders by
TARGET = {
    "table": "events", "key": "event_id", "order": "created_at",
    "measure": "value", "pii_column": "contact", "pii_raw": "^[0-9]{10}$",
}
TARGET_SELECT = ("event_id, ts, user_id, event_type, value, props, "
                 "lpad((user_id * 7 + 5550000000)::VARCHAR, 10, '0') "
                 "AS contact, ts AS created_at")
INGEST_OBJECTIVE = "Build an incremental SCD1 load of events keyed on event_id"
BATCH_ROWS = 40
BATCHES_PER_CYCLE = 2
N_PARTS = 16

# corpus sequences drained through the near-dup stream, one per cycle
STREAM_FILES = 2
STREAM_DOCS_PER_FILE = 30
NEAR_DUP_SHARE = 0.15


def _con():
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET memory_limit = '1GB'")
    return con


def _sampled(key, seed, keep_of_10):
    """SQL predicate keeping a seeded ~keep_of_10/10 of rows by key."""
    return "hash(%s::VARCHAR || '-%d') %% 10 < %d" % (key, seed, keep_of_10)


def dq_sweep(seed, work, data, scale, cycles):
    """`cycles` cycles of calls: each calls every sweep table at sf0.01 and
    the staged export once and sf0.1 lineitem twice, in a seeded order. The
    warm-up makes a cycle without the sf0.1 calls (they share their sf0.01
    twin's schema and plan shapes), so every plan is compiled, and the JIT
    has run it on data of the measured size, before timing."""
    rng = random.Random(seed)
    small, big = scale or SMALL, scale or BIG
    inp = work / "in"
    inp.mkdir(parents=True)
    con = _con()
    exports = {}
    for t, key in EXPORTS:
        p = inp / ("%s_export.parquet" % t)
        con.execute("COPY (SELECT * FROM read_parquet('%s') WHERE %s) TO '%s' "
                    "(FORMAT parquet)" % (data / small / (t + ".parquet"),
                                          _sampled(key, seed, 9), p))
        exports[t] = str(p)
    con.close()

    def call(kind, **kw):
        key = kind + ":" + ":".join(str(kw[k]) for k in sorted(kw))
        return dict(kind=kind, key=key, **kw)

    def cycle(objective, with_big=True):
        c = [call("dq_table", scale=small, table=t) for t in DQ_TABLES]
        if with_big:
            c += [call("dq_table", scale=big, table=t)
                  for t, n in BIG_CALLS for _ in range(n)]
        c += [call("file_dq", path=p, table=t) for t, p in exports.items()]
        c += [call("pii_detect", scale=small, table=t) for t in PII_TABLES]
        c.append(call("objective", objective=objective,
                      paths=sorted(exports.values())))
        rng.shuffle(c)
        return c

    schedule = [cycle(rng.choice(OBJECTIVES)) for _ in range(cycles)]
    return {"calls": [c for cyc in schedule for c in cyc],
            "warmup": cycle(OBJECTIVES[0], with_big=False),
            "steps_per_cycle": len(schedule[0]), "now": FIXED_NOW,
            "oracles": ["dq_file_" + t for t, _ in EXPORTS]}


def ingest_merge(seed, work, data, scale, cycles):
    """A target staged from a seeded 80% of the events rows, and change
    batches applied to it in order: each updates existing keys, inserts
    held-out keys and replays rows of earlier batches (a key at most once
    per batch). Batch 0 and sequence 0 are the warm-up's; each measured
    cycle is the next two batches, then the next corpus sequence, so every
    measured batch holds replays and the target grows through the run."""
    rng = random.Random(seed)
    inp = work / "in"
    inp.mkdir(parents=True)
    con = _con()
    full = con.execute("SELECT %s FROM read_parquet('%s') ORDER BY event_id"
                       % (TARGET_SELECT, data / (scale or SMALL) /
                          "events.parquet")).fetch_arrow_table()
    con.close()
    keep = [rng.random() < 0.8 for _ in range(full.num_rows)]
    base_path = inp / "events_base.parquet"
    pq.write_table(full.filter(pa.array(keep)), base_path)
    base = full.filter(pa.array(keep)).to_pylist()
    held = full.filter(pa.array([not k for k in keep])).to_pylist()
    key, measure = TARGET["key"], TARGET["measure"]

    batches, sent = [], []
    for i in range(1 + BATCHES_PER_CYCLE * cycles):
        rows = []
        for r in rng.sample(base, BATCH_ROWS // 2):  # updates
            r = dict(r)
            r[measure] = round(r[measure] * rng.uniform(0.5, 1.5) + 1, 2)
            r["created_at"] = r["created_at"].replace(year=2030)
            rows.append(r)
        for _ in range(BATCH_ROWS * 3 // 10):  # inserts
            if held:
                rows.append(held.pop(rng.randrange(len(held))))
        rows += rng.sample(sent, min(len(sent), BATCH_ROWS // 5))  # replays
        batch = list({r[key]: r for r in reversed(rows)}.values())
        sent += batch
        path = inp / ("batch_%03d.parquet" % i)
        pq.write_table(pa.Table.from_pylist(batch, schema=full.schema), path)
        batches.append({"id": str(i), "path": str(path),
                        "bytes": os.path.getsize(path)})
    return {"target": dict(TARGET, base=str(base_path),
                           columns=full.column_names),
            "objective": INGEST_OBJECTIVE, "batches": batches,
            "sequences": _sequences(rng, work, data, scale, 1 + cycles),
            "steps_per_cycle": BATCHES_PER_CYCLE + 1,
            "state_partitions": 4, "n_parts": N_PARTS,
            "oracles": ["dedup_incremental_minhash_documents"]}


def _write_sequence(dirpath, files, schema):
    dirpath.mkdir(parents=True)
    t0 = 1_600_000_000
    for j, rows in enumerate(files):
        p = dirpath / ("part-%03d.parquet" % j)
        pq.write_table(pa.Table.from_pylist(rows, schema=schema), p)
        # the file source orders files by modification time
        os.utime(p, (t0 + j * 10, t0 + j * 10))


def _sequences(rng, work, data, scale, count):
    """Corpus sequences: seeded documents of sf0.1 in ordered batch files,
    with near-duplicates (one word edited) of earlier documents."""
    con = _con()
    docs = con.execute("SELECT doc_id, source, text FROM read_parquet('%s') "
                       "ORDER BY doc_id" % (data / (scale or BIG) /
                                            "documents.parquet")).fetchall()
    con.close()
    schema = pa.schema([("doc_id", pa.int64()), ("source", pa.string()),
                        ("text", pa.string())])

    def row(d, s, t):
        return {"doc_id": d, "source": s, "text": t}

    n = STREAM_FILES * STREAM_DOCS_PER_FILE
    sequences = []
    for i in range(count):
        picked = rng.sample(docs, n)
        rows = [row(*d) for d in picked]
        for j in range(int(n * NEAR_DUP_SHARE)):
            d, s, t = picked[rng.randrange(len(picked) // 2)]
            words = t.split()
            if len(words) > 12:
                words[rng.randrange(len(words))] = "edited"
            pos = rng.randrange(len(rows) // 2, len(rows))
            rows.insert(pos, row(10_000_000 + i * 1000 + j, s, " ".join(words)))
        k = len(rows) // STREAM_FILES
        files = [rows[j * k:(j + 1) * k] if j < STREAM_FILES - 1 else
                 rows[j * k:] for j in range(STREAM_FILES)]
        d = work / "in" / ("seq_%03d" % i)
        _write_sequence(d, files, schema)
        sequences.append({"id": str(i), "dir": str(d), "files": len(files),
                          "bytes": sum(p.stat().st_size for p in d.iterdir())})
    return sequences


GENERATORS = {"dq_sweep": dq_sweep, "ingest_merge": ingest_merge}

# Seconds one cycle of each workload's schedule takes on 4 cores at the
# commit that added the benchmark. A run measures a fixed number of cycles,
# round(--seconds / CYCLE_S), at least one: the schedule depends on the
# arguments only, never on how fast the calls run.
CYCLE_S = {"dq_sweep": 18.0, "ingest_merge": 15.0}

def generate(workload, seed, seconds, trace, work, data, scale=None):
    """The manifest of one run. A traced run makes three phases (traced,
    untraced, traced) of the same number of cycles, on successive inputs."""
    cycles = max(1, round(seconds / CYCLE_S[workload]))
    phases = 3 if trace else 1
    m = GENERATORS[workload](seed, work, data, scale, cycles * phases)
    m.update(workload=workload, trace=trace,
             steps_per_phase=cycles * m.pop("steps_per_cycle"),
             data_dir=str(data),
             work_dir=str(work / "out"))
    return m


def change_bytes(manifest, phase):
    """Bytes of input change data the phase's calls consumed."""
    if manifest["workload"] != "ingest_merge":
        return 0
    sizes = {("merge", b["id"]): b["bytes"] for b in manifest["batches"]}
    sizes.update({("neardup", s["id"]): s["bytes"]
                  for s in manifest["sequences"]})
    return sum(sizes.get((c["kind"], c["key"]), 0) for c in phase["calls"])
