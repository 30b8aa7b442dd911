"""Independent checks of every call's output.

Each call's output (written by the benchmark JVM after the call's clock
stopped)
is compared with a computation that does not run through the engine:

- `dq_table`: DuckDB evaluates the five DQ pillars over the same table;
- `file_dq`: DuckDB runs the engine repository's own oracle SQL for the
  file DQ report over the same staged export;
- `pii_detect`: DuckDB applies the PII patterns to the same sampled rows;
- `objective`, `ingest`, `script`, `merge`, `mask`, `glossary`: Python
  recomputes the expected result from the generated inputs (the target is
  simulated batch by batch with SCD1 semantics; the merge's touched
  partitions are the batch keys' Spark xxhash64 buckets);
- `neardup`: the engine repository's own DuckDB oracle SQL for the
  batch-vs-corpus MinHash-LSH probe (`dedup_incremental_minhash_documents`,
  the batch operator the stream must equal), run for every later file of
  the sequence with the earlier files as the corpus. Exact Jaccard over
  every later-vs-earlier document pair is computed beside it and the pairs
  the specified LSH does not propose are counted (a recall figure, not a
  failed call).

A call that raised, or whose output differs, is a failed call.
"""
import math
import os
import re

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

NUMERIC = ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "FLOAT",
           "DOUBLE", "DECIMAL", "UTINYINT", "USMALLINT", "UINTEGER",
           "UBIGINT")
NUMERIC_KEYWORDS = ("SUM", "AVG", "COUNT", "AMOUNT", "PRICE", "QUANTITY",
                    "TOTAL")
CORRUPT = "__corrupted_expected__"
NEARDUP_ORACLE = "dedup_incremental_minhash_documents"
# the oracle's corpus / batch split by doc_id, replaced by the sequence's
# file order
ORACLE_SPLIT = {"doc_id % 10 < 8": "doc_id IN (SELECT doc_id FROM corpus)",
                "doc_id % 10 >= 8": "doc_id IN (SELECT doc_id FROM batch)"}
# the engine's type names for the parquet types of the change batches
ENGINE_TYPES = {"int64": "NUMBER", "double": "FLOAT", "string": "VARCHAR",
                "timestamp[us]": "TIMESTAMP"}


def _close(a, b):
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def _norm(v):
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, (int, float)):
        return float(v)
    try:
        return float(v)  # Decimal
    except (TypeError, ValueError):
        return str(v)


def frames_equal(got, want):
    """Compare {"columns", "rows"} frames: columns by name, rows as a bag."""
    if got is None or sorted(got["columns"]) != sorted(want["columns"]):
        return False
    if len(got["rows"]) != len(want["rows"]):
        return False
    order_g = sorted(range(len(got["columns"])), key=lambda i: got["columns"][i])
    order_w = sorted(range(len(want["columns"])),
                     key=lambda i: want["columns"][i])

    def canon(rows, order):
        out = [[_norm(r[i]) for i in order] for r in rows]
        return sorted(out, key=lambda r: [(x is None, str(x)) for x in r])
    for rg, rw in zip(canon(got["rows"], order_g), canon(want["rows"], order_w)):
        if not all(_close(a, b) for a, b in zip(rg, rw)):
            return False
    return True


_M64 = (1 << 64) - 1
_P1, _P2, _P3, _P4, _P5 = (0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F,
                           0x165667B19E3779F9, 0x85EBCA77C2B2AE63,
                           0x27D4EB2F165667C5)


def _rotl(x, r):
    return ((x << r) | (x >> (64 - r))) & _M64


def spark_xxhash64_long(v, seed=42):
    """Spark's `xxhash64` of one bigint column (XXH64.hashLong)."""
    h = (seed + _P5 + 8) & _M64
    h ^= _rotl((v & _M64) * _P2 & _M64, 31) * _P1 & _M64
    h = (_rotl(h, 27) * _P1 + _P4) & _M64
    h ^= h >> 33
    h = h * _P2 & _M64
    h ^= h >> 29
    h = h * _P3 & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def _shingle_sets(table):
    return [(r["doc_id"], _shingles(r["text"])) for r in table.to_pylist()]


def _shingles(text):
    toks = text.strip().split() if text and text.strip() else []
    if not toks:
        return frozenset()
    if len(toks) <= 3:
        return frozenset([" ".join(toks)])
    return frozenset(" ".join(toks[i:i + 3]) for i in range(len(toks) - 2))


class Checker:
    def __init__(self, manifest, result, data, corrupt=False):
        self.m = manifest
        self.res = result
        self.data = data
        self.corrupt = corrupt
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.execute("SET memory_limit = '1GB'")
        self.cache = {}
        self.state = None  # ingest_merge: the simulated target
        # near-dup recall: exact pairs (Jaccard >= 0.8), and those the
        # operator's specified LSH banding does not propose
        self.exact_pairs = self.lsh_missed = 0

    def close(self):
        self.con.close()

    # ------------------------------------------------------------ helpers
    def _frame(self, sql):
        cur = self.con.execute(sql)
        cols = [d[0] for d in cur.description]
        return {"columns": cols, "rows": [list(r) for r in cur.fetchall()]}

    def _view(self, name, path):
        self.con.execute("CREATE OR REPLACE VIEW %s AS SELECT * FROM "
                         "read_parquet('%s')" % (name, path))

    def _columns(self, path):
        return [(r[0], r[1]) for r in self.con.execute(
            "DESCRIBE SELECT * FROM read_parquet('%s')" % path).fetchall()]

    def _expected(self, key, fn):
        if key not in self.cache:
            self.cache[key] = fn()
        want = self.cache[key]
        if self.corrupt:  # a deliberately wrong expectation
            if isinstance(want, dict) and "rows" in want:
                want = dict(want, rows=want["rows"] + [[CORRUPT] * len(
                    want["columns"])])
            elif isinstance(want, dict):
                want = dict(want, **{CORRUPT: True})
            else:
                want = list(want) + [CORRUPT]
        return want

    # ---------------------------------------------------------- dq_sweep
    def _dq_table(self, scale, table):
        path = self.data / scale / (table + ".parquet")
        parts = []
        now = self.m["now"]
        for name, typ in self._columns(path):
            q = '"%s"' % name
            num = typ.split("(")[0] in NUMERIC
            comp = ("1 - (COUNT(*) - COUNT(%s))::DOUBLE / GREATEST(COUNT(*), 1)"
                    % q)
            uniq = "COUNT(DISTINCT %s)::DOUBLE / GREATEST(COUNT(*), 1)" % q
            valid = ("CASE WHEN COALESCE(AVG(%s), 0) >= 0 THEN 1.0 ELSE 0.5 "
                     "END" % q) if num else "1.0"
            acc = ("1 - (CASE WHEN COUNT(*) > 0 THEN SUM(CASE WHEN %s > "
                   "TIMESTAMP '%s' THEN 1 ELSE 0 END)::DOUBLE / COUNT(*) ELSE "
                   "0 END)" % (q, now)) if typ.startswith("TIMESTAMP") else "1.0"
            parts.append(
                "SELECT '%s' AS column_name, ROUND(%s, 3) AS completeness, "
                "ROUND(%s, 3) AS uniqueness, ROUND(%s, 3)::DOUBLE AS validity, "
                "ROUND(%s, 3)::DOUBLE AS accuracy, 1.0::DOUBLE AS consistency, "
                "ROUND(((%s) + (%s) + (%s) + (%s) + 1.0) / 5, 3) AS "
                "column_score FROM read_parquet('%s')"
                % (name, comp, uniq, valid, acc, comp, uniq, valid, acc, path))
        return self._frame(" UNION ALL ".join(parts))

    def _file_dq(self, table, path):
        sql = self.res["oracles"]["dq_file_" + table]
        self._view(table, path)
        return self._frame(sql)

    def _pii_detect(self, scale, table):
        path = self.data / scale / (table + ".parquet")
        pats = self.res["pii_patterns"]
        out = {}
        for name, typ in self._columns(path):
            if typ != "VARCHAR":
                continue
            case = " ".join("WHEN regexp_matches(\"%s\", '%s') THEN %d"
                            % (name, p.replace("'", "''"), i)
                            for i, (_, p) in enumerate(pats))
            found = self.con.execute(
                "SELECT DISTINCT CASE %s END AS t FROM (SELECT * FROM "
                "read_parquet('%s') LIMIT 1000) WHERE t IS NOT NULL"
                % (case, path)).fetchall()
            idx = sorted(r[0] for r in found)
            if idx:
                out[name] = ", ".join(pats[i][0] for i in idx)
        return out

    def _objective(self, objective, paths):
        up = objective.upper()
        kept = []
        for p in paths:
            cols = [c.upper() for c, _ in self._columns(p)]
            if any(c in up or any(k in c for k in NUMERIC_KEYWORDS)
                   for c in cols):
                kept.append(p.split("/")[-1])
        return sorted(kept)

    def _check_dq_sweep(self, calls):
        by_key = {c["key"]: c for c in self.m["calls"]}
        verdicts = []
        for call in calls:
            spec = by_key[call["key"]]
            kind, got = spec["kind"], call["out"]
            if call["error"] is not None:
                verdicts.append(False)
                continue
            if kind == "dq_table":
                want = self._expected(call["key"], lambda: self._dq_table(
                    spec["scale"], spec["table"]))
                verdicts.append(frames_equal(got, want))
            elif kind == "file_dq":
                want = self._expected(call["key"], lambda: self._file_dq(
                    spec["table"], spec["path"]))
                verdicts.append(frames_equal(got, want))
            elif kind == "pii_detect":
                want = self._expected(call["key"], lambda: self._pii_detect(
                    spec["scale"], spec["table"]))
                verdicts.append(got == want)
            else:
                want = self._expected(call["key"], lambda: self._objective(
                    spec["objective"], spec["paths"]))
                verdicts.append(got == want)
        return verdicts

    # ------------------------------------------------------ ingest_merge
    def _pii_lineage(self, rows, cols):
        """The lineage string Pii.apply writes, from the patterns applied
        to every row: the first matching type per value, per column."""
        pats = [(n, re.compile(p)) for n, p in self.res["pii_patterns"]]
        found = {}
        for c in cols:
            types = set()
            for v in (r[c] for r in rows):
                if not isinstance(v, str):
                    continue
                types |= {next((i for i, (_, p) in enumerate(pats)
                                if p.search(v)), None)}
            types.discard(None)
            if types:
                found[c] = ", ".join(pats[i][0] for i in sorted(types))
        return ["{" + ", ".join("'%s': '%s'" % kv
                                for kv in sorted(found.items())) + "}"] \
            if found else []

    def _fingerprint(self, rows):
        target = self.m["target"]
        cents = sum(round(r[target["measure"]] * 100) for r in rows.values())
        return {"rows": len(rows), "keys": len(rows), "key_sum": sum(rows),
                "measure_sum": "%d.%02d" % divmod(cents, 100)}

    def _check_ingest_merge(self, calls):
        batches = {b["id"]: b for b in self.m["batches"]}
        seqs = {s["id"]: s for s in self.m["sequences"]}
        target = self.m["target"]
        key, cols = target["key"], target["columns"]
        if self.state is None:  # the staged base, plus the warm-up's batch
            self.state = {r[key]: r for r in
                          pq.read_table(target["base"]).to_pylist()}
            self._apply(self.m["batches"][0])
        verdicts = []
        for call in calls:
            kind, got = call["kind"], call["out"]
            if kind == "neardup":
                verdicts.append(self._check_neardup(call, seqs[call["key"]]))
                continue
            b = batches[call["key"]]
            rows = pq.read_table(b["path"]).to_pylist()
            if kind == "merge":
                self._apply(b)
            if call["error"] is not None:
                verdicts.append(False)
                continue
            if kind == "ingest":
                up = self.m["objective"].upper()
                keep = any(c.upper() in up or any(
                    k in c.upper() for k in NUMERIC_KEYWORDS) for c in cols)
                want = {"status": "SUCCESS", "task_type": "scd1_pipeline",
                        "columns": cols,
                        "kept": [b["path"].split("/")[-1]] if keep else []}
            elif kind == "script":  # 2 loads + generated SCD1 pair + count
                merged = dict(self.state)
                merged.update((r[key], r) for r in rows)
                want = dict(self._fingerprint(merged), status="COMPLETED",
                            statements=5, succeeded=5, failed=0)
            elif kind == "merge":
                want = dict(self._fingerprint(self.state), touched=sorted(
                    {spark_xxhash64_long(r[key]) % self.m["n_parts"]
                     for r in rows}))
            elif kind == "mask":
                want = {"rows": len(self.state), "unmasked": 0,
                        "lineage": self._pii_lineage(self.state.values(),
                                                     cols)}
            else:  # glossary: one defined entry per column of the target
                want = {"columns": ["TABLE_NAME", "COLUMN_NAME", "DATA_TYPE",
                                    "defined"],
                        "rows": sorted([target["table"].upper(), f.name,
                                        ENGINE_TYPES.get(str(f.type)), True]
                                       for f in pq.read_schema(b["path"]))}
                got = dict(got, rows=sorted(got["rows"]))
            if self.corrupt:
                want = dict(want, **{CORRUPT: True})
            verdicts.append(got == want)
        return verdicts

    def _apply(self, batch):
        """SCD1 upsert of a change batch into the simulated target: each
        batch row replaces the target row of its key (a key is at most once
        in a batch)."""
        key = self.m["target"]["key"]
        for r in pq.read_table(batch["path"]).to_pylist():
            self.state[r[key]] = r

    # ------------------------------------------------------- corpus arm
    def _neardup(self, seq):
        """The near-dup stream's specified matches, from the repository's
        oracle SQL, and the exact pairs it leaves out."""
        sql = self.res["oracles"][NEARDUP_ORACLE]
        for old, new in ORACLE_SPLIT.items():
            if sql.count(old) != 1:
                raise ValueError("oracle %s no longer splits on %r"
                                 % (NEARDUP_ORACLE, old))
            sql = sql.replace(old, new)
        files = [pq.read_table("%s/%s" % (seq["dir"], f))
                 for f in sorted(os.listdir(seq["dir"]))]
        rows, missed, exact = [], 0, 0
        for i in range(1, len(files)):
            corpus = pa.concat_tables(files[:i]).select(["doc_id", "text"])
            batch = files[i].select(["doc_id", "text"])
            self.con.register("corpus", corpus)
            self.con.register("batch", batch)
            self.con.register("documents", pa.concat_tables([corpus, batch]))
            found = self._frame(sql)["rows"]
            rows += found
            proposed = {(q, c) for q, c, _ in found}
            earlier = _shingle_sets(corpus)
            for qid, qs in _shingle_sets(batch):
                for cid, cs in earlier:
                    inter = len(qs & cs)
                    if inter and inter / max(len(qs | cs), 1) >= 0.8:
                        exact += 1
                        missed += (qid, cid) not in proposed
        self.exact_pairs += exact
        self.lsh_missed += missed
        return {"columns": ["batch_id", "dup_of", "jaccard"], "rows": rows}

    def _check_neardup(self, call, seq):
        got = call["out"]
        if call["error"] is not None or got["batches"] != seq["files"]:
            return False
        want = self._expected("nd:" + seq["id"], lambda: self._neardup(seq))
        return frames_equal(got["matches"], want)

    def check_phase(self, phase):
        """Verdicts for one phase's calls; phases are checked in order."""
        w = self.m["workload"]
        return {"dq_sweep": self._check_dq_sweep,
                "ingest_merge": self._check_ingest_merge}[w](phase["calls"])
