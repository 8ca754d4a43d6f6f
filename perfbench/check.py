"""Result checks against DuckDB, outside the timed region.

Canonicalization is the repository's oracle check (dev/oracle_check.py):
columns sorted by name, rows sorted, floats by their exact shortest repr,
everything else by str(); result column types must match too. Oracle
answers are cached per corpus, since DuckDB is not the program under test.
"""
import hashlib
import json
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            vals.append(repr(v) if isinstance(v, float) else str(v))
        out.append("\x01".join(vals))
    return sorted(out)


def digest(lines):
    return hashlib.sha1("\x02".join(lines).encode()).hexdigest()


class Oracle:
    """DuckDB over the corpus, with answers cached in `cache_path`."""

    def __init__(self, corpus_dir, cache_path):
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{corpus_dir}/{t}.parquet'")
        self.cache_path = cache_path
        self.cache = {}
        if os.path.exists(cache_path):
            with open(cache_path) as f:
                self.cache = json.load(f)
        self.dirty = False
        self.preludes = {}
        self.created = set()

    def answer(self, sql):
        """(schema, row digest, row count) of the oracle SQL. The cache key
        covers the text of every prelude the SQL reads, so a changed
        prelude is never answered from the cache."""
        used = sorted(name for name in self.preludes if name in sql)
        key = hashlib.sha1("\x00".join([self.preludes[n] for n in used] + [sql])
                           .encode()).hexdigest()
        if key not in self.cache:
            for name in used:
                if name not in self.created:
                    self.con.execute(self.preludes[name])
                    self.created.add(name)
            rel = self.con.sql(sql)
            rows = rel.fetchall()
            self.cache[key] = {
                "schema": sorted([c, str(t)] for c, t in zip(rel.columns, rel.types)),
                "cols": list(rel.columns),
                "digest": digest(canon(rows, rel.columns)),
                "rows": len(rows),
            }
            self.dirty = True
        return self.cache[key]

    def save(self):
        if self.dirty:
            os.makedirs(os.path.dirname(self.cache_path), exist_ok=True)
            tmp = f"{self.cache_path}.{os.getpid()}.tmp"
            with open(tmp, "w") as f:
                json.dump(self.cache, f)
            os.replace(tmp, self.cache_path)


def check_parquet(oracle, chk, fail):
    """Spark results dumped as parquet with an `__op` column: each
    operation's rows against the oracle of its statement."""
    rel = oracle.con.sql(f"SELECT * FROM '{chk['parquet']}/*.parquet'")
    cols = [c for c in rel.columns if c != "__op"]
    schema = sorted([c, str(t)] for c, t in zip(rel.columns, rel.types) if c != "__op")
    op_idx = rel.columns.index("__op")
    keep = [i for i, c in enumerate(rel.columns) if c != "__op"]
    by_op = {}
    for r in rel.fetchall():
        by_op.setdefault(str(r[op_idx]), []).append(tuple(r[i] for i in keep))
    for op, sql in chk["ops"].items():
        try:
            exp = oracle.answer(sql)
        except Exception as e:  # an oracle that cannot run is a failed check
            fail(op, chk["name"], f"oracle error: {type(e).__name__}: {e}")
            continue
        got = by_op.get(op, [])
        if got and schema != exp["schema"]:
            fail(op, chk["name"], f"schema mismatch: spark={schema} duckdb={exp['schema']}")
        elif digest(canon(got, cols)) != exp["digest"]:
            fail(op, chk["name"],
                 f"value mismatch: {len(got)} rows, oracle {exp['rows']} rows")


def check_http(oracle, chk, fail):
    """Server read responses (JSON arrays of objects) against the oracle
    of each statement text; health responses must be the fixed body."""
    with open(chk["jsonl"]) as f:
        for line in f:
            if not line.strip():
                continue
            d = json.loads(line)
            op, kind = str(d["op"]), d["kind"]
            if kind == "health":
                if json.loads(d["body"]) != {"status": "ok"}:
                    fail(op, kind, f"unexpected health body {d['body'][:200]}")
                continue
            try:
                exp = oracle.answer(d["oracle"])
            except Exception as e:
                fail(op, kind, f"oracle error: {type(e).__name__}: {e}")
                continue
            rows = json.loads(d["body"])
            cols = list(rows[0].keys()) if rows else exp["cols"]
            if rows and sorted(cols) != sorted(exp["cols"]):
                fail(op, kind, f"columns {sorted(cols)} != oracle {sorted(exp['cols'])}")
                continue
            got = [tuple(r[c] for c in cols) for r in rows]
            if digest(canon(got, cols)) != exp["digest"]:
                fail(op, kind, f"value mismatch: {len(got)} rows, oracle {exp['rows']} rows")


def run_checks(result, corpus_dir, cache_path):
    """Check every dumped result; returns {op: (kind, cause)} mismatches."""
    failed = {}

    def fail(op, kind, cause):
        failed.setdefault(str(op), (kind, cause))

    oracle = Oracle(corpus_dir, cache_path)
    try:
        for chk in result["checks"]:
            oracle.preludes.update(chk.get("preludes", {}))
            if chk["kind"] == "oracle":
                check_parquet(oracle, chk, fail)
            elif chk["kind"] == "http":
                check_http(oracle, chk, fail)
    finally:
        oracle.save()
    return failed
