"""Output check for the benchmark, run outside the timed window.

The harness dumps to parquet the result of each query's cold call (the
one that builds its artifacts) and of one warm call per (query, data
version), the path the timed requests take. Each dump is digested with
the repository's canonical rules (`tools/check.py`: columns sorted by
name, rows sorted, floats at full precision) and compared with the
digest of `SparkEntry.oracleSql` run in DuckDB over the same version of
the source files.
"""
import hashlib
import os
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))
from check import TABLES, canon  # noqa: E402  (the repository's canonical rules)


def digest(df):
    """SHA-256 over the canonical rows of a pandas DataFrame: independent
    of row and column order."""
    h = hashlib.sha256()
    for row in canon(df):
        h.update(repr(row).encode())
        h.update(b"\n")
    return h.hexdigest()


def parse_version(key):
    """'documents=0,embeddings=2' -> {'documents': 0, 'embeddings': 2}"""
    out = {}
    for part in filter(None, key.split(",")):
        t, v = part.split("=")
        out[t] = int(v)
    return out


class Oracle:
    """DuckDB over one data version of the corpus at a time."""

    def __init__(self, files):
        self.files = files  # (table, version) -> parquet path; version 0 = base
        self.con = duckdb.connect()
        self.con.execute("SET threads=2")
        self.con.execute("SET memory_limit='1GB'")
        self.cache = {}

    def digest(self, sql, version):
        key = (sql, tuple(sorted(version.items())))
        if key not in self.cache:
            for t in TABLES:
                path = self.files[(t, version.get(t, 0))]
                self.con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{path}'")
            self.cache[key] = digest(self.con.sql(sql).df())
        return self.cache[key]


def check(dumps, oracle_sql, files):
    """Verdict per (query, version key, pass): ok, error, stale. The pass
    is "cold" or "warm".

    A wrong result on a refreshed version counts as stale when it equals
    the oracle's answer on the version that table had before."""
    oracle = Oracle(files)
    verdicts = {}
    for d in dumps:
        q, key = d["query"], d["version"]
        v = {"ok": False, "stale": False}
        verdicts[(q, key, d["pass"])] = v
        if not d.get("ok"):
            v["error"] = "query failed: " + d.get("error", "")
            continue
        if q not in oracle_sql:
            v["error"] = "no oracle SQL"
            continue
        try:
            got = digest(oracle.con.sql(f"SELECT * FROM '{d['dir']}/*.parquet'").df())
            version = parse_version(key)
            want = oracle.digest(oracle_sql[q], version)
        except Exception as e:  # an oracle or read failure is a failed check
            v["error"] = f"{type(e).__name__}: {e}"[:300]
            continue
        v["ok"] = got == want
        if not v["ok"]:
            v["error"] = "result differs from the oracle"
            for t, n in version.items():
                if n > 0 and got == oracle.digest(oracle_sql[q], {**version, t: n - 1}):
                    v["stale"] = True
    return verdicts
