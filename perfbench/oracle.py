"""Output check against the engine's DuckDB oracle.

Each checked query's result parquet is compared with its
``SparkEntry.oracleSql`` statement run in DuckDB over the same input
tables. Both sides are canonicalized as ``tools/check_oracle.py`` does
(columns by name, rows sorted, cells tagged with their native type at
full precision), and the canonical forms are hashed and compared.
"""
import hashlib
import os
import sys

import duckdb

# the canonical form is the repository's own oracle check's, shared so
# that the two cannot drift apart
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
from check_oracle import canon_cell, canon_type  # noqa: E402

TABLES = ["orders", "documents", "embeddings"]


def digest(rel):
    """Hash of a relation's canonical form: sorted column names with
    their type classes, then the sorted canonical rows."""
    cols = list(rel.columns)
    types = [canon_type(t) for t in rel.types]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(tuple(canon_cell(r[i]) for i in order) for r in rel.fetchall())
    h = hashlib.sha256()
    h.update(repr([(cols[i], types[i]) for i in order]).encode())
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest(), len(rows)


def check(records, input_dir):
    """Maps each checked query to whether its output matches the oracle
    (queries without an oracle must return rows)."""
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(input_dir, f"{t}.parquet")
        if os.path.exists(p):
            src = f"{p}/*.parquet" if os.path.isdir(p) else p
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    ok = {}
    for r in records:
        name = r["name"]
        if not r.get("ok"):
            ok[name] = False
            continue
        got = con.sql(f"SELECT * FROM '{r['path']}/*.parquet'")
        if r.get("oracle"):
            try:
                ok[name] = digest(got) == digest(con.sql(r["oracle"]))
            except duckdb.Error as e:
                r["error"] = f"oracle: {e}"
                ok[name] = False
        else:
            ok[name] = got.aggregate("count(*)").fetchone()[0] > 0
        if not ok[name] and "error" not in r:
            r["error"] = "output differs from the oracle"
    return ok
