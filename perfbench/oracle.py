"""Compare collected catalog query results with DuckDB running each
query's oracle SQL over the same input directory.

The CC rewrite and row ordering come from `tools/local_verify.py`; the
comparison is the same: equal column-name sets, equal row counts, and equal
rows after sorting columns by name and rows by value. A query without
oracle SQL is compared on row count only (it must return rows).

The seed only reorders and re-splits the input rows, so an oracle result
depends on the rows and the SQL alone. Results are cached under
`cache_dir`, keyed by a digest of both.
"""

import hashlib
import json
import os
import pickle
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))
from local_verify import rewrite_cc, rows_key  # noqa: E402


def _oracle(con, sql, rows_digest, cache_dir):
    """(columns, rows) of `sql` in DuckDB, from the cache when present."""
    key = hashlib.sha256((rows_digest + "\0" + sql).encode()).hexdigest()[:32]
    path = os.path.join(cache_dir, key + ".pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    sql, _ = rewrite_cc(con, sql)
    rel = con.execute(sql)
    result = ([d[0] for d in rel.description], rel.fetchall())
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(result, f)
    os.replace(path + ".tmp", path)
    return result


def compare(corpus_json, rows_digest, cache_dir):
    """Check every collected result in `corpus_json` (written by the
    benchmark JVM) against its query's oracle. Returns {result key: None if
    it matches, else the reason}. `rows_digest` identifies the input rows
    (whatever their order and file split)."""
    with open(corpus_json) as f:
        dump = json.load(f)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar=false")
    con.execute("SET threads=4")
    for table in ("documents", "embeddings"):
        files = os.path.join(dump["input_dir"], f"{table}.parquet", "*.parquet")
        con.execute(f"CREATE VIEW {table} AS FROM read_parquet('{files}')")
    oracles = dump["oracle_sql"]
    result = {}
    for key, got in sorted(dump["results"].items()):
        name = key.rsplit(".", 1)[0]
        spark_cols = got["columns"]
        spark_rows = [tuple(r) for r in got["rows"]]
        if name not in oracles:
            result[key] = None if spark_rows else "no rows"
            continue
        try:
            duck_cols, duck_rows = _oracle(con, oracles[name], rows_digest, cache_dir)
        except Exception as e:  # an oracle error is a failed check
            result[key] = f"oracle SQL error: {e}"
            continue
        if sorted(spark_cols) != sorted(duck_cols):
            result[key] = f"schema {sorted(spark_cols)} vs {sorted(duck_cols)}"
            continue
        sp_idx = [spark_cols.index(c) for c in sorted(spark_cols)]
        du_idx = [duck_cols.index(c) for c in sorted(duck_cols)]
        sp = sorted((tuple(r[i] for i in sp_idx) for r in spark_rows), key=rows_key)
        du = sorted((tuple(r[i] for i in du_idx) for r in duck_rows), key=rows_key)
        if len(sp) != len(du):
            result[key] = f"rowcount {len(sp)} vs {len(du)}"
        elif sp != du:
            diff = next((a, b) for a, b in zip(sp, du) if a != b)
            result[key] = f"first diff {diff}"
        else:
            result[key] = None
    con.close()
    return result
