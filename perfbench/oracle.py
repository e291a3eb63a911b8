"""Checks query outputs against DuckDB running each query's oracle SQL.

The engine dumps every checked query's result as parquet under
<dir>/<query>/ and the oracle SQL under <dir>/oracle_sql.json. Each
oracle runs in DuckDB over the same input tables, and the two answers
must agree exactly: columns sorted by name, same dtypes, same rows in
the same order. This is the comparison the repository's local
verification tool makes. A query with no oracle SQL gets a rows-only
check (its output must exist).
"""
import json
import sys
import time
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def check(inputs, dump, queries):
    """Returns {query: reason} for every query whose output is wrong."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{inputs}/{t}.parquet')")
    oracle = json.loads((Path(dump) / "oracle_sql.json").read_text())
    bad = {}
    for q in queries:
        out = Path(dump) / q
        parts = sorted(out.glob("*.parquet")) if out.exists() else []
        if not parts:
            bad[q] = "no output"
            continue
        if q not in oracle:
            continue
        t0 = time.time()
        try:
            got = pa.concat_tables([pq.read_table(p) for p in parts]).to_pandas()
            exp = con.sql(oracle[q]).fetchdf()
        except Exception as e:  # a failing oracle is a failed check
            bad[q] = f"{type(e).__name__}: {e}"
            continue
        ok, why = compare(got[sorted(got.columns)], exp[sorted(exp.columns)])
        if not ok:
            bad[q] = why
        print(f"[perfbench] oracle {q}: {'ok' if ok else 'WRONG'} "
              f"({len(got)} rows, {time.time() - t0:.2f} s)", file=sys.stderr)
    con.close()
    return bad


def compare(got, exp):
    for df in (got, exp):
        for c in df.columns:
            if str(df[c].dtype).startswith("datetime64"):
                df[c] = df[c].astype("datetime64[ns]")
    if list(got.columns) != list(exp.columns):
        return False, f"columns {list(got.columns)} != {list(exp.columns)}"
    if len(got) != len(exp):
        return False, f"row count {len(got)} != {len(exp)}"
    gs, es = [str(t) for t in got.dtypes], [str(t) for t in exp.dtypes]
    if gs != es:
        return False, f"dtypes {gs} != {es}"
    g, e = got.reset_index(drop=True), exp.reset_index(drop=True)
    if g.equals(e):
        return True, ""
    key = [str(r) for r in g.itertuples(index=False)]
    key2 = [str(r) for r in e.itertuples(index=False)]
    if sorted(key) == sorted(key2):
        return False, "values match but row order differs"
    diffs = [i for i, (a, b) in enumerate(zip(key, key2)) if a != b][:2]
    return False, f"value mismatch at rows {[(i, key[i], key2[i]) for i in diffs]}"
