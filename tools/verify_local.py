#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate.

Usage: python3 tools/verify_local.py [sfdir] [outdir] [--skip-spark]

1. Runs `sbt "runMain graft.Verify <sfdir> <outdir>"` (unless --skip-spark)
   to dump every SparkEntry.queries result to parquet + oracle_sql.json.
2. Registers each test table as a DuckDB view, runs every oracle SQL, and
   compares against the Spark parquet dump: columns sorted by name, exact
   value equality (strict, like a hash compare), both in row order and
   order-insensitively.

Exit code 0 iff every query with an oracle matches exactly.
"""
import json
import subprocess
import sys
from pathlib import Path

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sfdir = args[0] if len(args) > 0 else "/root/testdata/sf0.01"
    outdir = args[1] if len(args) > 1 else "/tmp/graft_verify"
    only = next((a.split("=", 1)[1] for a in sys.argv[1:]
                 if a.startswith("--only=")), None)
    if "--skip-spark" not in sys.argv:
        cmd = f'runMain graft.Verify {sfdir} {outdir}'
        if only:
            cmd += f' {only}'
        r = subprocess.run(
            ["sbt", "-batch", cmd],
            cwd="/root/repo", capture_output=True, text=True)
        sys.stdout.write("\n".join(
            l for l in r.stdout.splitlines()
            if "[error]" in l or "failed" in l.lower()) + "\n")
        if r.returncode != 0:
            print(r.stdout[-4000:]); print(r.stderr[-2000:])
            sys.exit(2)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")

    oracle = json.loads(Path(f"{outdir}/oracle_sql.json").read_text())
    n_ok = n_bad = 0
    failures = []
    for name in sorted(oracle):
        spark_dir = Path(outdir) / name
        if not spark_dir.exists():
            print(f"FAIL {name}: spark output missing")
            n_bad += 1; failures.append(name); continue
        try:
            # Read the Spark side via pyarrow->pandas like the driver does:
            # decimals arrive as python Decimal objects and arrays as
            # numpy.ndarray cells, while the DuckDB oracle side becomes
            # float64/object — reading both through DuckDB would mask
            # exactly the dtype asymmetries that fail the driver's hash.
            import pyarrow.parquet as _pq
            parts = sorted(spark_dir.glob("*.parquet"))
            import pyarrow as _pa
            got = _pa.concat_tables(
                [_pq.read_table(p) for p in parts]).to_pandas()
            exp = con.sql(oracle[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: {e}")
            n_bad += 1; failures.append(name); continue
        got = got[sorted(got.columns)]
        exp = exp[sorted(exp.columns)]
        status, detail = compare(got, exp)
        if status:
            n_ok += 1
            print(f"ok   {name}  ({len(got)} rows)")
        else:
            n_bad += 1; failures.append(name)
            print(f"FAIL {name}: {detail}")
    print(f"\n{n_ok} ok, {n_bad} failed" +
          (f": {failures}" if failures else ""))
    sys.exit(0 if n_bad == 0 else 1)


def compare(got, exp):
    # normalize timestamp resolution: pyarrow->pandas yields datetime64[ns]
    # while duckdb fetchdf yields datetime64[us]; the driver compares
    # values, not pandas dtype resolution
    for df in (got, exp):
        for c in df.columns:
            if str(df[c].dtype).startswith("datetime64"):
                df[c] = df[c].astype("datetime64[ns]")
    if list(got.columns) != list(exp.columns):
        return False, f"columns {list(got.columns)} != {list(exp.columns)}"
    if len(got) != len(exp):
        return False, f"row count {len(got)} != {len(exp)}"
    gs = [str(g) for g in got.dtypes]
    es = [str(e) for e in exp.dtypes]
    if gs != es:
        return False, f"dtypes {gs} != {es}"
    g = got.reset_index(drop=True)
    e = exp.reset_index(drop=True)
    in_order = g.equals(e)
    if in_order:
        return True, ""
    # order-insensitive check for diagnostics
    key = [str(r) for r in g.itertuples(index=False)]
    key2 = [str(r) for r in e.itertuples(index=False)]
    if sorted(key) == sorted(key2):
        return False, "values match but ROW ORDER differs"
    diffs = [i for i, (a, b) in enumerate(zip(key, key2)) if a != b][:3]
    samples = [(i, key[i], key2[i]) for i in diffs]
    return False, f"value mismatch at rows {samples}"


if __name__ == "__main__":
    main()
