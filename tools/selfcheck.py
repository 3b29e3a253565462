#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run graft.Verify at a
given sf, then execute each oracle SQL in DuckDB over the same parquet
tables and compare (columns sorted by name, rows sorted, values compared
exactly with a tiny float tolerance fallback so we can see WHERE a
mismatch comes from before the driver does).

Usage: python3 tools/selfcheck.py [sfdir] [outdir] [--no-verify]
"""
import json, math, subprocess, sys
from pathlib import Path

import duckdb
import pyarrow.parquet as pq

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

if "--no-verify" not in sys.argv:
    r = subprocess.run(
        ["sbt", f'runMain graft.Verify {SF} {OUT}'],
        cwd=Path(__file__).resolve().parent.parent,
        capture_output=True, text=True, timeout=1800)
    errs = [l for l in r.stdout.splitlines() if "[verify]" in l or "error]" in l]
    print("\n".join(errs[-20:]))

con = duckdb.connect()
for t in TABLES:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

oracle = json.loads(Path(f"{OUT}/oracle_sql.json").read_text())

def norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        out.append(tuple(row[i] for i in order))
    return sorted(cols), sorted(out, key=lambda r: tuple(str(x) for x in r))

def type_cat(t):
    """Canonical type category for the spark-vs-duckdb schema guard.
    Calibrated against driver rounds: any int width hashes alike (int32
    vs BIGINT was hash-green in r04), but HUGEINT — what DuckDB returns
    for sum(BIGINT) — and DECIMAL hash DIFFERENTLY from int64 even when
    values are equal (the q57 r04 failure: Python's 1 == Decimal(1)
    masked it locally). Keep them as their own categories."""
    t = str(t).lower()
    if t.startswith("decimal"):
        return t  # exact precision/scale must agree
    if t == "hugeint":
        return "hugeint"
    if t in ("int8", "int16", "int32", "int64", "uint8", "uint16",
             "uint32", "uint64", "tinyint", "smallint", "integer", "bigint"):
        return "int"
    if t in ("float", "double", "real", "halffloat"):
        return "float"
    if t in ("string", "large_string", "varchar"):
        return "str"
    if t in ("bool", "boolean"):
        return "bool"
    return t


def close(a, b):
    if a == b:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    return False

fails = 0
for name in sorted(json.loads(Path(f"{OUT}/oracle_sql.json").read_text())):
    sql = oracle[name]
    spark_dir = Path(OUT) / name
    if not spark_dir.exists():
        print(f"FAIL {name}: no spark output"); fails += 1; continue
    tbl = pq.read_table(spark_dir)
    scols = tbl.column_names
    srows = [tuple(d[c] for c in scols) for d in tbl.to_pylist()]
    try:
        res = con.sql(sql)
        dcols, drows = res.columns, res.fetchall()
    except Exception as e:
        print(f"FAIL {name}: duckdb error {e}"); fails += 1; continue
    sc, sr = norm(srows, scols)
    dc, dr = norm(drows, dcols)
    if sc != dc:
        print(f"FAIL {name}: columns spark={sc} duck={dc}"); fails += 1; continue
    stypes = {f.name: f.type for f in tbl.schema}
    tbad = [(c, stypes[c], t) for c, t in zip(res.columns, res.types)
            if type_cat(stypes[c]) != type_cat(t)]
    if tbad:
        c, st, dt = tbad[0]
        print(f"FAIL {name}: type mismatch on '{c}': spark={st} duck={dt} "
              f"(values may compare equal here but the driver hash encodes "
              f"the type — CAST the oracle column)")
        fails += 1
        continue
    if len(sr) != len(dr):
        print(f"FAIL {name}: rows spark={len(sr)} duck={len(dr)}"); fails += 1; continue
    bad = exact_bad = 0
    first = None
    for a, b in zip(sr, dr):
        if a != b:
            exact_bad += 1
            if not all(close(x, y) for x, y in zip(a, b)):
                bad += 1
                if first is None:
                    first = (a, b)
    if bad:
        print(f"FAIL {name}: {bad}/{len(sr)} rows differ; first {first}")
        fails += 1
    elif exact_bad:
        print(f"WARN {name}: {exact_bad} rows equal only within tolerance (hash may mismatch!)")
    else:
        print(f"OK   {name}: {len(sr)} rows")

# queries without oracle: just check output exists and has rows
have = set(oracle)
for d in sorted(Path(OUT).iterdir()):
    if d.is_dir() and d.name not in have:
        n = pq.read_table(d).num_rows
        print(f"ROWS {d.name}: {n} rows (no oracle)")
sys.exit(1 if fails else 0)
