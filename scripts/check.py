#!/usr/bin/env python3
"""Correctness gate over a Verify dump: for every query named
in Verify's oracle_sql.json or gates.json, load its output parquet, run
the oracle SQL in DuckDB over the same sf dir, sort columns by name +
rows, and compare values. A missing or empty output is a FAIL; exit 1 on
any FAIL."""
import json, math, sys
from pathlib import Path

import duckdb
import pandas as pd

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = Path(sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out")

con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

oracle = json.loads((OUT / "oracle_sql.json").read_text())
gates = json.loads((OUT / "gates.json").read_text())
passed, failed, rows_only = [], [], []

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df

for name in sorted(oracle.keys() | gates.keys()):
    parts = sorted((OUT / name).glob("*.parquet"))
    if not parts:
        failed.append((name, "no spark output"))
        continue
    spark_df = pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True)
    if name not in oracle:
        if spark_df.empty:
            failed.append((name, "rows-only output is empty"))
        else:
            rows_only.append((name, len(spark_df)))
        continue
    try:
        duck_df = con.sql(oracle[name]).df()
    except Exception as e:
        failed.append((name, f"oracle error: {e}"))
        continue
    a, b = canon(spark_df), canon(duck_df)
    if list(a.columns) != list(b.columns):
        failed.append((name, f"schema: spark={list(a.columns)} duck={list(b.columns)}"))
        continue
    if len(a) != len(b):
        failed.append((name, f"rows: spark={len(a)} duck={len(b)}"))
        continue
    ok = True
    for c in a.columns:
        av, bv = a[c], b[c]
        # Dtype-strict: the driver hashes typed values, so int64-vs-float64
        # (e.g. DuckDB sum(BIGINT) -> HUGEINT -> float64) must FAIL here even
        # when every value compares equal (r3/r4 text_repetition/corpus_mix).
        kinds = {av.dtype.kind, bv.dtype.kind}
        if kinds & {"i", "u"} and "f" in kinds:
            failed.append((name, f"col {c} dtype mismatch: spark={av.dtype} duck={bv.dtype}"))
            ok = False
            break
        try:
            if av.dtype.kind == "f" or bv.dtype.kind == "f":
                close = ((av.isna() & bv.isna()) |
                         (av.astype(float) == bv.astype(float))).all()
            else:
                close = (av.astype(str).fillna("\0") == bv.astype(str).fillna("\0")).all()
        except Exception as e:
            failed.append((name, f"col {c} compare error: {e}")); ok = False; break
        if not close:
            bad = (~((av.isna() & bv.isna()) | (av.astype(str) == bv.astype(str)))).idxmax()
            failed.append((name, f"col {c} mismatch @row{bad}: spark={av[bad]!r} duck={bv[bad]!r}"))
            ok = False
            break
    if ok and not any(f[0] == name for f in failed):
        passed.append(name)

print(f"PASS {len(passed)}: {' '.join(passed)}")
print(f"ROWS-ONLY {len(rows_only)}: {' '.join(n for n, _ in rows_only)}")
print(f"FAIL {len(failed)}:")
for n, why in failed:
    print(f"  {n}: {why}")
sys.exit(1 if failed else 0)
