#!/usr/bin/env python3
"""Local pre-verification mirroring the driver's correctness gate.

Reads each parquet result written by `graft.Verify`, runs the matching
oracle SQL from oracle_sql.json in DuckDB over the same sf dir, and
compares: row count, schema (column names), and canonicalized values
(columns sorted by name, rows sorted, floats/decimals rounded).

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

SPARK_GRAFT_ONLY=q_a,q_b restricts the check to the listed queries, the
same filter `graft.Verify` applies when it writes the results.
"""
import json
import os
import sys
from pathlib import Path

import duckdb
import pandas as pd


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Exact string canonicalization, mirroring the driver's hash: columns
    sorted by name, every cell rendered with str() (so Decimal('96.20') and
    float 96.2 DIFFER — no float coercion, no tolerance), rows sorted.
    A local PASS here implies a driver hash_match."""
    df = df.reindex(sorted(df.columns), axis=1)
    out = {}
    for c in df.columns:
        s = df[c]
        # v is pd.NA covers pandas nullable dtypes (Int64/boolean/string),
        # where missing cells are pd.NA rather than float NaN or None.
        out[c] = s.map(lambda v: "NULL" if v is None or v is pd.NA or (isinstance(v, float) and pd.isna(v)) or v is pd.NaT else str(v))
    r = pd.DataFrame(out)
    return r.sort_values(by=list(r.columns)).reset_index(drop=True)


def main(sf_dir: str, out_dir: str) -> int:
    out = Path(out_dir)
    oracle = json.loads((out / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for name in ["region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings"]:
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'")

    only = {n.strip() for n in os.environ.get("SPARK_GRAFT_ONLY", "").split(",") if n.strip()}
    if only:
        oracle = {k: v for k, v in oracle.items() if k in only}

    n_pass = n_fail = 0
    results = sorted(p.name for p in out.iterdir() if p.is_dir() and (not only or p.name in only))
    for name in results:
        got = pd.read_parquet(out / name)
        if name not in oracle:
            status = f"rows-only ({len(got)} rows)"
            ok = len(got) > 0
        else:
            try:
                want = con.sql(oracle[name]).df()
            except Exception as e:
                print(f"FAIL {name}: oracle SQL error: {e}")
                n_fail += 1
                continue
            cg, cw = canon(got), canon(want)
            if list(cg.columns) != list(cw.columns):
                status, ok = f"SCHEMA mismatch: spark={list(cg.columns)} duck={list(cw.columns)}", False
            elif len(cg) != len(cw):
                status, ok = f"ROWCOUNT mismatch: spark={len(cg)} duck={len(cw)}", False
            else:
                if cg.equals(cw):
                    status, ok = f"match ({len(cg)} rows)", True
                else:
                    status, ok = "VALUE mismatch (exact string compare)", False
                    merged = cg.compare(cw) if cg.shape == cw.shape else None
                    if merged is not None and not merged.empty:
                        status += f" | first diffs:\n{merged.head(5)}"
        if ok:
            n_pass += 1
            print(f"PASS {name}: {status}")
        else:
            n_fail += 1
            print(f"FAIL {name}: {status}")
    missing = sorted(set(oracle) - set(results))
    for name in missing:
        print(f"FAIL {name}: declared oracle but no result written")
        n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
