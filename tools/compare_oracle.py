#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/compare_oracle.py <sfDir> <verifyOutDir>

For each query dumped by graft.Verify (parquet in <verifyOutDir>/<name>/),
runs the matching oracle SQL from oracle_sql.json in DuckDB with views over
<sfDir>/*.parquet, canonicalizes both results (columns sorted by name, rows
sorted), and reports row/schema/value equality.
"""
import json
import math
import sys
from pathlib import Path

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(df):
    cols = sorted(df.columns)
    df = df[cols]
    # Driver-hash parity: the driver's hasher is repr-sensitive (r7 verdict:
    # DuckDB HUGEINT -> pandas float64 `5.0` vs Spark int64 `5` fails its
    # gate even though `5 == 5.0`), so carry each column's dtype KIND into
    # the comparison rather than only the ==-lax python values. Widths are
    # normalized (int32 `5` and int64 `5` repr identically — q_sql_multijoin
    # passed the driver's r7 gate with exactly that skew) but int-vs-float
    # stays a hard FAIL.
    def kind(dt):
        s = str(dt)
        if s.startswith(("int", "uint", "Int", "UInt")):
            return "int"
        if s.startswith(("float", "Float")):
            return "float"
        return s
    dtypes = [kind(df[c].dtype) for c in cols]
    # round-trip to sortable python values
    rows = []
    for t in df.itertuples(index=False):
        row = []
        for v in t:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                row.append(None)
            elif hasattr(v, "isoformat"):
                row.append(v.isoformat())
            elif isinstance(v, float):
                row.append(round(v, 9))
            elif isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
                row.append(tuple(v))
            else:
                row.append(v)
        rows.append(tuple(row))
    return cols, dtypes, sorted(rows, key=lambda r: tuple((x is None, str(x)) for x in r))


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    # relative paths in the oracle SQL (q_pipeline_parity's fixtures/fan/)
    # name files in the checkout that holds this script
    con.execute(f"SET file_search_path = '{Path(__file__).resolve().parent.parent}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.loads(Path(out_dir, "oracle_sql.json").read_text())

    results = {}
    for qdir in sorted(Path(out_dir).iterdir()):
        if not qdir.is_dir():
            continue
        name = qdir.name
        got = con.execute(f"SELECT * FROM read_parquet('{qdir}/*.parquet')").df()
        if name not in oracle:
            results[name] = f"rows-only: {len(got)} rows " + ("OK" if len(got) > 0 else "EMPTY!")
            continue
        try:
            exp = con.execute(oracle[name]).df()
        except Exception as e:
            results[name] = f"ORACLE SQL ERROR: {e}"
            continue
        gc, gt, gr = canon(got)
        ec, et, er = canon(exp)
        if gc != ec:
            results[name] = f"SCHEMA MISMATCH spark={gc} duckdb={ec}"
        elif gt != et:
            bad = [(c, a, b) for c, a, b in zip(gc, gt, et) if a != b]
            results[name] = f"DTYPE MISMATCH (spark, duckdb): {bad}"
        elif len(gr) != len(er):
            results[name] = f"ROWCOUNT MISMATCH spark={len(gr)} duckdb={len(er)}"
        elif gr != er:
            diffs = [(a, b) for a, b in zip(gr, er) if a != b][:3]
            results[name] = f"VALUE MISMATCH ({sum(1 for a, b in zip(gr, er) if a != b)} rows) e.g. {diffs}"
        else:
            results[name] = f"MATCH ({len(gr)} rows)"

    # Cross-check against the declared manifest: a query that threw in
    # Verify (missing or partial dump) must FAIL, not silently vanish
    # (ADVICE r01). Applied last so it overrides any partial-dump PASS.
    manifest_p = Path(out_dir, "queries.json")
    declared = set(json.loads(manifest_p.read_text())) if manifest_p.exists() else set()
    failures_p = Path(out_dir, "_failures.json")
    failures = json.loads(failures_p.read_text()) if failures_p.exists() else {}
    for name in sorted(declared - set(results)):
        results[name] = f"MISSING DUMP: {failures.get(name, 'query not dumped by Verify')}"
    for name, msg in failures.items():
        results[name] = f"VERIFY FAILURE: {msg}"

    width = max(len(k) for k in results)
    n_bad = 0
    for k in sorted(results):
        ok = results[k].startswith("MATCH") or results[k].startswith("rows-only") and "EMPTY" not in results[k]
        if not ok:
            n_bad += 1
        print(f"{'PASS' if ok else 'FAIL'}  {k:<{width}}  {results[k][:300]}")
    print(f"\n{len(results) - n_bad}/{len(results)} pass")
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
