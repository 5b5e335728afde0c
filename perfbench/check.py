"""Output checks run after the timed region.

* ``check_queries`` compares each query's dumped result with its DuckDB
  oracle (``SparkEntry.oracleSql``), canonicalized the way
  ``tools/compare_oracle.py`` does. Expected results are cached per
  (scale factor, input digest, query, SQL digest).
* ``check_fan`` compares the pipeline's JSONL output with the facts the
  generator wrote beside its inputs.
"""
import hashlib
import json
import sys
from pathlib import Path

import duckdb

import gen

TOOLS = Path(__file__).resolve().parent.parent / "tools"


def _digest(cols, dtypes, rows):
    return hashlib.sha256(repr((cols, dtypes, rows)).encode()).hexdigest()


def check_queries(tables_dir, check_dir, oracle_sql, queries, cache_dir, data_key):
    """Return {query: None if the result matches, else a reason}."""
    sys.path.insert(0, str(TOOLS))
    from compare_oracle import TABLES, canon
    cache_dir = Path(cache_dir)
    cache_dir.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')")
    verdicts = {}
    for q in queries:
        sql = oracle_sql.get(q)
        dump = Path(check_dir, q)
        if sql is None:
            verdicts[q] = "no oracle SQL"
            continue
        if not any(dump.glob("*.parquet")):
            verdicts[q] = "no result dumped"
            continue
        key = hashlib.sha256(f"{data_key}|{q}|{sql}".encode()).hexdigest()[:32]
        cached = cache_dir / f"{q}-{key}.json"
        if cached.exists():
            exp = json.loads(cached.read_text())
        else:
            try:
                ec, et, er = canon(con.execute(sql).df())
            except Exception as e:  # the oracle itself failed
                verdicts[q] = f"oracle SQL error: {e}"[:300]
                continue
            exp = {"cols": ec, "dtypes": et, "rows": len(er), "digest": _digest(ec, et, er)}
            cached.write_text(json.dumps(exp))
        gc, gt, gr = canon(con.execute(f"SELECT * FROM read_parquet('{dump}/*.parquet')").df())
        if gc != exp["cols"]:
            verdicts[q] = f"schema mismatch: spark={gc} duckdb={exp['cols']}"
        elif gt != exp["dtypes"]:
            verdicts[q] = f"dtype mismatch: spark={gt} duckdb={exp['dtypes']}"
        elif len(gr) != exp["rows"]:
            verdicts[q] = f"row count mismatch: spark={len(gr)} duckdb={exp['rows']}"
        elif _digest(gc, gt, gr) != exp["digest"]:
            verdicts[q] = "value mismatch"
        else:
            verdicts[q] = None
    con.close()
    return verdicts


def check_fan(fan_dir, jsonl_path, ops):
    """Return None if the pipeline's output matches the input facts, else a
    reason. ``ops`` are the run's operations, each with the line and byte
    count of the output it wrote."""
    facts = json.loads(Path(fan_dir, "facts.json").read_text())
    sizes = {(o["out_lines"], o["out_bytes"]) for o in ops}
    if len(sizes) != 1:
        return f"outputs differ between runs: {sorted(sizes)}"
    got = gen.output_facts(jsonl_path)
    bad = [k for k, v in got.items() if facts[k] != v]
    if bad:
        return "facts differ: " + ", ".join(f"{k} expected {facts[k]} got {got[k]}" for k in bad)[:300]
    if next(iter(sizes))[0] != facts["output_rows"]:
        return f"line count {next(iter(sizes))[0]} != {facts['output_rows']}"
    return None
