"""DuckDB oracle results for the benchmark's correctness check.

A query's expected result (column names, Arrow types, canonical rows
under the rules of ``tests/test_oracle_parity.py``) is cached as JSON
under ``.perfbench_run/oracle/``, keyed by the SQL text, the DuckDB
version, the input directory and each input table's size and mtime: the
inputs are read-only, and some oracles take half a minute at sf0.1.

The benchmark fills missing entries in a child process,

    python3 perfbench/oracles.py --sf-dir DIR QUERY...

so DuckDB's memory never counts in the run's peak resident memory.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import threading
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CACHE = ROOT / ".perfbench_run" / "oracle"


def cache_path(parity, sf_dir: str, sql: str) -> Path:
    import duckdb

    tables = []
    for t in parity.TABLES:
        path = Path(sf_dir, f"{t}.parquet")
        if path.exists():
            st = path.stat()
            tables.append([t, st.st_size, st.st_mtime_ns])
    key = hashlib.sha256(
        json.dumps([sql, duckdb.__version__, os.path.abspath(sf_dir), tables]).encode()
    ).hexdigest()[:24]
    return CACHE / f"{key}.json"


def load(parity, sf_dir: str, sql: str) -> dict | None:
    path = cache_path(parity, sf_dir, sql)
    return json.loads(path.read_text()) if path.exists() else None


def compute(parity, duck, sf_dir: str, sql: str) -> None:
    """Run one oracle on a cursor of ``duck`` and cache its result."""
    cur = duck.cursor()
    try:
        body = sql.strip().rstrip(";")
        arrow = cur.execute(f"SELECT * FROM ({body}) AS q LIMIT 0").arrow()
        res = cur.execute(sql)
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
    finally:
        cur.close()
    result = {
        "cols": cols,
        "arrow": {f.name: str(f.type) for f in arrow.schema},
        "rows": [list(r) for r in parity.rows_canon(cols, rows)],
    }
    path = cache_path(parity, sf_dir, sql)
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(f".tmp{os.getpid()}-{threading.get_ident()}")
    tmp.write_text(json.dumps(result))
    tmp.replace(path)


def compare(parity, cols, dtypes, rows, expected: dict) -> str | None:
    """None when a Spark result matches its oracle's, else why not."""
    if sorted(cols) != sorted(expected["cols"]):
        return f"columns differ: spark={sorted(cols)} duck={sorted(expected['cols'])}"
    arrow = expected["arrow"]
    type_bad = [(c, t, arrow[c]) for c, t in dtypes if not parity.arrow_ok(t, arrow[c], strict=False)]
    if type_bad:
        return f"hash-incompatible result types: {type_bad}"
    if len(rows) != len(expected["rows"]):
        return f"row count differs: spark={len(rows)} duck={len(expected['rows'])}"
    got = parity.rows_canon(cols, rows)
    bad = [(a, tuple(b)) for a, b in zip(got, expected["rows"]) if a != tuple(b)]
    if bad:
        return f"{len(bad)} rows differ, first: {bad[0]}"
    return None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="fill the benchmark's oracle cache")
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args(argv)
    sys.path[:0] = [str(ROOT), str(ROOT / "tests")]
    import test_oracle_parity as parity
    from air_quality_etl_pipeline_spark.workload import QUERIES

    duck = parity.duck_con(args.sf_dir)
    try:
        with ThreadPoolExecutor(len(os.sched_getaffinity(0))) as pool:
            futures = [
                pool.submit(compute, parity, duck, args.sf_dir, QUERIES[q][1])
                for q in args.queries
            ]
            for fut in futures:
                fut.result()
    finally:
        duck.close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
