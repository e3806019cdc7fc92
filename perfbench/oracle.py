#!/usr/bin/env python3
"""DuckDB oracle check of the query deck's results.

Usage: python3 perfbench/oracle.py <results-dir> <oracle_sql.json> <data-dir>

Each <results-dir>/<query>/ parquet result is checked against its oracle
SQL, run in DuckDB over the same input tables, with the `compare` of
tools/check_oracle.py: same column set, same row count, then every cell of
the rows sorted on all columns — floats exactly (NaN equals NaN),
everything else by its string form.
"""
import json
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check_oracle import TABLES, compare  # noqa: E402


def check(results, oracle_file, data):
    """Yield (query, ok, message) for every query of oracle_file."""
    with open(oracle_file) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    for q, sql in sorted(oracle.items()):
        t0 = time.time()
        try:
            got = con.sql(f"SELECT * FROM '{os.path.join(results, q)}/*.parquet'").df()
            exp = con.sql(sql).df()
            ok, msg = compare(got, exp)
        except Exception as e:  # a missing result or a failing oracle is a wrong answer
            ok, msg = False, str(e)
        sys.stderr.write(f"oracle: {q} {time.time() - t0:.2f} s\n")
        yield q, ok, msg


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    bad = 0
    for q, ok, msg in check(*sys.argv[1:]):
        print(f"{'PASS' if ok else 'FAIL'}  {q} {msg}")
        bad += not ok
    sys.exit(1 if bad else 0)
