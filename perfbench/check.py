"""Oracle check: compare an engine result with DuckDB's answer to the same
question.  Normalisation and comparison are the repository's own oracle
tooling (tools/selfcheck.py): columns sorted by name, timestamps as ISO
strings, bytes as hex, rows sorted by every column, floats equal within 1e-3
(relative and absolute)."""
import glob
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
import selfcheck  # noqa: E402


def read_result(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return pd.DataFrame()
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def connect(data_dir, tables):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"parquet_scan('{os.path.join(data_dir, t + '.parquet')}')")
    return con


def oracle_check(con, result_dir, sql):
    """Mismatches between the engine result under `result_dir` and DuckDB
    running `sql`."""
    engine = read_result(result_dir)
    try:
        oracle = con.sql(sql).df()
    except duckdb.Error as e:
        return [f"oracle error: {str(e)[:200]}"]
    return selfcheck.compare(engine, oracle, "")
