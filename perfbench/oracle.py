"""Correctness gate against the DuckDB oracle.

The harness writes each checked Spark result as
`<work>/oracle/<query>/` (parquet) next to `<query>.sql`, the oracle SQL
the program ships for that query (`TsOracle`, `LlmOracle`).  This module
runs the SQL with DuckDB over the same generated tables and compares
the two results with the repo's own comparator (`tools/check.py`): same
columns, same row count, equal values as sets of rows.
"""
import sys
from pathlib import Path

import duckdb
import pandas as pd

# the repo's oracle comparator (tools/check.py), the one its own
# correctness gate runs
sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
from check import compare  # noqa: E402

TABLES = ("events", "documents")


def check(oracle_dir, table_dir):
    """Compare every result in `oracle_dir`; return (checked, errors)."""
    oracle_dir, table_dir = Path(oracle_dir), Path(table_dir)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        if (table_dir / f"{t}.parquet").exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_dir / t}.parquet'")
    errors, checked = [], 0
    for sql_file in sorted(oracle_dir.glob("*.sql")):
        name = sql_file.stem
        checked += 1
        try:
            spark_df = pd.read_parquet(oracle_dir / name)
            duck_df = con.execute(sql_file.read_text()).df()
            err = compare(name, spark_df, duck_df)
        except Exception as e:  # a failing query is a failed check
            err = f"{type(e).__name__}: {e}"
        if err:
            errors.append(f"oracle {name}: {err}")
    con.close()
    return checked, errors
