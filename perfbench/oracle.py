#!/usr/bin/env python3
"""Run oracle SQL files in DuckDB over a `documents` parquet table.

Usage: python3 perfbench/oracle.py <documents_dir> <oracle_dir>

Every <name>.sql in <oracle_dir> is executed with a `documents` view over
<documents_dir>/*.parquet; its result is written to <name>.parquet next to
it. The benchmark compares those results with the engine's output.
"""
import sys
from pathlib import Path

import duckdb


def main():
    docs, oracle_dir = sys.argv[1], Path(sys.argv[2])
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{oracle_dir / 'tmp'}'")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}/*.parquet')")
    for sql_file in sorted(oracle_dir.glob("*.sql")):
        out = sql_file.with_suffix(".parquet")
        sql = sql_file.read_text().strip().rstrip(";")
        con.execute(f"COPY ({sql}) TO '{out}' (FORMAT PARQUET)")


if __name__ == "__main__":
    main()
