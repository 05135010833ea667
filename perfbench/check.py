"""Correctness check of each job against its DuckDB oracle.

Runs once per benchmark run, outside the timed passes, on the DataFrames the
last pass materialized.  Jobs with an oracle in ``ORACLES`` are compared with
the type-sensitive canonical hash of ``tests/oracle_utils.py``.  Every job in
a workload needs an oracle; one without fails the check.
"""

from __future__ import annotations

import os

import duckdb

from perfbench.workloads import Workload


def oracle_connection(data_dir: str, work_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB with the test suite's view per input table, spilling inside
    ``work_dir``."""
    from tests.conftest import register_views

    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute("SET memory_limit='1GB'")
    con.execute(f"SET temp_directory='{os.path.join(work_dir, 'duckdb')}'")
    register_views(con, data_dir)
    return con


def verify(workload: Workload, results: dict, data_dir: str, work_dir: str) -> dict[str, str]:
    """Check each job's DataFrame; return ``{job: reason}`` for every failure."""
    from projectmapreduce_spark.queries import ORACLES
    from tests.oracle_utils import compare

    failures: dict[str, str] = {}
    con = oracle_connection(data_dir, work_dir)
    try:
        for job in workload.jobs:
            df = results.get(job)
            if df is None:
                failures[job] = "no result to check"
                continue
            try:
                if job not in ORACLES:
                    failures[job] = "no DuckDB oracle to check it against"
                    continue
                compare(df, ORACLES[job], con)
            except Exception as e:  # one job's mismatch must not hide the others
                failures[job] = f"{type(e).__name__}: {str(e)[:500]}"
    finally:
        con.close()
    return failures
