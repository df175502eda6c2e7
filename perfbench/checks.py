"""Correctness checks, run outside the timed passes.

Suite operations are compared with their DuckDB oracle through the
repository's own harness (``tests/oracle_harness.py``). The gold table is
compared with an independent DuckDB latest-wins merge of the base facts
and the seeded batches; dashboards with the same SQL run by DuckDB over
the written gold files.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from tests.oracle_harness import canonical_rows, run_oracle

GOLD_COLUMNS = "o_orderkey, n_name, order_date, day_qty, version, order_month"


def same_rows(got: pd.DataFrame, want: pd.DataFrame, name: str) -> None:
    """Column names and the order-insensitive canonical rows must agree."""
    if sorted(got.columns) != sorted(want.columns):
        raise AssertionError(
            f"{name}: columns {sorted(got.columns)} != {sorted(want.columns)}"
        )
    g, w = canonical_rows(got), canonical_rows(want)
    if len(g) != len(w):
        raise AssertionError(f"{name}: {len(g)} rows, oracle {len(w)}")
    if g != w:
        diffs = [(a, b) for a, b in zip(g, w) if a != b][:3]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")


def gold_frame(gold_path: str, sql: str) -> pd.DataFrame:
    """Run ``sql`` in DuckDB over the gold files, exposed as ``gold``."""
    con = duckdb.connect()
    try:
        con.sql(
            "CREATE VIEW gold AS SELECT * REPLACE "
            "(CAST(order_month AS INTEGER) AS order_month) FROM read_parquet("
            f"'{gold_path}/*/*.parquet', hive_partitioning = true)"
        )
        return con.sql(sql).df()
    finally:
        con.close()


def _base_sql(oracle_sql: str) -> str:
    return (
        f"SELECT o_orderkey, n_name, order_date, day_qty, "
        f"CAST(0 AS INTEGER) AS version, "
        f"CAST(replace(substr(order_date, 1, 7), '-', '') AS INTEGER) "
        f"AS order_month FROM ({oracle_sql})"
    )


def base_facts(oracle_sql: str, data_dir: str) -> pd.DataFrame:
    """The gold rows before any refresh, computed by DuckDB."""
    return run_oracle(_base_sql(oracle_sql), data_dir)


def expected_gold(oracle_sql: str, data_dir: str, batch_paths: list[str]) -> pd.DataFrame:
    """Latest-wins merge: per key the highest version, ties to the row
    applied first (the base, then batch 1, 2, ...)."""
    parts = [f"SELECT *, 0 AS prec FROM ({_base_sql(oracle_sql)})"]
    parts += [
        f"SELECT {GOLD_COLUMNS}, {i} AS prec FROM read_parquet('{p}')"
        for i, p in enumerate(batch_paths, 1)
    ]
    sql = (
        f"SELECT {GOLD_COLUMNS} FROM ({' UNION ALL '.join(parts)}) "
        "QUALIFY row_number() OVER (PARTITION BY o_orderkey "
        "ORDER BY version DESC, prec) = 1"
    )
    return run_oracle(sql, data_dir)


def check_gold(oracle_sql: str, data_dir: str, gold_path: str, batch_paths: list[str]) -> None:
    same_rows(
        gold_frame(gold_path, f"SELECT {GOLD_COLUMNS} FROM gold"),
        expected_gold(oracle_sql, data_dir, batch_paths),
        "gold table after refresh",
    )
