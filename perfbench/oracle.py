"""Correctness checks of the benchmark's query results.

Every oracle-backed query is compared against its DuckDB oracle with the
suite's own normaliser (``tests/oracle_compare.py``). The oracle-less
``events_dau_wau_mau_hll`` is checked against the exact distinct counts
of its oracle-backed twin, within the HLL error bound its registry entry
documents.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd

from flink_demo_spark.catalog import TABLES
from flink_demo_spark.plans import REGISTRY
from tests.oracle_compare import diff_report, normalize

# lgConfigK=12 -> relative standard error 1.04 / sqrt(2^12); the
# registry pins |hll - exact| <= 5 * rsd per day and per metric
HLL_RSD = 1.04 / math.sqrt(2**12)
HLL_EXACT_TWIN = {"events_dau_wau_mau_hll": "events_dau_wau_mau"}


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def mismatch(name: str, got: pd.DataFrame, con: duckdb.DuckDBPyConnection) -> str | None:
    """None when ``got`` is correct for query ``name``, else why not."""
    if name in HLL_EXACT_TWIN:
        return _hll_mismatch(got, con.execute(REGISTRY[HLL_EXACT_TWIN[name]].oracle).df())
    sql = REGISTRY[name].oracle
    if sql is None:
        return f"{name}: no oracle and no exact twin to check against"
    spark_rows = normalize(got)
    oracle_rows = normalize(con.execute(sql).df())
    if spark_rows == oracle_rows:
        return None
    return (
        f"{name}: {len(spark_rows)} rows vs oracle {len(oracle_rows)}\n"
        + diff_report(spark_rows, oracle_rows)
    )


def _hll_mismatch(got: pd.DataFrame, exact: pd.DataFrame) -> str | None:
    def by_day(df: pd.DataFrame) -> dict:
        return {
            pd.Timestamp(r.day): (r.dau, r.wau, r.mau) for r in df.itertuples()
        }

    approx, want = by_day(got), by_day(exact)
    if set(approx) != set(want):
        return f"hll days differ: {sorted(set(approx) ^ set(want))[:5]}"
    for day, ex in want.items():
        for metric, e, a in zip(("dau", "wau", "mau"), ex, approx[day]):
            if e <= 0 or abs(a - e) / e > 5 * HLL_RSD:
                return f"hll {metric} on {day}: {a} vs exact {e}"
    return None
