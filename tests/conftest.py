from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

# this checkout's package, wherever the checkout lives
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from glasseenterprise_mcp_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
# the driver-gate scale; override to sweep the whole contract at another
# scale, e.g. SPARK_GRAFT_TEST_SF=/root/testdata/sf0.1 python -m pytest
# tests/test_driver_contract.py (the 10x sweep that caught the float32
# quantization divergence)
SF_MED = __import__("os").environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="kg-tests", master="local[8]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


@pytest.fixture(scope="session")
def duck_small():
    return duck_con(SF_SMALL)


@pytest.fixture(scope="session")
def duck_med():
    return duck_con(SF_MED)


def freeze(rows):
    """Hashable view of collected Rows: binary ids (bytearray) → bytes."""
    return {
        tuple(bytes(v) if isinstance(v, bytearray) else v for v in r) for r in rows
    }


def compare_query(spark, con, spark_df, sql: str):
    """Mimic the driver's gate: row count, column names, order-insensitive
    value comparison after sorting columns by name."""
    import pandas as pd

    sp = spark_df.toPandas()
    du = con.sql(sql).df()
    assert sorted(sp.columns) == sorted(du.columns), (
        f"columns differ: {sorted(sp.columns)} vs {sorted(du.columns)}"
    )
    cols = sorted(sp.columns)
    sp = sp[cols].sort_values(cols).reset_index(drop=True)
    du = du[cols].sort_values(cols).reset_index(drop=True)
    assert len(sp) == len(du), f"row counts differ: {len(sp)} vs {len(du)}"
    pd.testing.assert_frame_equal(sp, du, check_dtype=False)
