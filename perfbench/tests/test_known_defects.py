"""Package defects the benchmark meets on its generated inputs, pinned as
strict expected failures. When a fix lands, the test passes, pytest reports
the strict xfail as a failure, and the query goes back into the benchmark.
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import pytest
from pyspark.errors import ArithmeticException

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import oracle  # noqa: E402
import run  # noqa: E402


def _lineitem(path: str, rows: list[tuple[int, int, float]]) -> None:
    """A ``lineitem`` parquet of (partkey, day offset, extendedprice) rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = len(rows)
    day0 = dt.datetime(1995, 1, 2)
    pq.write_table(
        pa.table({
            "l_orderkey": pa.array(range(1, n + 1), pa.int64()),
            "l_partkey": pa.array([p for p, _d, _x in rows], pa.int64()),
            "l_suppkey": pa.array([1] * n, pa.int64()),
            "l_linenumber": pa.array([1] * n, pa.int32()),
            "l_quantity": pa.array([1.0] * n, pa.float64()),
            "l_extendedprice": pa.array([x for _p, _d, x in rows], pa.float64()),
            "l_discount": pa.array([0.0] * n, pa.float64()),
            "l_tax": pa.array([0.0] * n, pa.float64()),
            "l_returnflag": pa.array(["A"] * n, pa.string()),
            "l_linestatus": pa.array(["F"] * n, pa.string()),
            "l_shipdate": pa.array(
                [day0 + dt.timedelta(days=d) for _p, d, _x in rows], pa.timestamp("us")
            ),
        }),
        path,
    )


@pytest.mark.xfail(
    strict=True,
    raises=ArithmeticException,
    reason="ticker_pair_correlation: F.corr raises [DIVIDE_BY_ZERO] under ANSI "
    "when one ticker's returns are constant over the days it shares with "
    "another, even for a pair that the min_days filter then drops",
)
def test_pair_correlation_with_a_constant_side(tmp_path):
    import duckdb
    from airflow_etl_finance_market_spark import harness
    from airflow_etl_finance_market_spark.session import get_spark

    # part 1 doubles every day (returns 100%, 100%); part 2 moves (200%,
    # -50%); the two share two return days, below min_days = 3, so the
    # answer has no rows
    _lineitem(
        str(tmp_path / "lineitem.parquet"),
        [(1, 0, 100.0), (1, 1, 200.0), (1, 2, 400.0),
         (2, 0, 100.0), (2, 1, 300.0), (2, 2, 150.0)],
    )
    spark = get_spark(
        "perfbench-defects", master="local[1]",
        extra_conf={"spark.sql.warehouse.dir": str(tmp_path / "wh"),
                    "spark.ui.enabled": "false"},
    )
    try:
        got = harness.queries()["ticker_pair_correlation"](spark, str(tmp_path)).toPandas()
    finally:
        spark.stop()
        run.stop_jvm()
    with duckdb.connect() as con:
        con.execute(
            "CREATE VIEW lineitem AS SELECT * FROM "
            f"read_parquet('{tmp_path / 'lineitem.parquet'}')"
        )
        want = con.execute(harness.oracles()["ticker_pair_correlation"]).df()
    assert len(want) == 0
    assert oracle.compare_frames(got, want) is None
