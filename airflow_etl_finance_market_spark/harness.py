"""Driver-harness registry: named fixture queries + their DuckDB oracle SQL.

Every operator claimed in SURVEY.md §2 registers here twice:

- a PySpark implementation ``(spark, sf_dir) -> DataFrame`` built from the
  engine's modules, and
- the equivalent ANSI SQL the DuckDB oracle runs on the same parquet tables.

Contract notes (see /root/repo/__spark_entry__.py):
- the driver compares row-count + schema + ORDER-INSENSITIVE value hash, and
  sorts columns BY NAME — so every computed column is aliased identically on
  both sides;
- float results are rounded at the presentation edge (ROUND, F6 semantics) on
  BOTH sides so cross-engine last-ulp summation noise cannot flip the hash;
- any ORDER BY ... LIMIT k carries a deterministic tiebreak.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .plans.volatility import daily_pct_change, top_avg_volatility, weekly_volatility
from .sources.readers import load_fixture, load_fixtures
from .util import fan_out

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    """Decorator: register a harness query (and its oracle SQL, if any)."""

    def deco(fn: QueryFn) -> QueryFn:
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


#: The driver verifies exactly this many leading entries of :func:`queries`
#: per round.
_DRIVER_WINDOW = 50

#: Directory holding the driver's ``CORRECTNESS_r<N>.json`` ledger.
_LEDGER_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _last_green_rounds(ledger_dir: str) -> dict[str, int]:
    """Entry -> newest ledger round whose driver row for it is fully green
    (rows, schema and hash match, no error; a NULL hash is a rows-only
    entry). Entries never green are absent."""
    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(ledger_dir, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"CORRECTNESS_r(\d+)\.json$", path).group(1))
        with open(path) as f:
            rows = json.load(f)
        for name, row in rows.items():
            if (
                row.get("rows_match") is True
                and row.get("schema_match") is True
                and row.get("hash_match") in (True, None)
                and row.get("err") in (None, "")
            ):
                last[name] = max(last.get(name, 0), rnd)
    return last


def _window_order(d: dict) -> dict:
    """``d`` in driver-window order: never-verified entries first, then the
    oldest last-green round first; ties keep registration order."""
    return dict(sorted(d.items(), key=lambda kv: _LAST_GREEN.get(kv[0], 0)))


def queries() -> dict[str, QueryFn]:
    return _window_order(_QUERIES)


def oracles() -> dict[str, str]:
    return _window_order(_ORACLES)



@contextmanager
def _bounded_stream_shuffle(spark: SparkSession, n: int = 8):
    """Cap ``spark.sql.shuffle.partitions`` while a streaming gate runs.

    A streaming query fixes its STATE-STORE partition count from the
    session's shuffle partitions at first start; under the driver's
    vanilla session that is 200, and a 3-micro-batch stateful gate then
    pays 200 state partitions x batches of Arrow/python-worker round
    trips for a 150-key fixture (~2 min wall). 8 partitions is the same
    semantics at ~1/20 the constant. Restored in ``finally`` so the
    batch twins and every other harness entry keep the session default.
    At production scale the equivalent knob is sizing state partitions
    to key cardinality — state stores are per-partition, not per-key.
    """
    key = "spark.sql.shuffle.partitions"
    try:
        old = spark.conf.get(key)
    except Exception:
        old = None
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


_STREAM_GATE_SEQ = 0


def _next_stream_seq() -> int:
    """Monotonic uniquifier for the streaming gates' memory-sink /
    checkpoint names — ONE counter for the whole registry (it lives
    here, not in a tier module) so repeated runs of any gate in one
    session (bench best-of-3, the emulator) never reuse a sink
    table name."""
    global _STREAM_GATE_SEQ
    _STREAM_GATE_SEQ += 1
    return _STREAM_GATE_SEQ


# ---------------------------------------------------------------------------
# Shared fixture shapes
# ---------------------------------------------------------------------------

#: lineitem as an OHLCV-like series: instrument=l_partkey, ts=l_shipdate,
#: close=l_extendedprice. Several lineitems can share a ship date, so the
#: LAG ordering carries (l_orderkey, l_linenumber) to stay total/deterministic.
_SERIES_TIEBREAK = ("l_orderkey", "l_linenumber")

#: The same window, spelled once for the oracle side.
_SERIES_WINDOW_SQL = (
    "PARTITION BY l_partkey ORDER BY l_shipdate, l_orderkey, l_linenumber"
)


def _lineitem_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_fixture(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("ticker"),
        F.col("l_shipdate").alias("ts"),
        F.col("l_extendedprice").alias("close"),
        "l_orderkey",
        "l_linenumber",
    )


def _lineitem_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return daily_pct_change(
        _lineitem_series(spark, sf_dir),
        key="ticker",
        ts="ts",
        value="close",
        order_tiebreak=_SERIES_TIEBREAK,
    )


_CHANGES_CTE = f"""
WITH changes AS (
    SELECT
        l_partkey AS ticker,
        l_shipdate AS ts,
        (l_extendedprice - LAG(l_extendedprice) OVER w)
            / NULLIF(LAG(l_extendedprice) OVER w, 0) * 100 AS variacao_diaria
    FROM lineitem
    WINDOW w AS ({_SERIES_WINDOW_SQL})
)
"""

# ---------------------------------------------------------------------------
# Tier modules: the registry is assembled by importing one module per tier.
# Import order is the registration order, which breaks ties in the window
# order; the ledger is read once, after every tier has registered.
# ---------------------------------------------------------------------------

from . import harness_parity  # noqa: E402,F401
from . import harness_corpus  # noqa: E402,F401
from . import harness_events  # noqa: E402,F401
from . import harness_markets  # noqa: E402,F401
from . import harness_media  # noqa: E402,F401
from . import harness_streaming  # noqa: E402,F401

# driver-entry surface: __spark_entry__.entry() runs harness.flagship
from .harness_parity import flagship  # noqa: E402,F401

_LAST_GREEN = _last_green_rounds(_LEDGER_DIR)

#: Entries past the driver window: they get no driver row this round.
_WINDOW_DEMOTED = list(queries())[_DRIVER_WINDOW:]
