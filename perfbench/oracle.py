"""Independent answers for the benchmark's output checks.

The daily run is replayed in DuckDB from the reference SQL (LAG %-change,
weekly STDDEV_SAMP, top-1 by average weekly volatility) over the same CSV
files the pipeline loaded. The star queries are compared with their DuckDB
oracles in the canonical form the parity tests use (``tests/conftest.py``).
The corpus answers are recomputed in plain Python.
"""

from __future__ import annotations

import functools
import importlib.util
import os

import duckdb

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CSV_COLUMNS = (
    "{'date': 'DATE', 'symbol': 'VARCHAR', 'open': 'DOUBLE', 'high': 'DOUBLE',"
    " 'low': 'DOUBLE', 'close': 'DOUBLE', 'volume': 'BIGINT'}"
)

# reference: the fact INSERT .. SELECT with its LAG window, and the weekly
# materialized view over it
REFERENCE_SQL = """
CREATE TABLE staging AS
    SELECT * FROM read_csv({files}, header = true, columns = {cols});
CREATE TABLE fact AS
    SELECT symbol AS ticker, date AS data_id, open, high, low, close, volume,
           (close - LAG(close) OVER w) / NULLIF(LAG(close) OVER w, 0) * 100
               AS variacao_diaria
    FROM staging
    WINDOW w AS (PARTITION BY symbol ORDER BY date);
CREATE TABLE weekly AS
    SELECT ticker, DATE_TRUNC('week', data_id)::DATE AS week,
           STDDEV_SAMP(variacao_diaria) AS vol
    FROM fact WHERE variacao_diaria IS NOT NULL
    GROUP BY 1, 2;
"""

TOP1_SQL = """
SELECT ticker, AVG(vol) AS avg_volatility FROM weekly
GROUP BY ticker ORDER BY avg_volatility DESC, ticker ASC LIMIT 1
"""


class DailyReplay:
    """The reference run over ``csv_files``, held in an in-memory DuckDB."""

    def __init__(self, csv_files: list[str]):
        self.con = duckdb.connect()
        self.con.execute("SET threads = 2")
        files = "[" + ", ".join(f"'{p}'" for p in csv_files) + "]"
        self.con.execute(REFERENCE_SQL.format(files=files, cols=CSV_COLUMNS))

    def close(self) -> None:
        self.con.close()

    def counts(self) -> dict[str, int]:
        q = "SELECT (SELECT COUNT(*) FROM staging), (SELECT COUNT(*) FROM fact), (SELECT COUNT(*) FROM weekly)"
        staged, fact, weekly = self.con.execute(q).fetchone()
        return {"staged_rows": staged, "fact_rows": fact, "weekly_rows": weekly}

    def message(self) -> str:
        row = self.con.execute(TOP1_SQL).fetchone()
        if row is None:
            return "Nenhum dado de volatilidade disponível."
        return (
            f"Ativo mais volátil: {row[0]} "
            f"(volatilidade média semanal: {row[1]:.2f}%)"
        )

    def compare_warehouse(self, warehouse_dir: str) -> list[str]:
        """Differences between the pipeline's stored fact table and weekly
        view and the replay; an empty list when they agree."""
        con = self.con
        con.execute(
            "CREATE OR REPLACE TEMP VIEW got_fact AS SELECT ticker,"
            " CAST(data_id AS DATE) AS data_id, open, high, low, close, volume,"
            " variacao_diaria FROM read_parquet("
            f"'{warehouse_dir}/fact_movimentacao_diaria/*/*/*.parquet',"
            " hive_partitioning = true, hive_types = {'data_id': DATE, 'ano': INTEGER})"
        )
        con.execute(
            "CREATE OR REPLACE TEMP VIEW got_weekly AS SELECT ticker,"
            " CAST(week AS DATE) AS week, vol FROM read_parquet("
            f"'{warehouse_dir}/volatility_weekly/*/*.parquet',"
            " hive_partitioning = true, hive_types = {'week': DATE})"
        )
        problems = []
        for name, want, got, keys, values in (
            ("fact", "fact", "got_fact", ("ticker", "data_id"),
             ("open", "high", "low", "close", "volume", "variacao_diaria")),
            ("weekly", "weekly", "got_weekly", ("ticker", "week"), ("vol",)),
        ):
            n_want = con.execute(f"SELECT COUNT(*) FROM {want}").fetchone()[0]
            n_got = con.execute(f"SELECT COUNT(*) FROM {got}").fetchone()[0]
            if n_want != n_got:
                problems.append(f"{name}: {n_got} rows stored, {n_want} expected")
            on = " AND ".join(f"w.{k} = g.{k}" for k in keys)
            differs = " OR ".join(
                f"NOT ((w.{v} IS NULL AND g.{v} IS NULL) OR "
                f"abs(w.{v} - g.{v}) <= 1e-9 * greatest(1, abs(w.{v})))"
                for v in values
            )
            bad = con.execute(
                f"SELECT COUNT(*) FROM {want} w FULL JOIN {got} g ON {on}"
                f" WHERE w.{keys[0]} IS NULL OR g.{keys[0]} IS NULL OR {differs}"
            ).fetchone()[0]
            if bad:
                problems.append(f"{name}: {bad} rows differ from the replay")
        return problems


# -- star queries: the canonical comparison of the oracle parity tests -----


@functools.cache
def _parity_canonical_rows():
    """``to_canonical_rows`` from the parity tests' ``tests/conftest.py``,
    loaded from its file so both compare results the same way."""
    path = os.path.join(REPO_ROOT, "tests", "conftest.py")
    spec = importlib.util.spec_from_file_location("parity_conftest", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module.to_canonical_rows


def compare_frames(got, want) -> str | None:
    """None when equal in canonical form, else a one-line description."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows, {len(want)} expected"
    canonical = _parity_canonical_rows()
    for g, w in zip(canonical(got), canonical(want)):
        if g != w:
            return f"rows differ; e.g. got {g} where the oracle has {w}"
    return None


# -- corpus answers ---------------------------------------------------------


def shingles(text: str, n: int) -> list[str]:
    toks = text.split(" ")
    if len(toks) < n:
        return [text]
    return [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]


def jaccard(a: str, b: str) -> float:
    sa, sb = set(shingles(a, 3)), set(shingles(b, 3))
    return len(sa & sb) / len(sa | sb)


def span_stats(docs: list[tuple[int, str]], span_tokens: int) -> dict[int, tuple[int, int]]:
    """doc_id -> (n_spans, n_dup_spans): a span occurrence is duplicated when
    its text occurs in at least two distinct documents."""
    owners: dict[str, set[int]] = {}
    per_doc = {}
    for doc_id, text in docs:
        spans = shingles(text, span_tokens)
        per_doc[doc_id] = spans
        for s in spans:
            owners.setdefault(s, set()).add(doc_id)
    return {
        d: (len(spans), sum(1 for s in spans if len(owners[s]) >= 2))
        for d, spans in per_doc.items()
    }


def exact_survivors(docs: list[tuple[int, str]]) -> set[int]:
    first: dict[str, int] = {}
    for doc_id, text in docs:
        if text not in first or doc_id < first[text]:
            first[text] = doc_id
    return set(first.values())


def unrecovered_families(pairs: list[tuple[int, int]], families: list[list[int]]) -> int:
    """Families whose members the reported pairs do not connect."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    return sum(1 for fam in families if len({find(d) for d in fam}) > 1)
