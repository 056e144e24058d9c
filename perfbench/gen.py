"""Seeded input generators for the benchmark.

Every generator is a pure function of its arguments: the same seed gives
byte-identical CSV files and identical corpus rows.
"""

from __future__ import annotations

import datetime as dt
import random

CSV_HEADER = "date,symbol,open,high,low,close,volume\n"


def business_days(start: dt.date, n: int) -> list[dt.date]:
    """The first ``n`` Monday-to-Friday dates on or after ``start``."""
    out, d = [], start
    while len(out) < n:
        if d.weekday() < 5:
            out.append(d)
        d += dt.timedelta(days=1)
    return out


def tickers(n: int) -> list[str]:
    return [f"T{i:04d}" for i in range(n)]


def ohlcv_rows(seed: int, n_tickers: int, days: list[dt.date]):
    """Yield one CSV line per (day, ticker): a seeded random walk per ticker.

    Prices are rounded to 4 decimals in the text, so the CSV is the only
    source of truth for every engine that reads it.
    """
    rng = random.Random(seed)
    syms = tickers(n_tickers)
    close = [rng.uniform(10.0, 500.0) for _ in syms]
    vol = [rng.uniform(0.005, 0.04) for _ in syms]
    for day in days:
        ds = day.isoformat()
        for i, sym in enumerate(syms):
            c0 = close[i]
            c1 = max(0.01, c0 * (1.0 + rng.gauss(0.0, vol[i])))
            o = c0 * (1.0 + rng.gauss(0.0, vol[i] / 4))
            hi = max(o, c1) * (1.0 + rng.random() * 0.01)
            lo = min(o, c1) * (1.0 - rng.random() * 0.01)
            v = rng.randrange(10_000, 5_000_000)
            close[i] = round(c1, 4)
            yield f"{ds},{sym},{o:.4f},{hi:.4f},{lo:.4f},{close[i]:.4f},{v}\n"


def write_ohlcv_csv(path: str, seed: int, n_tickers: int, days: list[dt.date]) -> int:
    """Write the history CSV; return its row count."""
    n = 0
    with open(path, "w", encoding="ascii", newline="") as fh:
        fh.write(CSV_HEADER)
        for line in ohlcv_rows(seed, n_tickers, days):
            fh.write(line)
            n += 1
    return n


def split_daily_drops(history_csv: str, days: list[dt.date], out_dir: str) -> list[str]:
    """Write one CSV per day in ``days`` holding that day's rows of the
    history (the daily drop file a one-day run loads); return the paths."""
    wanted = {d.isoformat(): [] for d in days}
    with open(history_csv, encoding="ascii") as fh:
        next(fh)
        for line in fh:
            rows = wanted.get(line[:10])
            if rows is not None:
                rows.append(line)
    paths = []
    for d in days:
        p = f"{out_dir}/drop_{d.isoformat()}.csv"
        with open(p, "w", encoding="ascii", newline="") as fh:
            fh.write(CSV_HEADER)
            fh.writelines(wanted[d.isoformat()])
        paths.append(p)
    return paths


LINEITEM_START = dt.date(1995, 1, 2)
LINEITEM_DAYS = 2500


def write_lineitem(path: str, seed: int, n_rows: int, n_parts: int) -> int:
    """A TPC-H-shaped ``lineitem`` parquet (the columns and types of the
    star-schema test data) whose rows are a pure function of ``seed``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    base_price = [round(rng.uniform(900.0, 2000.0), 2) for _ in range(n_parts + 1)]
    cols = {k: [] for k in (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate",
    )}
    order = 0
    while len(cols["l_orderkey"]) < n_rows:
        order += 1
        ship0 = LINEITEM_START + dt.timedelta(days=rng.randrange(LINEITEM_DAYS))
        for line in range(1, rng.randint(1, 7) + 1):
            if len(cols["l_orderkey"]) == n_rows:
                break
            part = rng.randint(1, n_parts)
            qty = float(rng.randint(1, 50))
            ship = ship0 + dt.timedelta(days=rng.randrange(30))
            cols["l_orderkey"].append(order)
            cols["l_partkey"].append(part)
            cols["l_suppkey"].append(rng.randint(1, 1000))
            cols["l_linenumber"].append(line)
            cols["l_quantity"].append(qty)
            cols["l_extendedprice"].append(round(qty * base_price[part], 2))
            cols["l_discount"].append(rng.randint(0, 10) / 100)
            cols["l_tax"].append(rng.randint(0, 8) / 100)
            cols["l_returnflag"].append(rng.choice("ANR"))
            cols["l_linestatus"].append(rng.choice("FO"))
            cols["l_shipdate"].append(dt.datetime(ship.year, ship.month, ship.day))
    types = {
        "l_orderkey": pa.int64(), "l_partkey": pa.int64(), "l_suppkey": pa.int64(),
        "l_linenumber": pa.int32(), "l_quantity": pa.float64(),
        "l_extendedprice": pa.float64(), "l_discount": pa.float64(),
        "l_tax": pa.float64(), "l_returnflag": pa.string(),
        "l_linestatus": pa.string(), "l_shipdate": pa.timestamp("us"),
    }
    table = pa.table({k: pa.array(v, type=types[k]) for k, v in cols.items()})
    pq.write_table(table, path)
    return n_rows


def _vocabulary(rng: random.Random, n: int) -> list[str]:
    syll = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "xi", "ze", "po", "gu", "sa"]
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(syll) for _ in range(rng.randint(2, 4))))
    return sorted(words)


# The share of corpus documents that belong to a planted family.
FAMILY_SHARE = 0.4


def corpus(seed: int, n_docs: int):
    """Seeded near-duplicate corpus: ``(doc_id, text)`` rows and the planted
    families (lists of doc ids).

    ``FAMILY_SHARE`` of the documents are family members. A family is one
    base text of 60-120 tokens; each member appends 0-2 revision tokens of
    its own, so member sizes vary and members with no revision are exact
    copies. The rest of the corpus is unrelated texts drawn from the same
    vocabulary.
    """
    rng = random.Random(seed)
    vocab = _vocabulary(rng, 5000)
    texts: list[tuple[int, str]] = []  # (family index or -1, text)
    fam = 0
    while len(texts) < n_docs * FAMILY_SHARE:
        base = [rng.choice(vocab) for _ in range(rng.randint(60, 120))]
        for member in range(rng.randint(2, 6)):
            rev = [f"rev{fam}m{member}r{j}" for j in range(rng.randint(0, 2))]
            texts.append((fam, " ".join(base + rev)))
        fam += 1
    while len(texts) < n_docs:
        texts.append((-1, " ".join(rng.choice(vocab) for _ in range(rng.randint(60, 120)))))
    rng.shuffle(texts)
    families: list[list[int]] = [[] for _ in range(fam)]
    for doc_id, (f, _t) in enumerate(texts):
        if f >= 0:
            families[f].append(doc_id)
    return [(doc_id, t) for doc_id, (_f, t) in enumerate(texts)], families
