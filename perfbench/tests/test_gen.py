"""The generators are pure functions of their seed."""

from __future__ import annotations

import datetime as dt
import filecmp
import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def _digest(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def test_business_days_skip_weekends():
    days = gen.business_days(dt.date(2015, 1, 2), 3)  # a Friday
    assert days == [dt.date(2015, 1, 2), dt.date(2015, 1, 5), dt.date(2015, 1, 6)]


def test_same_seed_gives_byte_identical_csv(tmp_path):
    days = gen.business_days(dt.date(2015, 1, 2), 20)
    a, b, c = (str(tmp_path / n) for n in ("a.csv", "b.csv", "c.csv"))
    assert gen.write_ohlcv_csv(a, 7, 30, days) == 600
    gen.write_ohlcv_csv(b, 7, 30, days)
    gen.write_ohlcv_csv(c, 8, 30, days)
    assert filecmp.cmp(a, b, shallow=False)
    assert _digest(a) != _digest(c)


def test_daily_drops_partition_the_history(tmp_path):
    days = gen.business_days(dt.date(2015, 1, 2), 6)
    full = str(tmp_path / "full.csv")
    gen.write_ohlcv_csv(full, 3, 5, days)
    drops = gen.split_daily_drops(full, days[4:], str(tmp_path))
    with open(full) as fh:
        lines = fh.read().splitlines()[1:]
    for day, path in zip(days[4:], drops):
        with open(path) as fh:
            header, *rows = fh.read().splitlines()
        assert header + "\n" == gen.CSV_HEADER
        assert rows == [ln for ln in lines if ln.startswith(day.isoformat())]
        assert len(rows) == 5


def test_same_seed_gives_identical_lineitem(tmp_path):
    a, b = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    gen.write_lineitem(a, 5, 500, 20)
    gen.write_lineitem(b, 5, 500, 20)
    assert _digest(a) == _digest(b)


def test_corpus_is_deterministic_and_families_are_near_duplicates():
    docs, families = gen.corpus(11, 400)
    assert (docs, families) == gen.corpus(11, 400)
    assert len(docs) == 400 and [d for d, _ in docs] == list(range(400))
    text = dict(docs)
    for fam in families:
        assert 2 <= len(fam) <= 6
        base = min((text[d] for d in fam), key=len).split(" ")
        for d in fam:  # every member is the base plus at most 2 revision tokens
            toks = text[d].split(" ")
            assert len(toks) - len(base) <= 2
            assert toks[: len(base) - 2] == base[: len(base) - 2]
