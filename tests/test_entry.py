"""Driver-contract smoke: entry() rows>0, queries()/oracle_sql() keys align."""

from __future__ import annotations

import __spark_entry__ as E


def test_entry_returns_rows(spark):
    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["win_start", "source", "n_seq", "sum_tok", "sum_cksum"]


def test_contract_keys_align():
    q = E.queries()
    o = E.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 20
    # every query has an oracle (round 2: the hash/LSH family runs its
    # portable-hash variants and packing gets a recursive-CTE replay)
    assert set(q) == set(o)
