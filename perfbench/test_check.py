"""The benchmark's own checks must fail on wrong output.

    python3 -m pytest perfbench/test_check.py -q

No Spark session: the "program output" here is computed in NumPy from
the generated input, then damaged on purpose.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import check, gen, run  # noqa: E402
from perfbench.stream import ALLOWED, MIN_N_TOK  # noqa: E402


def _expected_rows(paths: list[str]) -> pd.DataFrame:
    """The pipeline's semantics in plain NumPy, one row per doc_id."""
    rows = {}
    for p in paths:
        t = pq.read_table(p).to_pylist()
        for r in t:
            tok = np.asarray(r["tokens"], np.int64)
            valid = len(tok) == r["n_tok"] and (
                len(tok) == 0 or (tok.min() >= 0 and tok.max() < gen.VOCAB))
            if not valid or r["source"] not in ALLOWED or r["n_tok"] < MIN_N_TOK:
                continue
            cksum = int((tok * np.arange(1, len(tok) + 1)).sum() % 2**31)
            rows[r["doc_id"]] = (r["doc_id"], r["n_tok"], r["source"], r["ts"], cksum)
    return pd.DataFrame(list(rows.values()),
                        columns=["doc_id", "n_tok", "source", "ts", "cksum"])


def _commit(out_dir: str, df: pd.DataFrame, epochs: int = 2) -> None:
    for b, part in enumerate(np.array_split(df, epochs)):
        d = os.path.join(out_dir, f"batch_id={b}")
        os.makedirs(d)
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False),
                       os.path.join(d, "part-0.parquet"))


@pytest.fixture(scope="module")
def spine(tmp_path_factory):
    d = tmp_path_factory.mktemp("spine")
    paths = gen.write_spine(np.random.default_rng(7), str(d), 3, 700, 40)
    return paths, check.stream_reference(paths, ALLOWED, MIN_N_TOK), _expected_rows(paths)


def _mismatches(tmp_path, ref, df) -> list[str]:
    out = str(tmp_path / "events")
    _commit(out, df)
    return check.stream_mismatches(ref, check.stream_output(out))


def test_generator_has_the_fixture_properties(spine):
    _, ref, _ = spine
    led = ref["ledger"]
    assert led["input_rows"] == 2100
    assert led["invalid_rows"] > 0 and led["gate_drop_rows"] > 0 and led["dedup_drop_rows"] > 0
    assert led["late_drop_rows"] == 0  # every late row stays inside the watermark
    assert led["input_rows"] == (led["invalid_rows"] + led["gate_drop_rows"]
                                 + led["dedup_drop_rows"] + led["output_rows"])
    assert max(ref["per_source"].values()) > 0.5 * ref["rows"]


def test_row_behind_the_watermark_is_a_late_drop(tmp_path, spine):
    paths, ref, exp = spine
    t = pq.read_table(paths[2]).to_pandas()
    # a row of the last file that reaches the watermark, moved 11 min back
    i = next(i for i, r in t.iterrows() if r["doc_id"] in set(exp["doc_id"])
             and (t["doc_id"] == r["doc_id"]).sum() == 1)
    t.loc[i, "ts"] -= pd.Timedelta(minutes=11)
    moved = str(tmp_path / "part-00002.parquet")
    pq.write_table(pa.Table.from_pandas(t, schema=gen.SPINE_SCHEMA, preserve_index=False), moved)
    late = check.stream_reference(paths[:2] + [moved], ALLOWED, MIN_N_TOK)
    assert late["ledger"]["late_drop_rows"] == 1
    assert late["rows"] == ref["rows"] - 1
    assert late["sum_cksum"] == ref["sum_cksum"] - int(exp.set_index("doc_id").loc[
        t.loc[i, "doc_id"], "cksum"])


def test_correct_output_passes(tmp_path, spine):
    _, ref, exp = spine
    assert _mismatches(tmp_path, ref, exp) == []


def test_dropped_row_fails(tmp_path, spine):
    _, ref, exp = spine
    bad = _mismatches(tmp_path, ref, exp.drop(index=5))
    assert any(b.startswith("rows") for b in bad)


def test_flipped_cksum_fails(tmp_path, spine):
    _, ref, exp = spine
    exp = exp.copy()
    exp.loc[3, "cksum"] ^= 1
    assert any(b.startswith("sum_cksum") for b in _mismatches(tmp_path, ref, exp))


def test_row_committed_twice_fails(tmp_path, spine):
    _, ref, exp = spine
    twice = pd.concat([exp.iloc[:-1], exp.iloc[[0]]], ignore_index=True)
    assert any(b.startswith("exactly-once") for b in _mismatches(tmp_path, ref, twice))


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_every_batch_query_has_rows(tmp_path, seed):
    """On every seed each query's expected result is non-empty, so its
    oracle check compares rows and not two empty tables."""
    import __spark_entry__ as E

    from perfbench import batch

    gen.write_tables(np.random.default_rng(seed), str(tmp_path), batch.N_DOCS, batch.N_ORDERS)
    o = check.Oracle(ROOT, str(tmp_path))
    sqls = E.oracle_sql()
    for n in batch.HEADLINE + batch.CURATION:
        assert len(o.con.execute(sqls[n]).fetchall()) > 0, n


def test_oracle_compare_fails_on_a_wrong_cell(tmp_path):
    gen.write_tables(np.random.default_rng(3), str(tmp_path), 30, 100)
    o = check.Oracle(ROOT, str(tmp_path))
    sql = "SELECT o_orderstatus AS s, count(*) AS n FROM orders GROUP BY 1"
    good = o.con.execute(sql).fetchdf()
    assert o.mismatch(sql, good) is None
    wrong = good.copy()
    wrong.loc[0, "n"] += 1
    assert o.mismatch(sql, wrong) is not None


def test_failed_check_exits_nonzero(monkeypatch, capsys):
    def fake(b, name, seed, seconds):
        e2e = {k: 1.0 for k in run.UNITS}
        return {"e2e": e2e, "attempted": 1, "failed": 0, "errors": ["rows: expected 2, got 1"]}

    monkeypatch.setattr(run, "run_workload", fake)
    monkeypatch.setattr(os, "environ", dict(os.environ))  # main() pins the env
    rc = run.main(["--workload", "stream_backfill", "--seed", "1", "--seconds", "1"])
    last = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 1 and last["correct"] is False


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "stream_backfill",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0 and p.stdout.strip() == ""
