"""Output checks, computed independently of the program with DuckDB.

Streams: the committed events output must equal the pipeline's
semantics applied to the generated input files: validate (declared
length == array length, every token in the vocabulary), gate (source
allowlist, ``n_tok`` bounds), drop rows behind the watermark,
exactly-once dedup on ``doc_id``; each
surviving row carries ``cksum = sum((i+1) * tokens[i]) mod 2^31``.

Batch: one collect per query against its ``oracle_sql()`` text, with
``tools/verify_oracle.py``'s ``canon``/``cells_equal`` rules.

The workloads call these through ``Checker``, in a separate process, so
that DuckDB's memory and CPU never count as the program's.  The process
is a plain child that reads pickled calls on its stdin and leaves on
EOF there, so it cannot outlive the run.
"""

from __future__ import annotations

import importlib.util
import os
import pickle
import subprocess
import sys
import traceback

import duckdb

from .gen import VOCAB

WATERMARK_DELAY_S = 300  # the pipeline's watermark delay (EngineConfig default)
STREAM_FIGURES = ("rows", "sum_n_tok", "sum_cksum", "distinct_doc_ids", "per_source")


def stream_reference(paths: list[str], sources: list[str], min_n_tok: int) -> dict:
    """Expected output figures plus the row ledger of the input.
    ``paths`` are the input files in arrival order."""
    allow = ", ".join(f"'{s}'" for s in sources)
    files = "[" + ", ".join(f"'{p}'" for p in paths) + "]"
    con = duckdb.connect()
    con.execute(f"""
        CREATE TEMP TABLE t AS
        SELECT doc_id, n_tok, source, ts,
               list_position({files}, filename) AS file_no, file_row_number AS row_no,
               len(tokens) = n_tok
                 AND (len(tokens) = 0 OR (list_min(tokens) >= 0 AND list_max(tokens) < {VOCAB}))
                 AS valid,
               source IN ({allow}) AND n_tok >= {min_n_tok} AS gated,
               CASE WHEN len(tokens) = 0 THEN 0 ELSE
                 list_sum(list_transform(tokens, (x, i) -> x::BIGINT * i)) % 2147483648
               END AS cksum
        FROM read_parquet({files}, filename = true, file_row_number = true)""")
    # late: behind the watermark, the highest event time of the rows that
    # arrived before it (past the gate, where the pipeline sets the
    # watermark) minus the delay.  The pipeline advances its watermark
    # once per epoch, so it drops at most these rows; the count is exact
    # when it is 0, as the generator makes it
    con.execute(f"""
        CREATE TEMP TABLE g AS
        SELECT *, coalesce(ts < max(ts) OVER (ORDER BY file_no, row_no ROWS BETWEEN
                             UNBOUNDED PRECEDING AND 1 PRECEDING)
                           - INTERVAL {WATERMARK_DELAY_S} SECOND, false) AS late
        FROM t WHERE valid AND gated""")
    ledger = con.execute("""
        SELECT (SELECT count(*) FROM t), (SELECT count(*) FILTER (NOT valid) FROM t),
               (SELECT count(*) FILTER (valid AND NOT gated) FROM t),
               count(*) FILTER (NOT late) - count(DISTINCT doc_id) FILTER (NOT late),
               count(*) FILTER (late)
        FROM g""").fetchone()
    # duplicates are bit-identical, so any one copy per doc_id survives
    con.execute("CREATE TEMP TABLE o AS SELECT DISTINCT doc_id, n_tok, source, cksum "
                "FROM g WHERE NOT late")
    ref = _figures(con, "o")
    ref["ledger"] = {
        "input_rows": ledger[0],
        "invalid_rows": ledger[1],
        "gate_drop_rows": ledger[2],
        "dedup_drop_rows": ledger[3],
        "late_drop_rows": ledger[4],
        "output_rows": ref["rows"],
    }
    return ref


def _figures(con, table: str) -> dict:
    rows, n_tok, cksum, ids = con.execute(
        f"SELECT count(*), coalesce(sum(n_tok), 0), coalesce(sum(cksum), 0), "
        f"count(DISTINCT doc_id) FROM {table}").fetchone()
    per_source = dict(con.execute(
        f"SELECT source, count(*) FROM {table} GROUP BY 1 ORDER BY 1").fetchall())
    return {"rows": rows, "sum_n_tok": int(n_tok), "sum_cksum": int(cksum),
            "distinct_doc_ids": ids, "per_source": per_source}


def stream_output(out_dir: str) -> dict:
    """The same figures over everything the events sink committed."""
    con = duckdb.connect()
    glob = os.path.join(out_dir, "batch_id=*", "*.parquet")
    con.execute(f"CREATE TEMP VIEW o AS SELECT doc_id, n_tok, source, cksum "
                f"FROM read_parquet('{glob}', hive_partitioning = false)")
    return _figures(con, "o")


def stream_mismatches(ref: dict, got: dict) -> list[str]:
    """Empty when the output is correct.  Exactly once: every doc_id
    appears in one row only, across all epochs."""
    bad = [f"{k}: expected {ref[k]!r}, got {got[k]!r}"
           for k in STREAM_FIGURES if ref[k] != got[k]]
    if got["distinct_doc_ids"] != got["rows"]:
        bad.append(f"exactly-once: {got['rows']} rows but "
                   f"{got['distinct_doc_ids']} distinct doc_ids")
    return bad


def stream_check(ref: dict, out_dir: str) -> list[str]:
    return stream_mismatches(ref, stream_output(out_dir))


def oracle_mismatches(root: str, sf_dir: str, results: list[tuple]) -> list[str]:
    """``results``: (query name, oracle SQL, the program's pandas result)."""
    oracle = Oracle(root, sf_dir)
    out = []
    for name, sql, pdf in results:
        why = oracle.mismatch(sql, pdf)
        if why:
            out.append(f"{name}: {why}")
    return out


class Checker:
    """One worker process that runs the checks above, a call at a time."""

    def __init__(self):
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        self.proc = subprocess.Popen(
            [sys.executable, "-c", "from perfbench.check import serve; serve()"],
            cwd=root, stdin=subprocess.PIPE, stdout=subprocess.PIPE)

    def __call__(self, fn, *args):
        pickle.dump((fn.__name__, args), self.proc.stdin)
        self.proc.stdin.flush()
        try:
            ok, value = pickle.load(self.proc.stdout)
        except EOFError:
            raise RuntimeError(f"output checker exited ({self.proc.wait()})") from None
        if not ok:
            raise RuntimeError(f"output checker: {fn.__name__} raised\n{value}")
        return value

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.stdin.close()
        self.proc.wait()


def serve() -> None:
    """The checker process: answer pickled (function name, args) calls
    until stdin closes.  Anything else written to stdout goes to stderr."""
    inp, out = sys.stdin.buffer, os.fdopen(os.dup(1), "wb")
    os.dup2(2, 1)
    while True:
        try:
            name, args = pickle.load(inp)
        except EOFError:
            return
        try:
            res = (True, globals()[name](*args))
        except Exception:
            res = (False, traceback.format_exc())
        pickle.dump(res, out)
        out.flush()


def _oracle_rules(root: str):
    spec = importlib.util.spec_from_file_location(
        "verify_oracle", os.path.join(root, "tools", "verify_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon, mod.cells_equal


class Oracle:
    """DuckDB views over the generated tables and the oracle comparison."""

    TABLES = ("region", "nation", "customer", "orders", "lineitem", "documents", "embeddings")

    def __init__(self, root: str, sf_dir: str):
        self.canon, self.cells_equal = _oracle_rules(root)
        self.con = duckdb.connect()
        for t in self.TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    def mismatch(self, sql: str, spark_pdf) -> str | None:
        """None when ``spark_pdf`` equals the oracle's answer."""
        s, o = self.canon(spark_pdf), self.canon(self.con.execute(sql).fetchdf())
        if list(s.columns) != list(o.columns):
            return f"columns {list(s.columns)} != {list(o.columns)}"
        if len(s) != len(o):
            return f"rows {len(s)} != {len(o)}"
        for c in s.columns:
            sk, ok = s[c].dtype.kind, o[c].dtype.kind
            if sk != ok and not {sk, ok} <= {"O", "U"} and len(s):
                return f"column {c}: dtype {s[c].dtype} != {o[c].dtype}"
            for i, (x, y) in enumerate(zip(s[c].tolist(), o[c].tolist())):
                if not self.cells_equal(x, y):
                    return f"column {c} row {i}: {x!r} != {y!r}"
        return None
