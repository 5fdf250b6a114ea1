"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry at the given SF and compares against
``oracle_sql()`` in DuckDB: row count, column names (sorted), and exact
cell values after canonical ordering.  Usage:

    python tools/verify_oracle.py [sf_dir] [query ...]

Each result line carries the query's wall time; nothing is written.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: tuple(v) if isinstance(v, (list, tuple)) else v)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def cells_equal(a, b) -> bool:
    import math

    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None or (isinstance(a, float) and math.isnan(a)):
            return (a is None or (isinstance(a, float) and math.isnan(a))) and (
                b is None or (isinstance(b, float) and math.isnan(b))
            )
        return math.isclose(float(a), float(b), rel_tol=0, abs_tol=0)
    return a == b


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    # accept space- AND comma-separated names; tolerate an "--only"
    # marker token.  Unknown names are a hard error: a typo'd or
    # mis-joined list that silently matches nothing prints a hollow
    # "ALL OK" that reads as verification (exactly what happened with
    # "--only a,b" before commas were split — round-5 postmortem)
    only = {
        x
        for a in sys.argv[2:]
        if a != "--only"
        for x in a.split(",")
        if x
    }

    import __spark_entry__ as E
    from bitquery_kafka_streams_rust_spark.session import get_spark

    spark = get_spark(master="local[8]")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = E.queries(), E.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        print(f"ERROR: unknown query names in selection: {sorted(unknown)}")
        return 2
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error: {str(e)[:500]}")
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"SKIP {name}: no oracle ({len(sdf)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            odf = con.execute(sql).fetchdf()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {str(e)[:500]}")
            continue
        s, o = canon(sdf), canon(odf)
        status = "OK  "
        why = ""
        if list(s.columns) != list(o.columns):
            status, why = "FAIL", f"cols spark={list(s.columns)} oracle={list(o.columns)}"
        elif len(s) != len(o):
            status, why = "FAIL", f"rows spark={len(s)} oracle={len(o)}"
        else:
            # the driver's value hash is dtype-sensitive: a DuckDB HUGEINT
            # (object/float64) vs a Spark int64 hashes differently even when
            # values are equal — flag kind mismatches, not just value diffs
            for c in s.columns:
                sk, ok_ = s[c].dtype.kind, o[c].dtype.kind
                if sk != ok_ and not ({sk, ok_} <= {"O", "U"}) and len(s) > 0:
                    status = "FAIL"
                    why = f"col {c}: dtype kind spark={s[c].dtype} oracle={o[c].dtype}"
                    break
        if status == "OK  ":
            for c in s.columns:
                sv, ov = s[c].tolist(), o[c].tolist()
                bad = [
                    (i, x, y) for i, (x, y) in enumerate(zip(sv, ov)) if not cells_equal(x, y)
                ]
                if bad:
                    status = "FAIL"
                    why = f"col {c}: first diffs {bad[:3]}"
                    break
        if status == "FAIL":
            failures.append(name)
        print(f"{status} {name} ({len(s)} rows, {time.time()-t0:.1f}s) {why}")

    spark.stop()
    print(f"\n{len(failures)} failures: {failures}" if failures else "\nALL OK")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
