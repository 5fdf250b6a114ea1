"""Streaming near-dup gate (streaming/neardup.py): stream-static band
probe vs its batch twin, per-band dedup, exactly-once resume."""

from __future__ import annotations

import glob
import os
import shutil
import time as _time

from pyspark.sql import functions as F

from bitquery_kafka_streams_rust_spark.streaming import neardup as ND

SCHEMA = "doc_id long, text string"

_BASE = "the quick brown fox jumps over the lazy dog while spark shuffles narrow rows "


def _index_docs(spark):
    rows = [(i, _BASE * 3 + f"indexed document number {i} " * 2) for i in range(8)]
    rows += [(i, f"totally unrelated corpus entry {i} about catalyst optimizer internals " * 4) for i in range(8, 12)]
    rows += [(12, "")]  # empty doc: its signature must not match a NULL probe
    return spark.createDataFrame(rows, SCHEMA)


def _probe_rows():
    # 100/101 near-dup indexed docs 0/1; 102 near-dups the unrelated 8;
    # 103-105 fresh content with no indexed neighbor; 106 NULL text
    return (
        [(100, _BASE * 3 + "indexed document number 0 " * 2 + "tail")]
        + [(101, _BASE * 3 + "indexed document number 1 " * 2)]
        + [(102, "totally unrelated corpus entry 8 about catalyst optimizer internals " * 4 + "!")]
        + [(103 + i, f"genuinely novel probe text {i} with nothing shared at all " * 3) for i in range(3)]
        + [(106, None)]
    )


def _write_batches(spark, rows, tmp_path, n_batches, sub):
    in_dir = str(tmp_path / sub)
    os.makedirs(in_dir)
    base = _time.time() - 100
    per = -(-len(rows) // n_batches)
    for b in range(n_batches):
        part = rows[b * per : (b + 1) * per]
        if not part:
            continue
        p = str(tmp_path / f"{sub}_stage_{b}")
        spark.createDataFrame(part, SCHEMA).coalesce(1).write.mode("overwrite").parquet(p)
        f = glob.glob(f"{p}/part-*.parquet")[0]
        dst = f"{in_dir}/b{b:02d}.parquet"
        shutil.move(f, dst)
        os.utime(dst, (base + b * 10, base + b * 10))
    return in_dir


def _run_gate(spark, in_dir, index, ckpt, out):
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    alerts = ND.build_neardup_alert_stream(stream, index, threshold=0.5)
    q = (
        alerts.writeStream.foreachBatch(ND.NeardupAlertSink(out, lineage=False))
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.awaitTermination()


def _read_alerts(spark, out):
    return {
        (r["probe_id"], r["index_id"]): r["est_jaccard"]
        for r in spark.read.parquet(out).collect()
    }


def test_stream_gate_matches_batch_twin(spark, tmp_path):
    index = _index_docs(spark)
    rows = _probe_rows()
    in_dir = _write_batches(spark, rows, tmp_path, n_batches=3, sub="in")
    out = str(tmp_path / "out")
    _run_gate(spark, in_dir, index, str(tmp_path / "ck"), out)
    got = _read_alerts(spark, out)
    expected = {
        (r["probe_id"], r["index_id"]): r["est_jaccard"]
        for r in ND.probe_index_batch(
            spark.createDataFrame(rows, SCHEMA), index, threshold=0.5
        ).collect()
    }
    assert got == expected
    assert any(p == 100 and i == 0 for p, i in got)  # near-dup caught
    assert all(p not in (103, 104, 105) for p, _ in got)  # novel docs pass
    assert all(p != 106 and i != 12 for p, i in got)  # NULL probe, "" index doc


def test_stream_gate_resume_is_exactly_once(spark, tmp_path):
    """Stop after the first files, restart with the same checkpoint and
    more input: no replayed/duplicated alerts, final set == batch twin."""
    index = _index_docs(spark)
    rows = _probe_rows()
    first, rest = rows[:3], rows[3:]
    in_dir = _write_batches(spark, first, tmp_path, n_batches=2, sub="in2")
    out, ck = str(tmp_path / "out2"), str(tmp_path / "ck2")
    _run_gate(spark, in_dir, index, ck, out)
    n_first = len(_read_alerts(spark, out))
    # deliver the remaining docs, resume from the SAME checkpoint
    for i, r in enumerate(rest):
        p = str(tmp_path / f"late_{i}")
        spark.createDataFrame([r], SCHEMA).coalesce(1).write.mode("overwrite").parquet(p)
        f = glob.glob(f"{p}/part-*.parquet")[0]
        shutil.move(f, f"{in_dir}/late{i:02d}.parquet")
    _run_gate(spark, in_dir, index, ck, out)
    got = _read_alerts(spark, out)
    assert len(got) >= n_first
    expected = {
        (r["probe_id"], r["index_id"]): r["est_jaccard"]
        for r in ND.probe_index_batch(
            spark.createDataFrame(rows, SCHEMA), index, threshold=0.5
        ).collect()
    }
    assert got == expected
