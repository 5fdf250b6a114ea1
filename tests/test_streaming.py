"""Streaming spine tests: end-to-end pipeline, exactly-once semantics,
restart-identical output (north rule), lineage manifests."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from bitquery_kafka_streams_rust_spark import datagen
from bitquery_kafka_streams_rust_spark.config import EngineConfig, FilterConfig, ProcessingConfig
from bitquery_kafka_streams_rust_spark.streaming import pipeline as P
from bitquery_kafka_streams_rust_spark.streaming import sink as S

SF = "/root/testdata/sf0.001"
N_BATCHES = 4


@pytest.fixture(scope="module")
def batch_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("seq_batches"))
    datagen.write_sequence_batches(spark, SF, d, n_batches=N_BATCHES)
    return d


def cfg_for(tmp, tag):
    return EngineConfig(
        processing=ProcessingConfig(),
        filters=FilterConfig(source_allowlist=("pumpfun", "raydium", "orca"), min_n_tok=16),
        checkpoint_dir=f"{tmp}/ckpt_{tag}",
        output_dir=f"{tmp}/out_{tag}",
    ).validate()


def rows_set(spark, out_dir):
    df = S.read_output(spark, out_dir)
    return {
        (r["doc_id"], r["n_tok"], r["source"], r["ts"], r["cksum"])
        for r in df.select("doc_id", "n_tok", "source", "ts", "cksum").collect()
    }


def expected_rows(spark):
    """Batch oracle for the pipeline output: valid → dedup → gate.
    Duplicate rows are bit-identical by construction, so the streaming
    winner matches the batch winner regardless of admission order."""
    from bitquery_kafka_streams_rust_spark.functions import tokens as TK
    from bitquery_kafka_streams_rust_spark.operators.dedup import dedup_first_wins
    from bitquery_kafka_streams_rust_spark.operators.filters import sequence_gate

    seq = datagen.sequences_view(spark, SF)
    valid = seq.where(TK.is_valid_sequence("tokens", "n_tok"))
    ded = dedup_first_wins(valid, "doc_id", ["ts", "doc_id"])
    gated = ded.where(sequence_gate(("pumpfun", "raydium", "orca"), 16))
    return {
        (r["doc_id"], r["n_tok"], r["source"], r["ts"], r["ck"])
        for r in gated.select(
            "doc_id", "n_tok", "source", "ts", TK.token_checksum("tokens").alias("ck")
        ).collect()
    }


def test_pipeline_end_to_end_matches_batch(spark, batch_dir, tmp_path):
    cfg = cfg_for(tmp_path, "e2e")
    rp = P.start_pipeline(spark, batch_dir, cfg, with_rollup=False)
    rp.process_all()
    rp.stop()
    got = rows_set(spark, f"{cfg.output_dir}/events")
    assert got == expected_rows(spark)


def test_lineage_manifests(spark, batch_dir, tmp_path):
    cfg = cfg_for(tmp_path, "lin")
    rp = P.start_pipeline(spark, batch_dir, cfg, with_rollup=False)
    rp.process_all()
    rp.stop()
    manifests = S.read_lineage(f"{cfg.output_dir}/events")
    # one manifest per input file; availableNow may add a final empty
    # watermark-flush epoch, which is legitimate lineage too
    assert len([m for m in manifests if m["rows"] > 0]) == N_BATCHES
    total = sum(m["rows"] for m in manifests)
    assert total == S.read_output(spark, f"{cfg.output_dir}/events").count()
    assert all("files" in m for m in manifests)


def test_exactly_once_sink_idempotent(spark, tmp_path):
    out = str(tmp_path / "sink")
    sink = S.ExactlyOnceParquetSink(out)
    df = datagen.sequences_view(spark, SF).limit(50).select("doc_id", "n_tok", "source", "ts")
    sink(df, 7)
    n1 = S.read_output(spark, out).count()
    sink(df, 7)  # replayed epoch (restart between write and WAL commit)
    n2 = S.read_output(spark, out).count()
    assert n1 == n2 == 50
    assert len(S.read_lineage(out)) == 1


def test_restart_identical_output(spark, tmp_path):
    """North rule: kill mid-stream, resume from checkpoint → emitted row
    sets AND per-window rollup identical to an uninterrupted run."""
    half_a = str(tmp_path / "in_half")
    full = str(tmp_path / "in_full")
    paths = datagen.write_sequence_batches(spark, SF, full, n_batches=N_BATCHES)
    os.makedirs(half_a)
    # stage 1: only the first two batch files visible
    for p in paths[:2]:
        shutil.copy2(p, os.path.join(half_a, os.path.basename(p)))

    cfg_r = cfg_for(tmp_path, "restart")
    rp = P.start_pipeline(spark, half_a, cfg_r, with_rollup=True)
    rp.process_all()
    rp.stop()  # ── kill ──
    for p in paths[2:]:
        shutil.copy2(p, os.path.join(half_a, os.path.basename(p)))
    rp = P.start_pipeline(spark, half_a, cfg_r, with_rollup=True)  # same ckpt
    rp.process_all()
    rp.stop()

    cfg_u = cfg_for(tmp_path, "uninterrupted")
    rp = P.start_pipeline(spark, full, cfg_u, with_rollup=True)
    rp.process_all()
    rp.stop()

    assert rows_set(spark, f"{cfg_r.output_dir}/events") == rows_set(
        spark, f"{cfg_u.output_dir}/events"
    )

    def rollup_set(out_dir):
        df = S.read_output(spark, f"{out_dir}/rollup")
        return {
            (r["win_start"], r["source"], r["n_seq"], r["sum_tok"], r["sum_cksum"])
            for r in df.collect()
        }

    assert rollup_set(cfg_r.output_dir) == rollup_set(cfg_u.output_dir)


def test_emitted_windows_match_batch_rollup(spark, batch_dir, tmp_path):
    """Append-mode windows that HAVE emitted must equal the batch
    computation for those windows (late-data semantics aside, emitted
    results are never wrong)."""
    cfg = cfg_for(tmp_path, "roll")
    rp = P.start_pipeline(spark, batch_dir, cfg, with_rollup=True)
    rp.process_all()
    rp.stop()
    got = {
        (r["win_start"], r["source"]): (r["n_seq"], r["sum_tok"])
        for r in S.read_output(spark, f"{cfg.output_dir}/rollup").collect()
    }
    if not got:
        pytest.skip("watermark never closed a window on this fixture")
    from bitquery_kafka_streams_rust_spark.operators.aggregates import windowed_stats

    events = S.read_output(spark, f"{cfg.output_dir}/events")
    batch = {
        (r["win_start"], r["source"]): (r["n"], r["total"])
        for r in windowed_stats(events, "ts", "600 seconds", by=["source"], value_col="n_tok").collect()
    }
    for k, v in got.items():
        assert batch[k] == v, f"window {k}: streamed {v} != batch {batch[k]}"


def test_streaming_running_counters_update_mode(spark, batch_dir, tmp_path):
    """A1 running counters (dex_processor.rs:91-117) as a streaming
    groupBy in update mode: the latest state per source equals the
    batch aggregation over everything ingested."""
    from bitquery_kafka_streams_rust_spark.schemas import SEQUENCES

    stream = (
        spark.readStream.schema(SEQUENCES)
        .option("maxFilesPerTrigger", 1)
        .parquet(batch_dir)
    )
    counters = stream.groupBy("source").agg(
        F.count("*").alias("total"),
        F.sum(F.when(F.col("n_tok") > 1000, 1).otherwise(0)).alias("large"),
    )
    q = (
        counters.writeStream.format("memory")
        .queryName("counters_out")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        r["source"]: (r["total"], r["large"])
        for r in spark.sql("SELECT * FROM counters_out").collect()
    }
    seq = datagen.sequences_view(spark, SF)
    expect = {
        r["source"]: (r["total"], r["large"])
        for r in seq.groupBy("source")
        .agg(
            F.count("*").alias("total"),
            F.sum(F.when(F.col("n_tok") > 1000, 1).otherwise(0)).alias("large"),
        )
        .collect()
    }
    assert got == expect


@pytest.mark.watchdog_timeout(300)
def test_bloom_gate_runs_map_side_in_stream(spark, sf_dir, tmp_path):
    """The Bloom decontamination gate is stateless expression work, so
    it composes into a streaming query with no watermark/state — the
    survivors must equal the batch filter's."""
    from bitquery_kafka_streams_rust_spark import datagen
    from bitquery_kafka_streams_rust_spark.operators import dedup as DD

    seq = datagen.sequences_view(spark, sf_dir)
    num = F.substring("doc_id", 4, 18).cast("long")
    ev_grams = seq.where(num % 97 == 0).select(
        F.explode(DD.token_gram_hashes("tokens", 8)).alias("g")
    )
    words = DD.bloom_words(ev_grams, m_bits=1 << 16, k=4)
    in_dir = str(tmp_path / "in")
    seq.coalesce(2).write.parquet(in_dir)

    def gate(df):
        hits = DD.bloom_hit_count(DD.token_gram_hashes("tokens", 8), words, 1 << 16, 4)
        return df.where(num % 97 != 0).where(hits < 16).select("doc_id")

    stream = spark.readStream.schema(
        spark.read.parquet(in_dir).schema
    ).parquet(in_dir)
    q = (
        gate(stream)
        .writeStream.format("memory")
        .queryName("bloom_gate_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(r["doc_id"] for r in spark.sql("SELECT * FROM bloom_gate_stream").collect())
    want = sorted(r["doc_id"] for r in gate(spark.read.parquet(in_dir)).collect())
    assert len(want) > 0
    assert got == want


@pytest.mark.watchdog_timeout(300)
def test_pipeline_bloom_gate_end_to_end(spark, batch_dir, tmp_path):
    """FilterConfig.bloom_gate drops eval-overlapping rows inside the
    exactly-once pipeline, in the scan stage: output = the normal
    pipeline's rows minus exactly the rows the batch-side gate drops."""
    from bitquery_kafka_streams_rust_spark.operators.dedup import (
        bloom_hit_count,
        bloom_words,
        token_gram_hashes,
    )

    seq = datagen.sequences_view(spark, SF)
    num = F.substring("doc_id", 4, 18).cast("long")
    ev_grams = seq.where(num % 97 == 0).select(
        F.explode(token_gram_hashes("tokens", 8)).alias("g")
    )
    words = bloom_words(ev_grams, m_bits=1 << 16, k=4)

    base = cfg_for(tmp_path, "bloom")
    cfg = EngineConfig(
        processing=base.processing,
        filters=FilterConfig(
            source_allowlist=base.filters.source_allowlist,
            min_n_tok=base.filters.min_n_tok,
            bloom_gate=tuple(words),
            bloom_max_hits=16,
        ),
        checkpoint_dir=base.checkpoint_dir,
        output_dir=base.output_dir,
    ).validate()
    rp = P.start_pipeline(spark, batch_dir, cfg, with_rollup=False)
    rp.process_all()
    rp.stop()
    got = {r["doc_id"] for r in S.read_output(spark, f"{cfg.output_dir}/events").collect()}

    dirty = {
        r["doc_id"]
        for r in seq.select(
            "doc_id",
            bloom_hit_count(token_gram_hashes("tokens", 8), words, 1 << 16, 4).alias("n"),
        )
        .where(F.col("n") >= 16)
        .collect()
    }
    clean_cfg = cfg_for(tmp_path, "nobloom")
    rp2 = P.start_pipeline(spark, batch_dir, clean_cfg, with_rollup=False)
    rp2.process_all()
    rp2.stop()
    base_ids = {
        r["doc_id"] for r in S.read_output(spark, f"{clean_cfg.output_dir}/events").collect()
    }
    assert dirty & base_ids, "gate must actually drop something from the spine"
    assert got == base_ids - dirty


@pytest.mark.watchdog_timeout(300)
def test_streaming_cms_sketch_matches_batch(spark, sf_dir, tmp_path):
    """The count-min sketch is a streaming aggregation whose state is
    the fixed depth*width counter grid: streaming the events through
    it must land on the identical sketch — and therefore identical
    heavy hitters — as the batch pass."""
    from bitquery_kafka_streams_rust_spark.operators import sketches as SK

    in_dir = str(tmp_path / "in")
    spark.read.parquet(f"{sf_dir}/events.parquet").coalesce(2).write.parquet(in_dir)
    batch = spark.read.parquet(in_dir)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        SK.cms_sketch(stream, "user_id")
        .writeStream.format("memory")
        .queryName("cms_stream")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    streamed = spark.sql("SELECT * FROM cms_stream")
    want = {
        (r["j"], r["bucket"]): r["cnt"]
        for r in SK.cms_sketch(batch, "user_id").collect()
    }
    got = {(r["j"], r["bucket"]): r["cnt"] for r in streamed.collect()}
    assert got == want and len(got) > 0

    # heavy hitters extracted from the STREAMED sketch == batch output
    total, n_keys = batch.groupBy().agg(
        F.count("*").alias("t"), F.count_distinct("user_id").alias("k")
    ).collect()[0]
    est = SK.cms_estimate(batch.select("user_id").distinct(), streamed, "user_id")
    from_stream = sorted(
        r["user_id"]
        for r in est.where(F.col("est_count") >= 1.2 * (float(total) / n_keys)).collect()
    )
    from_batch = sorted(
        r["user_id"] for r in SK.heavy_hitters(batch, "user_id", mean_ratio=1.2).collect()
    )
    assert from_stream == from_batch


def test_streaming_ngram_counts_match_batch(spark, sf_dir, tmp_path):
    """The LM n-gram count table as a streaming aggregation: grams
    materialize map-side per micro-batch (the real-array packed kernel)
    and the running groupBy holds ONE counter per distinct gram — state
    bounded by gram vocabulary, not stream length.  Streaming the corpus
    through must land on the identical count table as the batch pass."""
    from bitquery_kafka_streams_rust_spark.datagen import sequences_view
    from bitquery_kafka_streams_rust_spark.functions import seqkernel as SKN
    from bitquery_kafka_streams_rust_spark.operators import ngrams as NG

    def grams(df):
        return df.select("doc_id", "tokens").mapInArrow(
            SKN.packed_gram_kernel(3, "doc_id"), "doc_id string, g long"
        )

    in_dir = str(tmp_path / "in")
    sequences_view(spark, sf_dir).coalesce(2).write.parquet(in_dir)
    batch = spark.read.parquet(in_dir)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        grams(stream)
        .groupBy("g")
        .count()
        .select(SKN.packed_to_csv("g", 3).alias("gram"), "count")
        .writeStream.format("memory")
        .queryName("ngram_stream")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        r["gram"]: r["count"]
        for r in spark.sql("SELECT * FROM ngram_stream").collect()
    }
    want = {
        r["gram"]: r["n_occur"]
        for r in NG.ngram_stats(grams(batch), 3, min_count=1, top_k=None).collect()
    }
    assert len(got) > 0 and got == want


@pytest.mark.watchdog_timeout(300)
def test_streaming_quantile_sketch_matches_batch(spark, sf_dir, tmp_path):
    """The fixed-grid quantile sketch is the same mergeable-counts
    shape as count-min: streaming the events through the bucket
    aggregation must land on the identical histogram — and therefore
    identical quantile ESTIMATES — as the batch pass (order- and
    batching-invariant by construction: counts just add)."""
    from bitquery_kafka_streams_rust_spark.operators import sketches as SK

    in_dir = str(tmp_path / "in")
    spark.read.parquet(f"{sf_dir}/events.parquet").coalesce(3).write.parquet(in_dir)
    batch = spark.read.parquet(in_dir)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        SK.quantile_sketch(stream, "value", by="event_type", width=0.25, n_buckets=4096)
        .writeStream.format("memory")
        .queryName("qsk_stream")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    streamed = spark.sql("SELECT * FROM qsk_stream")
    want_sketch = {
        (r["event_type"], r["bucket"]): r["cnt"]
        for r in SK.quantile_sketch(batch, "value", by="event_type", width=0.25, n_buckets=4096).collect()
    }
    got_sketch = {(r["event_type"], r["bucket"]): r["cnt"] for r in streamed.collect()}
    assert got_sketch == want_sketch and len(got_sketch) > 0

    # estimates from the STREAMED sketch == estimates from the batch one
    est = lambda sk: {  # noqa: E731
        r["event_type"]: (r["n"], r["p50_est"], r["p90_est"], r["p99_est"])
        for r in SK.quantile_estimate(sk, (0.5, 0.9, 0.99), by="event_type", width=0.25).collect()
    }
    assert est(streamed) == est(
        SK.quantile_sketch(batch, "value", by="event_type", width=0.25, n_buckets=4096)
    )


def test_quarantine_routes_poison_pills(spark, tmp_path):
    """--quarantine path: invalid rows land in <out>/quarantine with
    the failing check named; valid rows flow to events untouched; the
    split conserves the input (stateless DLQ, duplicates replayable)."""
    from datetime import datetime

    from bitquery_kafka_streams_rust_spark.schemas import SEQUENCES

    t0 = datetime(2024, 1, 1)
    rows = [
        ("ok1", [1, 2, 3], 3, "pumpfun", t0),
        ("ok2", [4] * 20, 20, "pumpfun", t0),
        ("bad_len", [1, 2], 5, "pumpfun", t0),          # len_mismatch
        ("bad_tok", [1, -7, 2], 3, "pumpfun", t0),      # token_range
        ("bad_tok2", [99999999, 1], 2, "pumpfun", t0),  # token_range
        ("bad_len", [1, 2], 5, "pumpfun", t0),          # duplicate pill: replayable
    ]
    in_dir = str(tmp_path / "in")
    spark.createDataFrame(rows, SEQUENCES).coalesce(1).write.parquet(in_dir)
    cfg = EngineConfig(
        processing=ProcessingConfig(),
        filters=FilterConfig(source_allowlist=("pumpfun",), min_n_tok=0),
        checkpoint_dir=f"{tmp_path}/ck",
        output_dir=f"{tmp_path}/out",
    ).validate()
    rp = P.start_pipeline(
        spark, in_dir, cfg, with_rollup=False, with_quarantine=True
    )
    rp.process_all()
    rp.stop()
    events = S.read_output(spark, f"{cfg.output_dir}/events")
    assert {r["doc_id"] for r in events.collect()} == {"ok1", "ok2"}
    quar = S.read_output(spark, f"{cfg.output_dir}/quarantine")
    got = sorted(
        (r["doc_id"], r["reason"], r["n_tok"], r["actual_len"])
        for r in quar.collect()
    )
    assert got == [
        ("bad_len", "len_mismatch", 5, 2),
        ("bad_len", "len_mismatch", 5, 2),  # duplicate preserved
        ("bad_tok", "token_range", 3, 3),
        ("bad_tok2", "token_range", 2, 2),
    ]
    assert events.count() + quar.count() == len(rows)
