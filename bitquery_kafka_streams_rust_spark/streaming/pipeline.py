"""The streaming spine — the reference's consumer pipeline, declaratively.

Reference dataflow (EP2, ``src/consumer.rs:106-161``):
``recv → decompress/decode → extract → dedup(signature) → filter →
commit``.  Here the identical semantics are one declarative plan:

``readStream → validate (codegen'd) → withWatermark(ts) →
dropDuplicatesWithinWatermark(doc_id) → gate (source/n_tok) →
foreachBatch exactly-once sink``

with the windowed rollup (T5) as a second query over the same stream.

Semantic mapping:
- watermark 300 s = the reference's ``dedup_window`` (``src/config.rs:270``);
  ``dropDuplicatesWithinWatermark`` matches ``MessageDeduplicator``
  (``src/core/utils/deduplicator.rs:50-75``) exactly (X2), with
  state auto-evicted by the watermark instead of LRU.
- the poison-pill path (D5) is the ``is_valid_sequence`` filter; drops
  are observable via the listener's per-query metrics (S6).
- filter-after-dedup order preserved (``consumer.rs:232-252`` dedups in
  the parse stage, filters after — order affects survivors; SURVEY §4).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..config import EngineConfig
from ..functions import tokens as TK
from ..operators.filters import sequence_gate
from .sink import ExactlyOnceParquetSink
from .source import read_sequence_stream


def build_event_stream(
    spark: SparkSession, input_dir: str, cfg: EngineConfig
) -> DataFrame:
    """validate → watermark → dedup-within-watermark → gate.

    Emits the engine's canonical event rows: (doc_id, n_tok, source,
    ts, cksum) — cksum carries the token-array-equality invariant
    without shipping the arrays to the sink."""
    p = cfg.processing
    stream = read_sequence_stream(spark, input_dir, p.max_files_per_trigger)
    if cfg.filters.bloom_gate is not None:
        # Bloom decontamination in the SCAN stage: stateless expression
        # work over the still-present token arrays, BEFORE they are
        # dropped and before the dedup shuffle — contaminated rows never
        # reach state.  One-sided error (over-drops at the documented FP
        # floor, never admits a real eval overlap).
        from ..operators.dedup import bloom_hit_count, token_gram_hashes

        f = cfg.filters
        hits = bloom_hit_count(
            token_gram_hashes("tokens", f.bloom_gram_n),
            list(f.bloom_gate),
            k=f.bloom_k,
        )
        stream = stream.where(hits < f.bloom_max_hits)
    # Decode stage runs MAP-SIDE, before any shuffle: validity + checksum
    # are computed in the scan stage and the fat token array is dropped
    # immediately.  The stateful dedup then shuffles ~40 B/row instead of
    # ~4 KB/row — at 10^12 rows that is the difference between shuffling
    # terabytes and shuffling the whole table.  The checksum preserves
    # the token-array-equality invariant end to end.
    #
    # The decode is the pure-JVM Catalyst chain, not the Arrow kernel
    # twin (seqkernel.valid_events_kernel): each new SparkContext pays a
    # Python-worker spawn whose variance at micro-batch cadence dwarfed
    # the ~1 s/epoch the kernel saves (measured heap 4N walls
    # [89, 25, 84, 27, 16] s kernel vs a stable ~7-11 s JVM).
    decoded = stream.where(TK.is_valid_sequence("tokens", "n_tok")).select(
        "doc_id",
        "n_tok",
        "source",
        "ts",
        TK.token_checksum("tokens").alias("cksum"),
    )
    # filter BEFORE the stateful op where semantics allow: the gate is
    # dedup-invariant here (duplicates are bit-identical, and the gate
    # depends only on per-row columns), so pushing it below dedup shrinks
    # streaming state — the reference's enable_pre_filtering (F8) done
    # right.  Reference order (dedup→filter) gives identical survivors.
    gated = decoded.where(
        sequence_gate(cfg.filters.source_allowlist, cfg.filters.min_n_tok, cfg.filters.max_n_tok)
    )
    return gated.withWatermark("ts", f"{p.watermark_delay_s} seconds").dropDuplicatesWithinWatermark(
        ["doc_id"]
    )


def build_quarantine_stream(
    spark: SparkSession, input_dir: str, cfg: EngineConfig
) -> DataFrame:
    """Dead-letter complement of ``build_event_stream``: rows failing
    sequence validation (D5 poison pills), classified by
    ``tokens.invalid_reason`` and stripped of their arrays map-side —
    (doc_id, source, ts, n_tok, actual_len, reason).  Stateless (no
    watermark/dedup: quarantined rows must stay REPLAYABLE as
    delivered, duplicates included), so the query is a pure scan-stage
    projection; write it via the exactly-once sink next to the main
    output and `n_input == n_events_admitted + n_gate_drops +
    n_quarantined` reconciles per epoch.  The reference logs-and-drops
    these (``src/consumer.rs`` parse errors); a quarantine table is the
    at-scale equivalent with an audit trail."""
    p = cfg.processing
    stream = read_sequence_stream(spark, input_dir, p.max_files_per_trigger)
    reason = TK.invalid_reason("tokens", "n_tok")
    return stream.where(reason.isNotNull()).select(
        "doc_id",
        "source",
        "ts",
        "n_tok",
        F.size("tokens").alias("actual_len"),
        reason.alias("reason"),
    )


def build_window_rollup(events: DataFrame, cfg: EngineConfig) -> DataFrame:
    """T5 tumbling rollup per source over the deduped event stream
    (A1/A3 analog).  Append mode: a window emits once, when the
    watermark passes its end — deterministic across restarts."""
    w = f"{cfg.processing.window_s} seconds"
    return (
        events.groupBy(F.window("ts", w).alias("win"), "source")
        .agg(
            F.count("*").alias("n_seq"),
            F.sum("n_tok").alias("sum_tok"),
            F.sum("cksum").alias("sum_cksum"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            "source",
            "n_seq",
            "sum_tok",
            "sum_cksum",
        )
    )


@dataclass
class RunningPipeline:
    events_query: StreamingQuery
    rollup_query: StreamingQuery | None
    quarantine_query: StreamingQuery | None = None

    def process_all(self) -> None:
        for q in (self.events_query, self.rollup_query, self.quarantine_query):
            if q is not None:
                q.processAllAvailable()

    def stop(self) -> None:
        for q in (self.events_query, self.rollup_query, self.quarantine_query):
            if q is not None:
                q.stop()


def start_pipeline(
    spark: SparkSession,
    input_dir: str,
    cfg: EngineConfig,
    with_rollup: bool = True,
    available_now: bool = True,
    with_quarantine: bool = False,
) -> RunningPipeline:
    """Start the exactly-once pipeline: event rows to the idempotent
    sink (+ lineage), windowed rollup to its own sink.  Both are
    checkpoint-resumable (T9): restart with the same dirs continues
    from the WAL."""
    assert cfg.checkpoint_dir and cfg.output_dir, "checkpoint_dir/output_dir required"
    if cfg.processing.state_partitions is not None:
        # The value set here is latched into each query's checkpoint at
        # first start (Spark pins stateful-operator partitioning for the
        # checkpoint's lifetime) — size it for the biggest planned
        # cluster via config.auto_state_partitions.  Session-level set is
        # the only hook Structured Streaming exposes for this.
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(cfg.processing.state_partitions)
        )
    events = build_event_stream(spark, input_dir, cfg)
    trigger = (
        {"availableNow": True}
        if available_now
        else {"processingTime": f"{cfg.processing.batch_timeout_ms} milliseconds"}
    )
    events_q = (
        events.writeStream.foreachBatch(ExactlyOnceParquetSink(f"{cfg.output_dir}/events"))
        .outputMode("append")
        .option("checkpointLocation", f"{cfg.checkpoint_dir}/events")
        .queryName("sequence_events")
        .trigger(**trigger)
        .start()
    )
    rollup_q = None
    if with_rollup:
        # NOTE: the rollup is a SECOND streaming query with its own scan
        # and its own dedup state — Structured Streaming queries cannot
        # share a source subplan, and cascading off the committed parquet
        # output would double-read replayed epochs (overwritten part
        # files get new names; only an ACID table sink like Iceberg makes
        # the cascade exactly-once).  Pass with_rollup=False where the
        # windowed aggregate isn't needed (bench and the profiler do).
        rollup = build_window_rollup(build_event_stream(spark, input_dir, cfg), cfg)
        rollup_q = (
            rollup.writeStream.foreachBatch(
                ExactlyOnceParquetSink(f"{cfg.output_dir}/rollup", lineage=False)
            )
            .outputMode("append")
            .option("checkpointLocation", f"{cfg.checkpoint_dir}/rollup")
            .queryName("sequence_rollup")
            .trigger(**trigger)
            .start()
        )
    quarantine_q = None
    if with_quarantine:
        quarantine = build_quarantine_stream(spark, input_dir, cfg)
        quarantine_q = (
            quarantine.writeStream.foreachBatch(
                ExactlyOnceParquetSink(f"{cfg.output_dir}/quarantine", lineage=False)
            )
            .outputMode("append")
            .option("checkpointLocation", f"{cfg.checkpoint_dir}/quarantine")
            .queryName("sequence_quarantine")
            .trigger(**trigger)
            .start()
        )
    return RunningPipeline(events_q, rollup_q, quarantine_q)
