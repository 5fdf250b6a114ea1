"""The traced run: per-layer numbers for one workload.

The run first repeats the untraced workload, for the end-to-end
reference, then a traced pass in fresh sessions with
``spark.eventLog`` on, a ``StreamingQueryListener`` and a timing wrapper
around the sink's ``__call__``.  Spans (workload -> get_spark /
start_pipeline / epochs with their phases / query passes with plan and
execute) are kept in memory and written out at exit.
``trace.overhead_frac`` compares the traced pass's ``warm_cpu_s`` with
the untraced one's.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time

from .common import iso_to_epoch, median

LAYER_UNITS: dict[str, str] = {
    "session.get_spark_s": "s",
    "streaming.source.latest_offset_ms": "ms",
    "streaming.source.backlog_files_max": "count",
    "functions.tokens.decode_rows_per_s": "1/s",
    "functions.seqkernel.valid_events_rows_per_s": "1/s",
    "functions.seqkernel.valid_events_cold_s": "s",
    "functions.seqkernel.valid_events_mismatch_rows": "count",
    "functions.seqkernel.python_eval_s": "s",
    "functions.seqkernel.python_boot_s": "s",
    **{f"streaming.pipeline.{p}_{k}": "ms"
       for p in ("add_batch", "query_planning", "wal_commit", "commit_offsets", "trigger")
       for k in ("ms", "ms_sum")},
    "streaming.pipeline.epochs": "count",
    "streaming.state.commit_ms": "ms",
    "streaming.state.update_ms": "ms",
    "streaming.state.removal_ms": "ms",
    "streaming.state.rows_total": "count",
    "streaming.state.memory_bytes": "B",
    "streaming.state.rows_dropped_by_watermark": "count",
    "exchange.write_bytes_per_row": "B",
    "exchange.read_bytes": "B",
    "exchange.fetch_wait_ms": "ms",
    "executor.cpu_s": "s",
    "executor.run_s": "s",
    "executor.gc_s": "s",
    "executor.busy_frac": "1",
    "streaming.sink.call_ms": "ms",
    "streaming.sink.self_ms": "ms",
    "ledger.input_rows": "count",
    "ledger.invalid_rows": "count",
    "ledger.gate_drop_rows": "count",
    "ledger.dedup_drop_rows": "count",
    "ledger.late_drop_rows": "count",
    "ledger.output_rows": "count",
    "scaling.backfill_seq_per_s_1core": "1/s",
    "scaling.speedup_1_to_n": "1",
    "bench.backfill_seq_per_s": "1/s",
    "bench.backfill_first_epoch_s": "s",
    "bench.live_latency_p50_s": "s",
    "bench.live_latency_p90_s": "s",
    "bench.live_latency_samples": "count",
    "bench.gen_lag_max_s": "s",
    "bench.batch_cold_s": "s",
    "bench.headline_warm_s": "s",
    "bench.curation_warm_s": "s",
    "bench.failed_frac": "1",
    "trace.overhead_frac": "1",
}
PHASES = {"add_batch": "addBatch", "query_planning": "queryPlanning",
          "wal_commit": "walCommit", "commit_offsets": "commitOffsets",
          "trigger": "triggerExecution"}


def query_names() -> list[str]:
    from .batch import CURATION, HEADLINE

    return HEADLINE + CURATION


for _n in query_names():
    LAYER_UNITS[f"query.{_n}.warm_s"] = "s"
    LAYER_UNITS[f"query.{_n}.cold_s"] = "s"


class Span:
    def __init__(self, tracer, name, parent, attrs):
        self.tracer, self.name, self.parent, self.attrs = tracer, name, parent, attrs
        self.start = time.time()
        self.end = None
        self.id = len(tracer.spans)
        tracer.spans.append(self)
        tracer.stack.append(self)

    def close(self) -> None:
        self.end = time.time()
        if self.tracer.stack and self.tracer.stack[-1] is self:
            self.tracer.stack.pop()


class Tracer:
    """In-memory spans from the benchmark's side of each layer boundary,
    plus everything the streaming listener and the sink wrapper see."""

    def __init__(self):
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.progress: list[dict] = []
        self.sink_calls: list[dict] = []
        self._lock = threading.Lock()

    def span(self, name: str, **attrs) -> Span:
        return Span(self, name, self.stack[-1].id if self.stack else None, attrs)

    def add_span(self, name, start, end, parent, **attrs) -> int:
        """A finished span; returns its id."""
        s = Span(self, name, parent, attrs)
        s.start, s.end = start, end
        self.stack.pop()
        return s.id

    def on_session(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                with tracer._lock:
                    tracer.progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(Listener())

    def wrap_sink(self):
        """Time every ``ExactlyOnceParquetSink.__call__``; returns the undo."""
        from bitquery_kafka_streams_rust_spark.streaming import sink as S

        orig = S.ExactlyOnceParquetSink.__call__
        tracer = self

        def timed(sink, batch_df, batch_id):
            t0 = time.time()
            try:
                return orig(sink, batch_df, batch_id)
            finally:
                with tracer._lock:
                    tracer.sink_calls.append({"out": os.path.basename(sink.out_dir),
                                              "batch_id": batch_id,
                                              "start": t0, "end": time.time()})

        S.ExactlyOnceParquetSink.__call__ = timed
        return lambda: setattr(S.ExactlyOnceParquetSink, "__call__", orig)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"id": s.id, "name": s.name, "parent": s.parent,
                                    "start": s.start, "end": s.end, **s.attrs}) + "\n")


def fold_event_log(event_dir: str) -> dict:
    """Sum SparkListenerTaskEnd metrics over every application logged,
    and keep the job intervals for the sink's self time."""
    tot = {"run_ms": 0, "cpu_ns": 0, "gc_ms": 0, "w_bytes": 0, "w_rows": 0,
           "r_bytes": 0, "fetch_wait_ms": 0, "py_run": 0, "py_boot": 0}
    jobs: dict[tuple[str, int], list[float]] = {}
    # one directory per application (rolling event logs), or one file
    for path in glob.glob(os.path.join(event_dir, "**"), recursive=True):
        if not os.path.isfile(path):
            continue
        app = os.path.dirname(path) if os.path.dirname(path) != event_dir else path
        with open(path) as f:
            for line in f:
                if '"SparkListenerTask' not in line[:40] and '"SparkListenerJob' not in line[:40]:
                    continue
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    jobs[(app, e["Job ID"])] = [e["Submission Time"] / 1000.0, None]
                elif ev == "SparkListenerJobEnd" and (app, e["Job ID"]) in jobs:
                    jobs[(app, e["Job ID"])][1] = e["Completion Time"] / 1000.0
                elif ev == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics") or {}
                    tot["run_ms"] += m.get("Executor Run Time", 0)
                    tot["cpu_ns"] += m.get("Executor CPU Time", 0)
                    tot["gc_ms"] += m.get("JVM GC Time", 0)
                    w = m.get("Shuffle Write Metrics") or {}
                    tot["w_bytes"] += w.get("Shuffle Bytes Written", 0)
                    tot["w_rows"] += w.get("Shuffle Records Written", 0)
                    r = m.get("Shuffle Read Metrics") or {}
                    tot["r_bytes"] += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
                    tot["fetch_wait_ms"] += r.get("Fetch Wait Time", 0)
                    # SQL timing metrics of the Python runners, in ms
                    for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                        name = acc.get("Name")
                        if name == "time to run Python workers":
                            tot["py_run"] += int(acc.get("Update", 0))
                        elif name == "time to start Python workers":
                            tot["py_boot"] += int(acc.get("Update", 0))
    tot["jobs"] = [v for v in jobs.values() if v[1] is not None]
    return tot


def _union_within(intervals, lo, hi) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    segs = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in segs:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _stream_layers(out: dict, progress: list[dict], tracer: Tracer, ev: dict) -> None:
    events = [p for p in progress
              if p.get("name") == "sequence_events" and p.get("numInputRows")]
    runs = [s for s in tracer.spans if s.name == "drain"]
    for p in events:
        d = p.get("durationMs") or {}
        start = iso_to_epoch(p["timestamp"])
        parent = next((r.id for r in runs if r.start <= start <= (r.end or start)), None)
        epoch = tracer.add_span("epoch", start, start + d.get("triggerExecution", 0) / 1000.0,
                                parent, batch_id=p["batchId"], rows=p["numInputRows"])
        # progress reports each phase's duration, not its offset in the epoch
        for k, v in d.items():
            tracer.add_span(k, start, start + v / 1000.0, epoch)
    for short, key in PHASES.items():
        vals = [(p.get("durationMs") or {}).get(key, 0) for p in events]
        out[f"streaming.pipeline.{short}_ms"] = median(vals)
        out[f"streaming.pipeline.{short}_ms_sum"] = float(sum(vals))
    out["streaming.pipeline.epochs"] = len(events)
    out["streaming.source.latest_offset_ms"] = median(
        [(p.get("durationMs") or {}).get("latestOffset", 0) for p in events])
    ops = [s for p in events for s in (p.get("stateOperators") or [])]
    if ops:
        out["streaming.state.commit_ms"] = median([s.get("commitTimeMs", 0) for s in ops])
        out["streaming.state.update_ms"] = median([s.get("allUpdatesTimeMs", 0) for s in ops])
        out["streaming.state.removal_ms"] = median([s.get("allRemovalsTimeMs", 0) for s in ops])
        last = events[-1].get("stateOperators") or []
        out["streaming.state.rows_total"] = sum(s.get("numRowsTotal", 0) for s in last)
        out["streaming.state.memory_bytes"] = sum(s.get("memoryUsedBytes", 0) for s in last)
        out["streaming.state.rows_dropped_by_watermark"] = sum(
            s.get("numRowsDroppedByWatermark", 0) for s in ops)
    calls = [c for c in tracer.sink_calls if c["out"] == "events"]
    if calls:
        out["streaming.sink.call_ms"] = median([(c["end"] - c["start"]) * 1000 for c in calls])
        # self time: the call minus the Spark jobs it waits on (any job
        # running inside the call window; the rollup's jobs may overlap,
        # so this is a lower bound)
        jobs = ev["jobs"]
        out["streaming.sink.self_ms"] = median([
            max(0.0, (c["end"] - c["start"]) - _union_within(jobs, c["start"], c["end"])) * 1000
            for c in calls])


def decode_probes(b, in_dir: str, out: dict, tracer: Tracer) -> None:
    """The decode stage alone, JVM expressions versus the Arrow kernel
    twin, over the backfill input read as a batch table."""
    from bitquery_kafka_streams_rust_spark.functions import seqkernel as SKN
    from bitquery_kafka_streams_rust_spark.functions import tokens as TK

    spark, _ = b.get_spark()
    df = spark.read.parquet(in_dir)
    rows = df.count()
    cols = ["doc_id", "n_tok", "source", "ts"]
    jvm = df.where(TK.is_valid_sequence("tokens", "n_tok")).select(
        *cols, TK.token_checksum("tokens").alias("cksum"))
    kern = df.select(*cols, "tokens").mapInArrow(SKN.valid_events_kernel,
                                                 SKN.VALID_EVENTS_SCHEMA)

    def timed(frame, label):
        sp = tracer.span(label)
        t0 = time.perf_counter()
        frame.write.format("noop").mode("overwrite").save()
        sp.close()
        return time.perf_counter() - t0

    jvm_t = [timed(jvm, "decode_jvm") for _ in range(3)]
    kern_t = [timed(kern, "decode_kernel") for _ in range(4)]
    out["functions.tokens.decode_rows_per_s"] = rows / median(jvm_t)
    out["functions.seqkernel.valid_events_cold_s"] = kern_t[0]
    out["functions.seqkernel.valid_events_rows_per_s"] = rows / median(kern_t[1:])
    out["functions.seqkernel.valid_events_mismatch_rows"] = (
        jvm.exceptAll(kern).count() + kern.exceptAll(jvm).count())
    b.stop_spark()


def traced_run(b, workload: str, seed: int, seconds: int, run_workload, live_rng) -> dict:
    """Untraced pass (the end-to-end reference and the per-query and
    ledger figures), then the traced pass at its minimum length.
    ``stream_backfill`` adds the decode probes, the one-core drain and
    the live phase (``stream.live``, untraced, seeded by ``live_rng``)."""
    from . import stream

    base = b.work
    b.work = os.path.join(base, "untraced")
    os.makedirs(b.work)
    plain = run_workload(b, workload, seed, seconds)
    get_spark_s = list(b.get_spark_s)  # the first one launches the JVM

    b.work = os.path.join(base, "traced")
    os.makedirs(b.work)
    b.event_dir = os.path.join(base, "eventlog")
    tracer = b.tracer = Tracer()
    undo = tracer.wrap_sink()
    root = tracer.span("workload", workload=workload)
    t0 = time.perf_counter()
    try:
        traced = run_workload(b, workload, seed, 0)
    finally:
        undo()
    wall = time.perf_counter() - t0
    root.close()

    out = {k: 0.0 for k in LAYER_UNITS}
    ev = fold_event_log(b.event_dir)
    out["session.get_spark_s"] = median(get_spark_s)
    out["executor.cpu_s"] = ev["cpu_ns"] / 1e9
    out["executor.run_s"] = ev["run_ms"] / 1000.0
    out["executor.gc_s"] = ev["gc_ms"] / 1000.0
    out["executor.busy_frac"] = ev["run_ms"] / 1000.0 / (b.n * wall)
    out["exchange.write_bytes_per_row"] = ev["w_bytes"] / ev["w_rows"] if ev["w_rows"] else 0.0
    out["exchange.read_bytes"] = ev["r_bytes"]
    out["exchange.fetch_wait_ms"] = ev["fetch_wait_ms"]
    out["functions.seqkernel.python_eval_s"] = ev["py_run"] / 1000.0
    out["functions.seqkernel.python_boot_s"] = ev["py_boot"] / 1000.0
    out["trace.overhead_frac"] = traced["e2e"]["warm_cpu_s"] / plain["e2e"]["warm_cpu_s"] - 1.0
    out.update(plain["layers"])  # what the untraced workload measured itself

    if workload != "batch_queries":
        _stream_layers(out, tracer.progress, tracer, ev)
        for k, v in plain["ref"]["ledger"].items():
            out[f"ledger.{k}"] = v
    runs = [plain, traced]
    if workload == "stream_backfill":
        decode_probes(b, os.path.join(b.work, "backfill_in"), out, tracer)
        b.tracer = None
        one = stream.one_core_drain(b, os.path.join(b.work, "backfill_in"))
        out["scaling.backfill_seq_per_s_1core"] = plain["n_input"] / one
        out["scaling.speedup_1_to_n"] = plain["layers"]["bench.backfill_seq_per_s"] / out[
            "scaling.backfill_seq_per_s_1core"]
        live = stream.live(b, live_rng)
        out.update(live["layers"])
        runs.append(live)
    b.tracer = None
    out["bench.failed_frac"] = sum(r["failed"] for r in runs) / sum(
        r["attempted"] for r in runs)
    spans = os.path.join(os.path.dirname(base), "spans")
    os.makedirs(spans, exist_ok=True)
    tracer.write(os.path.join(spans, f"{workload}-seed{seed}.jsonl"))
    return {
        "layers": {k: (float(out[k]), u) for k, u in LAYER_UNITS.items()},
        "attempted": sum(r["attempted"] for r in runs),
        "failed": sum(r["failed"] for r in runs),
        "errors": [e for r in runs for e in r["errors"]],
    }
