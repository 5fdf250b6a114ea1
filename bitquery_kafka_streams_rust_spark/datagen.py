"""Deterministic synthetic sequences — the engine's primary input table.

The north rule's input is an Iceberg table of pre-tokenized training
sequences ``(doc_id string, tokens array<int32>, n_tok int32,
source string)`` + event-time ``ts``.  The sandbox testdata has no such
table, so we derive one *deterministically* from the driver-generated
``documents`` parquet using pure integer arithmetic — the identical
formula is expressible in DuckDB SQL (the ``_SEQ`` CTE in
``__spark_entry__.py``), which makes every sequence-pipeline query
oracle-checkable end to end.  The derivation lives in one place:
:func:`fixture_columns` (canon id -> doc_id, n_tok, source, ts) and
:func:`gen_token_at` (token value at a position); every view here
calls them, and ``seqkernel``'s NumPy generator is their one twin.

Generator properties (mirrors FIXTURES.md §1):
- ~1% exact duplicates: doc ids ending in 99 alias the previous id and
  reproduce its token array bit-for-bit (dedup tests; reference dedup
  at ``src/consumer.rs:235-248`` / ``src/core/utils/deduplicator.rs:50-75``).
- ``n_tok`` in [0, 2048) with occasional 0-length edge cases.
- token values = mixed-congruential hash of (canon_id, position) mod
  VOCAB_SIZE — seed-free, reproducible per row at any scale.
- ``source`` is derived skewed (~60% one hot key + 4 cold keys),
  mirroring the reference's 6 target program IDs
  (``src/processors/dex_processor.rs:38-51``) and FIXTURES.md §1's
  skew requirement (the driver documents table's own source column is
  uniform, so we don't use it).
- ``ts`` mostly monotone in doc_id with ~5% rows late by 1-4 minutes
  (watermark/late-data tests; reference window 300 s ``src/config.rs:270``).

No randomness, no driver-side loops: the whole derivation is one
codegen'd Catalyst projection, so it scales to 10^12 rows as a view
over any (doc_id, source) spine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schemas import K1, K2, MAX_TOK, VOCAB_SIZE

EPOCH = "2024-01-01 00:00:00"


def canon_id(doc_id):
    """Duplicate-aliasing: ids ≡ 99 (mod 100) replay the previous doc."""
    return F.when(doc_id % 100 == 99, doc_id - 1).otherwise(doc_id)


def fixture_columns(c, day=None):
    """(doc_id, n_tok, source, ts) of canon id ``c`` as unaliased
    Columns — the fixture's scalar derivation, spelled once (the ``_SEQ``
    oracle CTE spells the same arithmetic in DuckDB).  ``day``, for
    replicated spines, is a per-replica offset in seconds; the clock
    then runs on the replica-local id ``c % 10^7``."""
    source = (
        F.when(c % 10 < 6, "pumpfun")
        .when(c % 10 == 6, "raydium")
        .when(c % 10 == 7, "orca")
        .when(c % 10 == 8, "meteora")
        .otherwise("phoenix")
    )
    n_tok = (c * F.lit(40503) % F.lit(MAX_TOK)).cast("int")
    # ts: monotone seconds after EPOCH; every 20th row late by 1-4 min.
    # Lateness is capped BELOW the 300 s watermark delay so an
    # arrival-ordered stream never silently drops fixture rows (the
    # dedicated late-drop test crafts its own beyond-watermark rows).
    # Derived from the CANON id so a duplicate row is bit-identical to its
    # original — the dedup winner is then content-invariant (restart-identical
    # output regardless of which copy the state store admits first).
    late = F.when(c % 20 == 0, (F.lit(1) + (c / 20).cast("long") % 4) * 60).otherwise(F.lit(0))
    clock = c % 86400 if day is None else day + (c % 10_000_000) % 86400
    ts = F.to_timestamp(F.lit(EPOCH)) + F.make_interval(secs=clock - late)
    return F.concat(F.lit("doc"), c.cast("string")), n_tok, source, ts


def gen_token_at(c, pos0):
    """Token value of canon doc ``c`` at 0-based position ``pos0`` — the
    generator's one Catalyst formula (``seqkernel._gen_tokens`` is its
    NumPy twin)."""
    return (c * F.lit(K1) + pos0.cast("long") * F.lit(K2)) % F.lit(VOCAB_SIZE)


def _sequences(spine: DataFrame, c, day=None, token_c=None) -> DataFrame:
    """SEQUENCES-shaped select over a doc spine: the scalar columns of
    :func:`fixture_columns` plus the generated ``tokens`` array (from
    ``token_c``, default ``c``)."""
    doc_id, n_tok, source, ts = fixture_columns(c, day)
    tc = c if token_c is None else token_c
    tokens = F.when(n_tok == 0, F.array().cast("array<int>")).otherwise(
        F.transform(F.sequence(F.lit(0), n_tok - 1), lambda i: gen_token_at(tc, i).cast("int"))
    )
    return spine.select(
        doc_id.alias("doc_id"),
        tokens.alias("tokens"),
        n_tok.alias("n_tok"),
        source.alias("source"),
        ts.alias("ts"),
    )


def _doc_spine(spark: SparkSession, sf_dir: str, max_parallelism: int | None,
               rows_per_task: int) -> DataFrame:
    """The ``documents`` doc_id column, spread by :func:`ensure_parallel`
    BEFORE any derivation so fat derived columns never ride the
    exchange."""
    rows, parts = table_meta(spark, sf_dir, "documents") if max_parallelism else (None, None)
    return ensure_parallel(
        spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id"),
        max_parallelism,
        n_rows=rows,
        rows_per_task=rows_per_task,
        scan_partitions=parts,
    )


def ensure_parallel(
    df: DataFrame,
    max_parallelism: int | None,
    n_rows: int | None = None,
    rows_per_task: int | None = None,
    scan_partitions: int | None = None,
) -> DataFrame:
    """Round-robin repartition a scan that arrived under-parallel (the
    guide §2.5 unsplittable-input fix): the driver testdata is ONE
    parquet row group per table, so every derivation otherwise runs in
    a single task regardless of core count.  Adaptive twice over:

    - the TARGET is sized from the work, not the machine: with
      ``n_rows``/``rows_per_task`` given, target = clamp(ceil(rows /
      rows_per_task), 1, max_parallelism) — a tiny input stays
      single-task (an exchange would cost more than it buys, measured
      on the kernel paths), a big one fans out to the cores;
    - it is a NO-OP when the scan already carries >= target partitions
      (production many-file tables never pay the extra exchange).

    Round-robin is deterministic under retries (Spark sorts before
    repartitioning, SPARK-23207); call this on the narrow PRE-DERIVATION
    spine so fat derived columns never ride the exchange.  Pass
    ``scan_partitions`` (e.g. the footer-estimated split count from
    :func:`table_meta`) to avoid the df.rdd materialization — measured
    ~0.3 s of driver-side plan work per call otherwise."""
    if not max_parallelism:
        return df
    target = max_parallelism
    if n_rows is not None and rows_per_task:
        target = min(max_parallelism, -(-max(n_rows, 1) // rows_per_task))
    if target <= 1:
        return df
    if scan_partitions is None:
        scan_partitions = df.rdd.getNumPartitions()
    if scan_partitions < target:
        return df.repartition(target)
    return df


def table_meta(spark: SparkSession, sf_dir: str, name: str) -> tuple[int, int]:
    """(rows, estimated scan partitions) from parquet footers and file
    sizes — no Spark job, no df.rdd materialization.  The partition
    estimate mirrors Spark's split math coarsely (bytes / the session's
    ``spark.sql.files.maxPartitionBytes`` per file, min 1), which is all
    the no-op guard needs.  Metadata only: nothing about query RESULTS
    is cached."""
    import glob as _glob
    import os as _os

    import pyarrow.parquet as _pq

    # SQLConf's typed getter: the conf may be set as "64m", "1g", ...
    max_part = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    path_glob = f"{sf_dir}/{name}.parquet"
    rows = 0
    parts = 0
    for p in _glob.glob(path_glob) or _glob.glob(path_glob + "/*.parquet"):
        try:
            rows += _pq.ParquetFile(p).metadata.num_rows
            parts += max(1, _os.path.getsize(p) // max_part)
        except Exception:
            return 0, 0  # unknown -> caller falls back to core-count target
    return rows, parts


def sequences_view(
    spark: SparkSession, sf_dir: str, min_parallelism: int | None = None
) -> DataFrame:
    """Sequences table derived from ``{sf_dir}/documents.parquet``.

    Output schema == schemas.SEQUENCES. All columns are deterministic
    functions of (doc_id, source); tokens of a duplicated doc are
    bit-identical to the original (token-array equality invariant).
    ``min_parallelism``: see :func:`ensure_parallel` (applied to the
    scalar doc spine BEFORE derivation, so the fat token arrays never
    ride the exchange).
    """
    # ~1.5M tokens of interpreted HOF work per task (rows_per_task=1500)
    docs = _doc_spine(spark, sf_dir, min_parallelism, 1500)
    # bound reference, NOT F.col("doc_id"): the output column is also named
    # doc_id and Spark's lateral-column-alias resolution would shadow the input
    return _sequences(docs, canon_id(docs["doc_id"]))


def spine_scalars(spark: SparkSession, sf_dir: str, prefilter=None) -> DataFrame:
    """The scalar spine frame (doc_id, n_tok, source, ts, _c) the
    generator-fused kernels read; ``_c`` is the canon id the token
    formula derives from.  ``prefilter`` (over these columns) applies
    before any kernel so pruned rows cost nothing (guide §4.1).  The
    spine is adaptively repartitioned (:func:`ensure_parallel`) so the
    kernels parallelize even off a one-row-group testdata file."""
    # ~20M generated tokens per NumPy task
    docs = _doc_spine(spark, sf_dir, spark.sparkContext.defaultParallelism, 20_000)
    c = canon_id(docs["doc_id"])
    doc_id, n_tok, source, ts = fixture_columns(c)
    out = docs.select(
        doc_id.alias("doc_id"),
        n_tok.alias("n_tok"),
        source.alias("source"),
        ts.alias("ts"),
        c.alias("_c"),
    )
    if prefilter is not None:
        out = out.where(prefilter)
    return out


def _spine_from_range(
    spark: SparkSession, n_docs: int, replicas: int, num_partitions: int | None
) -> DataFrame:
    """Replica-major spine via spark.range (replica r offsets ids by
    r*10^7, so content stays reproducible at any volume) — no read, no
    shuffle; ids are contiguous per partition so downstream per-replica
    batching needs no repartition either."""
    nparts = num_partitions or max(replicas, 8)
    base = spark.range(0, replicas * n_docs, 1, nparts)
    rep = base.select(
        ((base["id"] / n_docs).cast("long") * 10_000_000 + base["id"] % n_docs).alias("doc_id")
    )
    c = canon_id(rep["doc_id"])
    # each replica occupies its own day: event time is monotone across
    # replicas (hence across batch files), so the only out-of-order rows
    # are the injected ≤4-minute-late ones — no fixture row ever falls
    # behind the 300 s watermark regardless of epoch granularity
    day = (c / 10_000_000).cast("long") * 86400
    # mask c to 2^31 before the K1 multiply: at >214 replicas c exceeds
    # 2^31 and c*K1 would overflow int64 under ANSI (identity below
    # 2^31, so replica counts <= 214 — incl. the default 120 — generate
    # bit-identical spines to the unmasked arithmetic)
    return _sequences(rep, c, day=day, token_c=c % F.lit(2**31))


def write_spine_batches(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    replicas: int,
    n_batches: int = 8,
    parts_per_batch: int = 16,
) -> int:
    """Materialize the replicated spine as n_batches parquet files
    (arrival-ordered across files by replica then id).  Returns row
    count.  Unlike write_sequence_batches this skips the global sort —
    replica index IS the arrival order, so batches = replica ranges."""
    import glob
    import os
    import shutil
    import time

    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    # replica-major range with one partition per output file: each task's
    # id range is contiguous, so every task holds exactly one _b value —
    # the partitioned write is shuffle-FREE and file order = arrival order.
    seq = _spine_from_range(spark, n_docs, replicas, n_batches * parts_per_batch)
    num = F.conv(F.substring("doc_id", 4, 18), 10, 10).cast("long")
    per = max(replicas // n_batches, 1)
    seq = seq.withColumn("_b", F.least((num / 10_000_000 / per).cast("int"), F.lit(n_batches - 1)))
    os.makedirs(out_dir, exist_ok=True)
    base = time.time() - n_batches * 10
    # parts_per_batch controls downstream scan parallelism (one ~128 MB
    # row group can't split; many smaller files stand in for the many
    # Iceberg data files a real table would have)
    stage = f"{out_dir}/.stage"
    seq.write.mode("overwrite").partitionBy("_b").parquet(stage)
    for b in range(n_batches):
        parts = sorted(glob.glob(f"{stage}/_b={b}/part-*.parquet"))
        for i, part in enumerate(parts):
            p = f"{out_dir}/b{b:04d}_f{i:04d}.parquet"
            shutil.move(part, p)
            os.utime(p, (base + b * 10, base + b * 10))
    shutil.rmtree(stage)
    return replicas * n_docs


def shards_view(
    spark: SparkSession, sf_dir: str, min_parallelism: int | None = None
) -> DataFrame:
    """Shard stream for the stream-stream correlation join (J2).

    Each doc splits into 4 shards carrying a deterministic slice of its
    tokens; docs ≡ 7 (mod 10) are withheld (unmatched-side test),
    duplicate-alias rows emit no shards (one shard set per doc_id), and
    shard ts is offset by shard_id minutes (join-window test).
    """
    docs = _doc_spine(spark, sf_dir, min_parallelism, 1500)
    d = docs["doc_id"]  # bound ref; see sequences_view
    # alias rows are dropped below, so d is its own canon id; shard ts
    # runs on the clock without the injected lateness
    doc_id, n_tok, _source, _ts = fixture_columns(d)
    ts = F.to_timestamp(F.lit(EPOCH)) + F.make_interval(secs=d % 86400)
    base = docs.where((d % 100 != 99) & (d % 10 != 7)).select(
        doc_id.alias("doc_id"),
        d.alias("_c"),
        n_tok.alias("n_tok"),
        ts.alias("ts"),
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("shard_id"),
    )
    s = F.col("shard_id")
    quarter = (F.col("n_tok") / 4).cast("int")
    # generate ONLY the shard's slice (tokens are position-hashed, so
    # slice [s*q, s*q+len) of the full array == direct generation over
    # that index range — 4x less token materialization than build-then-
    # slice, bit-identical values incl. the slice() end-clamping and
    # the greatest(quarter, 1) minimum length)
    start = s * quarter
    m = F.greatest(
        F.least(F.col("n_tok") - start, F.greatest(quarter, F.lit(1))), F.lit(0)
    ).cast("int")
    c = F.col("_c")
    tokens_part = F.when(m <= 0, F.array().cast("array<int>")).otherwise(
        F.transform(
            F.sequence(start, start + m - 1), lambda i: gen_token_at(c, i).cast("int")
        )
    )
    return base.select(
        "doc_id",
        s.cast("int").alias("shard_id"),
        tokens_part.alias("tokens_part"),
        # size(tokens_part) as pure scalar arithmetic: consumers that
        # need only the shard LENGTH (the correlation-join rollups) read
        # this column and Catalyst then prunes the tokens_part generator
        # entirely — no per-token work at all (guide §2.3: shuffle/compute
        # metadata, not payloads).  Equal to size(tokens_part) by
        # construction (the when(m<=0) branch emits an empty array).
        m.alias("part_len"),
        (F.col("ts") + F.make_interval(mins=s)).alias("ts"),
    )


def write_sequence_batches(
    spark: SparkSession, sf_dir: str, out_dir: str, n_batches: int = 8
) -> list[str]:
    """Materialize the sequences view as N parquet files in `out_dir`.

    Stands in for the micro-batch appends of the Iceberg/Kafka source:
    the file-streaming source picks the files up with
    ``maxFilesPerTrigger=1`` so each file is one micro-batch.  Batch
    assignment follows ARRIVAL order (the pre-lateness clock, like a
    Kafka partition's append order) so event time is mostly monotone
    across micro-batches — late rows stay within the watermark delay.
    Assignment is deterministic, so any two runs see identical batch
    contents — required for restart-identical output.
    """
    import glob
    import os
    import shutil
    import time

    from pyspark.sql import Window

    # arrival clock = event ts + injected lateness = canon id % 86400
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    c = canon_id(docs["doc_id"])
    arrivals = docs.select(
        fixture_columns(c)[0].alias("doc_id"),
        (c % 86400).alias("_arrival"),
        docs["doc_id"].alias("_raw"),
    )
    w = Window.orderBy("_arrival", "_raw")
    n_rows = arrivals.count()
    per = -(-n_rows // n_batches)  # ceil
    batched = arrivals.withColumn(
        "_b", ((F.row_number().over(w) - 1) / per).cast("int")
    ).select("doc_id", "_raw", "_b")
    seq = sequences_view(spark, sf_dir)
    # re-attach by position: duplicates share doc_id, so join on doc_id
    # would fan out; instead recompute _raw on the seq side
    seq = seq.join(
        batched.groupBy("doc_id").agg(F.min("_b").alias("_b")), "doc_id"
    )
    os.makedirs(out_dir, exist_ok=True)
    base = time.time() - n_batches * 10
    paths = []
    for b in range(n_batches):
        stage = f"{out_dir}/.stage_{b}"
        seq.where(F.col("_b") == b).drop("_b").coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        p = f"{out_dir}/batch_{b:04d}.parquet"
        shutil.move(part, p)
        shutil.rmtree(stage)
        # strictly increasing mtimes → file source admits oldest-first,
        # so micro-batch order is reproducible across runs/restarts
        os.utime(p, (base + b * 10, base + b * 10))
        paths.append(p)
    return paths


def blocks_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested BlockMessage table (schemas.BLOCKS) derived
    deterministically from ``documents`` — the P1/P3 extraction input
    (``parse_block_message_content`` src/consumer.rs:267-304,
    ``parse_dex_message_content`` src/consumer.rs:348-413).

    Per block c = doc_id:
      n_tx = c % 5 transactions; tx j: success iff (c + j) % 3 != 0,
      fee = c*10 + j, fee_payer NULL iff (c + j) % 7 = 0 (the
      unwrap_or branch), (c + j) % 4 log lines; tx j carries
      (c + 2j) % 3 trades; trade k: program NULL iff (c + j + k) % 11
      = 0, buy_amount = c*100 + j*10 + k, sell = 2x, accounts/market
      from small modular families.  Identical arithmetic in the
      ``_SQL_BLOCK_TX`` / ``_SQL_DEX_TRADE`` oracle CTEs
      (__spark_entry__.py), so P1 and P3 are oracle-checkable end to
      end.  One codegen'd projection; no Python, no shuffle."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    c = docs["doc_id"]
    n_tx = (c % 5).cast("int")

    def _trade(j, k):
        gate = c + j.cast("long") + k.cast("long")
        buy = c * 100 + j.cast("long") * 10 + k.cast("long")
        return F.struct(
            F.when(gate % 11 == 0, F.lit(None).cast("string")).otherwise(
                F.concat(F.lit("prog"), ((c + k.cast("long")) % 10).cast("string"))
            ).alias("program_address"),
            F.concat(F.lit("mkt"), ((c + j.cast("long")) % 8).cast("string")).alias(
                "market_address"
            ),
            buy.alias("buy_amount"),
            (buy * 2).alias("sell_amount"),
            F.when(gate % 13 == 0, F.lit(None).cast("string")).otherwise(
                F.concat(F.lit("b"), (gate % 50).cast("string"))
            ).alias("buy_account"),
            F.concat(F.lit("s"), (gate % 50).cast("string")).alias("sell_account"),
            (gate % 100).alias("fee"),
            (gate % 7).alias("royalty"),
        )

    def _tx(j):
        n_tr = ((c + 2 * j.cast("long")) % 3).cast("int")
        trades = F.when(n_tr == 0, F.array()).otherwise(
            F.transform(F.sequence(F.lit(0), n_tr - 1), lambda k: _trade(j, k))
        )
        n_logs = ((c + j.cast("long")) % 4).cast("int")
        logs = F.when(n_logs == 0, F.array().cast("array<string>")).otherwise(
            F.transform(
                F.sequence(F.lit(0), n_logs - 1),
                lambda k: F.concat(F.lit("L"), k.cast("string")),
            )
        )
        return F.struct(
            j.cast("int").alias("idx"),
            F.concat(
                F.lit("sig"), c.cast("string"), F.lit("_"), j.cast("string")
            ).alias("signature"),
            ((c + j.cast("long")) % 3 != 0).alias("success"),
            (c * 10 + j.cast("long")).alias("fee"),
            F.when((c + j.cast("long")) % 7 == 0, F.lit(None).cast("string")).otherwise(
                F.concat(F.lit("p"), c.cast("string"), F.lit("_"), j.cast("string"))
            ).alias("fee_payer"),
            trades.alias("trades"),
            logs.alias("logs"),
        )

    txs = F.when(n_tx == 0, F.array()).otherwise(
        F.transform(F.sequence(F.lit(0), n_tx - 1), _tx)
    )
    return docs.select(
        c.alias("block_id"),
        (c * 10).alias("slot"),
        (F.to_timestamp(F.lit(EPOCH)) + F.make_interval(secs=c % 86400)).alias("ts"),
        txs.alias("transactions"),
    )


def token_blocks_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested TokenBlockMessage table (schemas.TOKEN_BLOCKS) derived
    deterministically from ``documents`` — the P2 extraction input
    (``parse_token_message_content``, src/consumer.rs:306-346).

    Per block c = doc_id:
      n_tx = c % 4 transactions; tx j carries (c + j) % 3 transfers;
      transfer k: amount = c*1000 + j*10 + k, sender NULL iff
      (c+j+k) % 5 = 0, receiver NULL iff (c+j+k) % 7 = 0, currency NULL
      iff (c+j+k) % 4 = 0 — exercising every unwrap_or("unknown")
      branch.  Identical arithmetic in the ``_TOKEN_TRANSFER`` oracle
      CTE (__spark_entry__.py), so P2 is oracle-checkable end to end.
      One codegen'd projection; no Python, no shuffle.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    c = docs["doc_id"]
    n_tx = (c % 4).cast("int")

    def _addr(prefix, k):
        return F.encode(F.concat(F.lit(prefix), (c + k).cast("string")), "utf-8")

    def _transfer(j, k):
        gate = c + j.cast("long") + k.cast("long")
        return F.struct(
            (c * 1000 + j.cast("long") * 10 + k.cast("long")).alias("amount"),
            F.when(gate % 5 == 0, F.lit(None)).otherwise(
                F.struct(_addr("s", k.cast("long")).alias("address"))
            ).alias("sender"),
            F.when(gate % 7 == 0, F.lit(None)).otherwise(
                F.struct(_addr("r", k.cast("long")).alias("address"))
            ).alias("receiver"),
            F.when(gate % 4 == 0, F.lit(None)).otherwise(
                F.struct(
                    F.encode(
                        F.concat(F.lit("m"), ((c + k.cast("long")) % 100).cast("string")),
                        "utf-8",
                    ).alias("mint_address"),
                    ((c + k.cast("long")) % 10).cast("int").alias("decimals"),
                )
            ).alias("currency"),
        )

    def _tx(j):
        n_tr = ((c + j.cast("long")) % 3).cast("int")
        transfers = F.when(n_tr == 0, F.array()).otherwise(
            F.transform(F.sequence(F.lit(0), n_tr - 1), lambda k: _transfer(j, k))
        )
        return F.struct(
            j.cast("int").alias("idx"),
            F.encode(
                F.concat(F.lit("g"), c.cast("string"), F.lit("_"), j.cast("string")),
                "utf-8",
            ).alias("signature"),
            transfers.alias("transfers"),
        )

    txs = F.when(n_tx == 0, F.array()).otherwise(
        F.transform(F.sequence(F.lit(0), n_tx - 1), _tx)
    )
    return docs.select(
        c.alias("block_id"),
        (c * 10).alias("slot"),
        (F.to_timestamp(F.lit(EPOCH)) + F.make_interval(secs=c % 86400)).alias("ts"),
        txs.alias("transactions"),
    )


# ---------------------------------------------------------------------------
# exploded position/gram tables via SCALAR codegen (optimization round 6)
# ---------------------------------------------------------------------------
#
# For EXPLODED outputs (one row per token/gram position) the Arrow
# kernel route pays serialization on the full exploded volume, while
# tokens of this generator are position-computable: explode a plain
# integer sequence() and derive the token/gram value as a whole-stage-
# codegen'd SCALAR expression — no arrays, no lambdas, no Python
# (measured 3-4x faster than the kernel emit and ~3x faster than the
# interpreted transform+posexplode chain at sf0.1).  Kernels stay the
# right tool for per-row REDUCTIONS (checksums, hit counts) and for
# real stored token arrays; these builders are the generator-fused
# explosion twins.  Every token comes from gen_token_at, so values are
# bit-identical to sequences_view.


def exploded_token_positions(spine: DataFrame) -> DataFrame:
    """(c, pos, token): one row per 1-based token position, from the
    scalar spine (needs columns _c, n_tok)."""
    c = F.col("c")
    pos = F.col("pos")
    return (
        spine.where(F.col("n_tok") > 0)
        .select(
            F.col("_c").alias("c"),
            F.explode(F.sequence(F.lit(1).cast("int"), F.col("n_tok"))).alias("pos"),
        )
        .select("c", pos.cast("long").alias("pos"),
                gen_token_at(c, pos - 1).alias("token"))
    )


def _window_starts(spine: DataFrame, n: int) -> DataFrame:
    """(c, pos): one row per 1-based start of a full ``n``-token window
    of the scalar spine (docs shorter than ``n`` have none)."""
    return spine.where(F.col("n_tok") >= n).select(
        F.col("_c").alias("c"),
        F.explode(F.sequence(F.lit(1).cast("int"), F.col("n_tok") - (n - 1))).alias("pos"),
    )


def _packed_key(m: int):
    """The 16-bit-packed key of the ``m`` tokens starting at 1-based
    ``pos`` of doc ``c``."""
    c = F.col("c")
    pos = F.col("pos")
    p = F.lit(0).cast("long")
    for k in range(m):
        p = p * F.lit(1 << 16) + gen_token_at(c, pos + F.lit(k - 1))
    return p


def exploded_gram_positions(
    spine: DataFrame, n: int = 8, base: int = 313, mod: int = 2147483647
) -> DataFrame:
    """(c, pos, g): one row per 1-based full-window gram start with the
    rolling polynomial hash, as a folded scalar expression (every
    partial sum stays < mod + 2^47: int64-safe)."""
    c = F.col("c")
    pos = F.col("pos")
    g = F.lit(0).cast("long")
    for k in range(n):
        g = (g + gen_token_at(c, pos + F.lit(k - 1)) * F.lit(pow(base, n - 1 - k, mod))) % F.lit(mod)
    return _window_starts(spine, n).select("c", pos.cast("long").alias("pos"), g.alias("g"))


def exploded_packed_grams(spine: DataFrame, n: int) -> DataFrame:
    """(c, g): one row per n-gram occurrence with the 16-bit-packed gram
    key (seqkernel.packed_gram_kernel's pairing), as scalar codegen."""
    from .functions.seqkernel import check_packed_width

    check_packed_width(n)
    return _window_starts(spine, n).select("c", _packed_key(n).alias("g"))


def exploded_packed_prefix(spine: DataFrame, n: int) -> DataFrame:
    """(c, p, next_tok): one row per n-gram occurrence — packed
    (n-1)-token prefix plus the following token, as scalar codegen."""
    from .functions.seqkernel import check_packed_width

    check_packed_width(n - 1)
    nx = gen_token_at(F.col("c"), F.col("pos") + F.lit(n - 2)).cast("int")
    return _window_starts(spine, n).select(
        "c", _packed_key(n - 1).alias("p"), nx.alias("next_tok")
    )
