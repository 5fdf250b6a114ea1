"""SparkSession factory.

Replaces the reference's hand-rolled runtime knobs (worker pool =
num_cpus at ``src/config.rs:266``, bounded channels at
``src/batch_processor.rs:51-56``, memory accounting at
``src/resource_manager.rs:74-142``) with Spark's own scheduler, AQE and
unified memory manager.  At cluster scale the same settings apply per
executor; locally ``local[N]`` stands in for N executor cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "bitquery-streams-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a session tuned for this engine.

    - AQE on: runtime coalescing + skew-join mitigation (the reference's
      backpressure/worker tuning is static; AQE re-plans per stage).
    - Arrow on: every pandas UDF crosses the JVM/Python boundary in
      columnar batches (the reference is scalar per-event Rust).
    - UTC session TZ: required for DuckDB-oracle comparability.
    - shuffle partitions default = cores (local) — at cluster scale set
      ~2-3x total executor cores via ``spark_graft.shuffle.partitions``.
    """
    # Python WORKER processes (pandas UDF / mapInPandas) import this
    # package by module reference; the driver's sys.path does not reach
    # them, so pin the repo root into PYTHONPATH before the JVM (and its
    # python daemons) launch.  Cluster equivalent: spark-submit
    # --py-files engine.zip.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    py_path = os.environ.get("PYTHONPATH", "")
    if repo_root not in py_path.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + py_path if py_path else "")
        )

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        if master.startswith("local[") and master.endswith("]"):
            n = master.removeprefix("local[").removesuffix("]")
            shuffle_partitions = cpus if n == "*" else max(int(n), 1)
        else:
            # cluster masters (yarn, spark://, k8s://) or bare "local":
            # size via env; override per-job with shuffle_partitions=
            shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus))

    open_cost = os.environ.get("SPARK_GRAFT_OPEN_COST_BYTES", str(1024 * 1024))
    state_provider = os.environ.get(
        "SPARK_GRAFT_STATE_PROVIDER",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Token-array rows expand ~10-30x from parquet to in-memory
        # arrays, so the default 128 MB scan split yields multi-GB
        # per-task batches whose GC cost grows superlinearly (measured:
        # the decode stage ran 4x faster at 16 MB splits on the SAME
        # cores — measured for commit e73ddb2).  32 MB keeps per-task
        # memory bounded while staying coarse enough that a 100 TB table
        # is ~3M tasks; override per job with extra_conf.
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        .config("spark.sql.files.openCostInBytes", open_cost)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # RocksDB state store: streaming state (dedup keys, join buffers)
        # lives off-heap and spills to disk — at 10^12-row state the
        # HDFSBacked provider's whole-map-in-heap model OOMs, and its
        # per-commit full-delta rewrite dominated epoch time in profiling
        .config("spark.sql.streaming.stateStore.providerClass", state_provider)
        # changelog checkpointing: commit ships the per-batch changelog
        # instead of re-uploading whole SST files every epoch
        .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
                "true")
        # Spark 4.1 writes a checksum companion file for EVERY checkpoint
        # file; measured here it multiplied per-partition state-commit
        # cost ~6x (commit b479168: 144s -> 22s at local[8],
        # 32 state partitions, RocksDB). Default to the pre-4.1 behavior;
        # flip on via env where checkpoint durability beats commit latency.
        .config(
            "spark.sql.streaming.checkpoint.fileChecksum.enabled",
            os.environ.get("SPARK_GRAFT_CKPT_CHECKSUM", "false"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
