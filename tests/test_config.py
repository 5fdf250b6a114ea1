"""Config validation + state-partition auto-sizing (config.py)."""

from __future__ import annotations

import pytest

from bitquery_kafka_streams_rust_spark.config import (
    ConfigError,
    EngineConfig,
    FilterConfig,
    ProcessingConfig,
    auto_state_partitions,
)


def test_auto_state_partitions_sizing():
    # small state: lower clamp (cores/4) wins over ceil(keys/target)
    assert auto_state_partitions(10_000, 32) == 8
    # bench regime: 600k keys -> 6 stores, clamped up to 8
    assert auto_state_partitions(600_000, 32) == 8
    # mid: ceil(keys/target) inside the clamp window
    assert auto_state_partitions(1_500_000, 32) == 15
    # huge state: upper clamp = cores (more stores than cores adds
    # fixed commit cost with zero parallelism)
    assert auto_state_partitions(10**9, 32) == 32
    assert auto_state_partitions(50_000_000, 512) == 500
    # degenerate inputs
    assert auto_state_partitions(0, 8) == 2
    assert auto_state_partitions(1, 1) == 1
    with pytest.raises(ConfigError):
        auto_state_partitions(100, 0)


def test_state_partitions_validation():
    ProcessingConfig(state_partitions=8).validate()
    ProcessingConfig(state_partitions=None).validate()
    with pytest.raises(ConfigError):
        ProcessingConfig(state_partitions=0).validate()


def test_engine_config_fail_fast():
    with pytest.raises(ConfigError):
        EngineConfig(processing=ProcessingConfig(batch_timeout_ms=0)).validate()
    with pytest.raises(ConfigError):
        EngineConfig(filters=FilterConfig(min_n_tok=5, max_n_tok=3)).validate()
    EngineConfig().validate()


def test_pipeline_cli_state_partition_flags():
    """run_pipeline --auto-state-keys / --state-partitions feed
    ProcessingConfig.state_partitions (the checkpoint-latched value)."""
    import os

    import run_pipeline as RP

    base = ["--input", "x", "--checkpoint", "c", "--output", "o"]
    cfg = RP.build_config(RP.parse_args([*base, "--auto-state-keys", "600000"]))
    # cores as run_pipeline reads them: SPARK_GRAFT_CPUS, default 32
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    assert cfg.processing.state_partitions == auto_state_partitions(600_000, cores)
    cfg = RP.build_config(
        RP.parse_args([*base, "--state-partitions", "16", "--auto-state-keys", "1"])
    )
    assert cfg.processing.state_partitions == 16  # explicit wins
    assert RP.build_config(RP.parse_args(base)).processing.state_partitions is None
