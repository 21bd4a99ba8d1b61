"""The engine's environment options are a closed inventory: a new
SPARK_GRAFT_* switch must be added here on purpose, not land silently
as an in-code A/B fork."""

from __future__ import annotations

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "sparkml_som_spark"

ENV_OPTIONS = {
    # session sizing and placement
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_SHUFFLE",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_WAREHOUSE",
    "SPARK_GRAFT_EVENTLOG_DIR",
    # session conf for cluster-side tuning
    "SPARK_GRAFT_MAX_PARTITION_BYTES",
    "SPARK_GRAFT_IO_CODEC",
    "SPARK_GRAFT_PREFER_SMJ",
    "SPARK_GRAFT_SHJ_LOCALMAP_THRESHOLD",
    # deployment: materialize_reused's checkpoint form
    "SPARK_GRAFT_CKPT_MODE",
    "SPARK_GRAFT_CKPT_DIR",
    # safety: the epoch-admission streams' one-epoch-per-batch assert
    "SPARK_GRAFT_STREAM_EPOCH_GUARD",
}


def test_env_option_inventory_is_closed():
    found = set()
    for path in PKG.rglob("*.py"):
        found.update(re.findall(r"SPARK_GRAFT_[A-Z0-9_]+", path.read_text()))
    assert found == ENV_OPTIONS
