"""Stream and checkpoint-mode pins.

1. The SPARK_GRAFT_CKPT_MODE switch (materialize_reused) must be
   result-invariant across local / persist / reliable.
2. The epoch-singleton debug guard must pass on the shipped source
   construction (one file per epoch + maxFilesPerTrigger=1).

The stream entries' rows are pinned to their oracles in
test_oracle_pins.py.
"""

from __future__ import annotations

import os

import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def registry():
    from sparkml_som_spark.operators.registry import load_all

    return load_all()


def _rows(spark, registry, name):
    return sorted(repr(tuple(r)) for r in registry[name].fn(spark, SF).collect())


def test_epoch_guard_passes_on_shipped_source(spark, registry):
    os.environ["SPARK_GRAFT_STREAM_EPOCH_GUARD"] = "1"
    try:
        rows = registry["stream_minhash_dedup_guard"].fn(spark, SF).collect()
        assert len(rows) == 4  # guard ran, no AssertionError, 4 epochs
    finally:
        os.environ.pop("SPARK_GRAFT_STREAM_EPOCH_GUARD", None)


@pytest.mark.parametrize(
    "name",
    [
        "tfidf_top_terms",  # dual-keyed aggregate reuse site (relational3)
        "dsir_importance_weights",  # broadcast + aggregate dual consumer
        "dedup_incremental_components",  # iterative loop w/ truncation sites
    ],
)
def test_ckpt_mode_result_invariant(spark, registry, name):
    os.environ.pop("SPARK_GRAFT_CKPT_MODE", None)
    base = _rows(spark, registry, name)
    try:
        for mode in ("persist", "reliable"):
            os.environ["SPARK_GRAFT_CKPT_MODE"] = mode
            assert _rows(spark, registry, name) == base, mode
    finally:
        os.environ.pop("SPARK_GRAFT_CKPT_MODE", None)
