"""Oracle pins and resource hygiene for entries with hand-tuned paths.

1. Each entry below carries a non-textbook Spark plan (helper-total N,
   pinned rank inputs, an AQE-off merge loop, a fused stream state
   write, pre-aggregated bigram counts, a separate draw projection, a
   DF-capped gram join).  Its rows must equal its DuckDB oracle twin
   under the strict gate canon (`tools/check_oracle.py`'s
   `row_multiset`).
2. Under SPARK_GRAFT_CKPT_MODE=persist, `materialize_reused` persists
   its input; the rank entries must release every such handle, so one
   collect leaves the session's persistent-RDD count unchanged.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from tools.check_oracle import TABLES, row_multiset

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def registry():
    from sparkml_som_spark.operators.registry import load_all

    return load_all()


@pytest.fixture(scope="module")
def oracle():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    yield con
    con.close()


@pytest.mark.parametrize(
    "name",
    [
        "quality_bigram_filter",
        "curriculum_phases",
        "histogram_equidepth_prices",
        "bpe_train_merges",
        "stream_minhash_dedup_guard",
        "stream_dedup_stratified_sample",
        "poisson_bootstrap_ci",
        "dedup_substring_runs",
    ],
)
def test_entry_matches_oracle(spark, registry, oracle, name):
    sdf = registry[name].fn(spark, SF)
    s_cols = [c.lower() for c in sdf.columns]
    s_rows = sdf.collect()
    res = oracle.execute(registry[name].sql)
    o_cols = [d[0].lower() for d in res.description]
    o_rows = res.fetchall()
    assert sorted(s_cols) == sorted(o_cols)
    assert len(s_rows) == len(o_rows) > 0
    assert row_multiset(s_rows, s_cols) == row_multiset(o_rows, o_cols)


@pytest.mark.parametrize("name", ["quality_bigram_filter", "curriculum_phases"])
def test_persist_mode_releases_reused_inputs(spark, registry, name):
    jsc = spark.sparkContext._jsc
    os.environ["SPARK_GRAFT_CKPT_MODE"] = "persist"
    try:
        before = jsc.getPersistentRDDs().size()
        registry[name].fn(spark, SF).collect()
        assert jsc.getPersistentRDDs().size() == before
    finally:
        os.environ.pop("SPARK_GRAFT_CKPT_MODE", None)
