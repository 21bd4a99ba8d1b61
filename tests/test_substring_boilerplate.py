"""Closed-form pair bounds of the substring-dedup candidate stage
(`dedup.substring_match_pairs`) under a shared boilerplate span.

Synthetic corpus, id arithmetic only: every doc has unique
xxhash64-mixed tokens, the first N_CLONE_PAIRS id pairs (2k, 2k+1)
share their text (the real dup signal), and B docs from BP_FROM get
the same BP_TOKENS-token span appended (BP_GRAMS pure-boilerplate
grams).  Per-gram fan-out is C(df, 2), and grams with df >
`_SSD_MAX_DF` are dropped before the join, so:

* B <= _SSD_MAX_DF: the span is kept and adds exactly BP_GRAMS*C(B, 2)
  candidate rows;
* B > _SSD_MAX_DF: the span's grams drop whole and the candidate count
  returns exactly to the B = 0 baseline;
* the clone-pair candidate set is unchanged at every B.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparkml_som_spark.operators.dedup import _SSD_L, _SSD_MAX_DF, substring_match_pairs

N_DOCS = 200
TOKENS_PER_DOC = 20
N_CLONE_PAIRS = 10
BP_TOKENS = 16
BP_FROM = 100
BP_GRAMS = BP_TOKENS - _SSD_L + 1


def _docs(spark, n_boiler: int):
    key = F.when(
        F.col("id") < 2 * N_CLONE_PAIRS, F.col("id") - F.col("id") % 2
    ).otherwise(F.col("id"))
    toks = F.transform(
        F.sequence(F.lit(0), F.lit(TOKENS_PER_DOC - 1)),
        lambda p: F.concat(
            F.lit("w"), F.pmod(F.xxhash64(key, p), F.lit(10_000_000)).cast("string")
        ),
    )
    text = F.array_join(toks, " ")
    is_bp = (F.col("id") >= BP_FROM) & (F.col("id") < BP_FROM + n_boiler)
    bp = " " + " ".join(f"bp{i}" for i in range(BP_TOKENS))
    text = F.when(is_bp, F.concat(text, F.lit(bp))).otherwise(text)
    return spark.range(N_DOCS).select(F.col("id").alias("doc_id"), text.alias("text"))


def _pairs(spark, n_boiler: int) -> tuple[int, frozenset]:
    rows = substring_match_pairs(_docs(spark, n_boiler)).collect()
    clones = frozenset(
        (r["a_id"], r["b_id"], r["i"], r["j"]) for r in rows if r["b_id"] < 2 * N_CLONE_PAIRS
    )
    return len(rows), clones


@pytest.fixture(scope="module")
def baseline(spark):
    n, clones = _pairs(spark, 0)
    # every clone pair matches at all of its aligned grams, nothing else
    assert n == N_CLONE_PAIRS * (TOKENS_PER_DOC - _SSD_L + 1)
    return n, clones


@pytest.mark.parametrize("b", [2, 5, _SSD_MAX_DF, _SSD_MAX_DF + 1, 40])
def test_boilerplate_pair_closed_form(spark, baseline, b):
    base_n, base_clones = baseline
    n, clones = _pairs(spark, b)
    if b <= _SSD_MAX_DF:
        assert n - base_n == BP_GRAMS * b * (b - 1) // 2
    else:
        assert n == base_n
    assert clones == base_clones
