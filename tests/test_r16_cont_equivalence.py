"""distributed_global_rank's total_out must equal the ranked row count
(the entries that take N from it are pinned to their oracles in
test_oracle_pins.py)."""

from __future__ import annotations


def test_rank_total_out_matches_count(spark, tables):
    from pyspark.sql import functions as F

    from sparkml_som_spark.operators.corpus_ops3 import distributed_global_rank

    df = tables["documents"].select("doc_id", "n_chars")
    held: list = []
    total: list = []
    ranked = distributed_global_rank(
        df, [F.col("n_chars").desc(), F.col("doc_id").asc()], cleanup=held, total_out=total
    )
    n = ranked.count()
    for h in held:
        h.unpersist()
    assert total == [n]
