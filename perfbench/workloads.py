"""The benchmark's workloads.

Each workload makes its inputs from the seed in ``setup``, then hands
the harness rounds of operations. An operation has two timed stages,
``build`` then ``run``, and a ``check`` of the result made outside the
timed stages; ``check`` returns None when the result is correct and a
reason otherwise.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from dataclasses import dataclass
from typing import Callable

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))

# Relative tolerance on a fit's training cost against the NumPy reference.
# Loose enough that a kernel reordering its float sums still passes;
# tight enough that any change to the algorithm (a different BMU, update
# or schedule) fails.
COST_RTOL = 1e-6


@dataclass
class Op:
    label: str
    kind: str  # "registry" or "som"
    build: Callable[[], object]
    run: Callable[[object], object]
    check: Callable[[object], str | None]


class SomPaper:
    """Reference ``Main``: 10k x 3-d uniform points, 10x10 map, 100 iterations."""

    name = "som_paper"
    N, D, HEIGHT, WIDTH, MAX_ITER = 10_000, 3, 10, 10, 100

    def setup(self, spark, seed: int) -> dict:
        import pandas as pd
        from pyspark.sql import functions as F

        from perfbench import som_oracle

        x = np.random.default_rng(seed).random((self.N, self.D))
        self.df = spark.createDataFrame(pd.DataFrame({"features": list(x)})).cache()
        self.df.count()
        # The reference fit starts from the engine's seeded with-replacement
        # init sample, drawn the same way (it depends on the partition layout).
        som = self._estimator()
        init = (
            self.df.select(F.col("features").cast("array<double>"))
            .rdd.map(lambda r: r[0])
            .takeSample(True, self.HEIGHT * self.WIDTH, seed=som.getOrDefault(som.seed))
        )
        _, history = som_oracle.fit(
            x, np.asarray(init, dtype=np.float64), self.HEIGHT, self.WIDTH, self.MAX_ITER,
            som.getOrDefault(som.tol), som.getTMax(), som.getTMin(),
        )
        self.cost, self.iterations = history[-1], len(history)
        return {"rows": self.N, "dim": self.D, "input_bytes": x.nbytes}

    def _estimator(self):
        from sparkml_som_spark.som import SOM

        return SOM(height=self.HEIGHT, width=self.WIDTH, maxIter=self.MAX_ITER)

    def warmup(self, run_op) -> None:
        run_op(self.round(0)[0])

    def round(self, k: int) -> list[Op]:
        return [Op("som_fit", "som", self._estimator, lambda som: som.fit(self.df), self._check)]

    def _check(self, model) -> str | None:
        summary = model.summary
        if summary.n_samples != self.N:
            return f"n_samples {summary.n_samples} != {self.N}"
        if summary.iterations != self.iterations:
            return f"iterations {summary.iterations} != {self.iterations}"
        if not abs(summary.training_cost - self.cost) <= COST_RTOL * abs(self.cost):
            return f"training cost {summary.training_cost!r} differs from reference {self.cost!r}"
        return None


def result_digest(rows, columns: list[str]) -> str:
    """SHA-256 of the order-insensitive row multiset under the strict
    ``r12-strict-bitlevel`` canon of ``tools/check_oracle.py``."""
    from check_oracle import row_multiset

    ms = row_multiset(rows, [c.lower() for c in columns])
    h = hashlib.sha256()
    for line in sorted(f"{key!r}\t{count}" for key, count in ms.items()):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


class RegistryMix:
    """TPC-H and LLM-pipeline registry entries, one whole pass per round
    in a seed-permuted order."""

    name = "registry_mix"
    TPCH = (
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_local_supplier_volume",
        "q7_nation_volume",
        "q13_order_count_distribution",
    )
    LLM = ("bm25_rank_docs", "dedup_incremental_components")
    ENTRIES = TPCH + LLM
    # Entries that reuse a build-once `_SUCCESS`-gated artifact under
    # `.scratch/<sf>/`; the warm-up pass builds them, timed operations must not.
    ARTIFACTS = {"dedup_incremental_components": ("minhash_band_index", "cc_assign_existing")}
    EXPECTED = os.path.join(HERE, "expected_registry.json")

    def __init__(self, sf_dir: str) -> None:
        self.sf_dir = sf_dir

    def setup(self, spark, seed: int) -> dict:
        import __spark_entry__

        with open(self.EXPECTED) as f:
            expected = json.load(f)
        sf = os.path.basename(os.path.normpath(self.sf_dir))
        if expected["sf"] != sf:
            raise RuntimeError(f"expected digests are for {expected['sf']}, input is {sf}")
        self.expected = expected["entries"]
        self.sf = sf
        self.spark = spark
        self.seed = seed
        queries = __spark_entry__.queries()
        self.fns = {name: queries[name] for name in self.ENTRIES}
        return {"sf": sf, "entries": len(self.ENTRIES), "artifact_entries": sorted(self.ARTIFACTS)}

    def warmup(self, run_op) -> None:
        """One pass: builds missing artifacts and warms codegen and the JIT."""
        for op in self.round(-1):
            run_op(op)
        scratch = os.path.join(os.path.dirname(HERE), ".scratch", self.sf)
        for entry, names in self.ARTIFACTS.items():
            for name in names:
                if not os.path.exists(os.path.join(scratch, name, "_SUCCESS")):
                    raise RuntimeError(f"{entry}: artifact {name} missing after the warm-up pass")

    def round(self, k: int) -> list[Op]:
        order = list(self.ENTRIES)
        random.Random(f"{self.seed}:{k}").shuffle(order)
        return [self._op(name) for name in order]

    def _op(self, name: str) -> Op:
        fn = self.fns[name]

        def build():
            return fn(self.spark, self.sf_dir)

        def run(df):
            return df.columns, df.collect()

        def check(result):
            columns, rows = result
            want = self.expected[name]
            if len(rows) != want["rows"]:
                return f"{len(rows)} rows, expected {want['rows']}"
            if sorted(c.lower() for c in columns) != want["columns"]:
                return f"columns {sorted(columns)} != {want['columns']}"
            if result_digest(rows, columns) != want["digest"]:
                return "row multiset digest differs from the DuckDB oracle"
            return None

        return Op(name, "registry", build, run, check)


def make(name: str, sf_dir: str):
    if name == SomPaper.name:
        return SomPaper()
    if name == RegistryMix.name:
        return RegistryMix(sf_dir)
    raise KeyError(name)


WORKLOADS = (SomPaper.name, RegistryMix.name)