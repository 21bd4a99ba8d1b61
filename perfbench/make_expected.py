"""Regenerate ``perfbench/expected_registry.json``.

    python3 perfbench/make_expected.py [--verify]

For every registry entry of the ``registry_mix`` workload, runs the
entry's DuckDB twin from ``__spark_entry__.oracle_sql()`` over the test
tables the oracle gate uses (``tools/check_oracle.py``'s ``SF_DIR``)
and records its row count, lower-cased column names and the SHA-256 of
its row multiset under the strict ``r12-strict-bitlevel`` canon.
``--verify`` also runs each entry on Spark and fails unless it matches.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv: list[str]) -> int:
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    import check_oracle
    import duckdb

    import __spark_entry__
    from perfbench.workloads import RegistryMix, result_digest

    sf_dir = check_oracle.SF_DIR
    con = duckdb.connect()
    for t in check_oracle.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracles = __spark_entry__.oracle_sql()
    entries = {}
    for name in RegistryMix.ENTRIES:
        res = con.execute(oracles[name])
        cols = [d[0].lower() for d in res.description]
        rows = res.fetchall()
        entries[name] = {"rows": len(rows), "columns": sorted(cols), "digest": result_digest(rows, cols)}
        print(f"oracle {name}: {len(rows)} rows")

    failures = []
    if "--verify" in argv:
        from sparkml_som_spark.session import get_spark

        spark = get_spark("perfbench-expected")
        queries = __spark_entry__.queries()
        for name, want in entries.items():
            df = queries[name](spark, sf_dir)
            rows = df.collect()
            got = {"rows": len(rows), "columns": sorted(c.lower() for c in df.columns),
                   "digest": result_digest(rows, df.columns)}
            ok = got == want
            print(f"spark  {name}: {'match' if ok else 'MISMATCH ' + json.dumps(got)}")
            if not ok:
                failures.append(name)
        spark.stop()

    out = {
        "canon": check_oracle.CANON_VERSION,
        "sf": os.path.basename(os.path.normpath(sf_dir)),
        "entries": entries,
    }
    with open(os.path.join(HERE, "expected_registry.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
