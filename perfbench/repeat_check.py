"""Check that the exact-count counters repeat between two traced runs.

    python3 perfbench/repeat_check.py --workload registry_mix --seed 1 --seconds 10

Runs ``perfbench/run.py --trace 1`` twice with the same arguments and
compares, per operation label, the counters that count work rather than
time: ``spark.jobs``, ``spark.tasks``, ``operators.build_jobs`` and
``sources.load_jobs``. A counter that differs between the two runs, or
between occurrences of one label inside a run, is listed as unstable
and must not be used to support a claim. Exits 1 if any is unstable.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def traced_run(args) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "1"]
    subprocess.run(cmd, cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
    path = os.path.join(ROOT, ".perfbench", f"trace-{args.workload}-{args.seed}.json")
    with open(path) as f:
        return json.load(f)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args(argv)

    a, b = traced_run(args), traced_run(args)
    unstable = sorted(set(a["unstable_counters"]) | set(b["unstable_counters"]))
    compared = 0
    for label, per in a["exact_counters"].items():
        other = b["exact_counters"].get(label, {})
        for counter, values in per.items():
            compared += 1
            if set(values) != set(other.get(counter, [])):
                unstable.append(f"{label}:{counter} {values} vs {other.get(counter)}")
    for name in ("spark.jobs", "spark.tasks", "operators.build_jobs", "sources.load_jobs"):
        print(f"{name:24s} run1 {a['metrics'][name]:10.3f}  run2 {b['metrics'][name]:10.3f}")
    print(f"{compared} per-label counters compared, {len(unstable)} unstable")
    for u in unstable:
        print(f"  unstable {u}")
    return 1 if unstable else 0


if __name__ == "__main__":
    raise SystemExit(main())
