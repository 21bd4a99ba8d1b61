"""Closed-loop benchmark of the sparkml_som_spark engine.

    python3 perfbench/run.py --workload som_paper --seed 1 --seconds 15 --trace 0

Run from the repository root. One client thread in one process drives
the engine's public entry points (``session.get_spark``, the registry's
``load_all()`` and ``__spark_entry__.queries()``, ``SOM.fit``) on
``local[min(4, cores)]``: each operation starts when the previous one
has finished and its result has been checked. After set-up the timed
phase runs whole rounds (one fit for ``som_paper``, one pass over every
entry for ``registry_mix``) until ``--seconds`` have passed.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs pairs of
one untraced and one traced round, prints the per-layer metrics and the
tracing overhead, and writes spans and per-operation counters to
``.perfbench/trace-<workload>-<seed>.json``. The last line of standard
output is always one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
ENGINE_FILES = ("__spark_entry__.py", "sparkml_som_spark", os.path.join("tools", "check_oracle.py"))


def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tail_latency(latencies: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least ten
    samples above it; the maximum (percentile 100) below eleven samples."""
    s = sorted(latencies)
    n = len(s)
    if n < 11:
        return 100.0, s[-1]
    return 100.0 * (n - 10) / n, s[n - 11]


def artifact_markers() -> int:
    n = 0
    for _dir, _sub, files in os.walk(os.path.join(ROOT, ".scratch")):
        n += files.count("_SUCCESS")
    return n


def prepare_environment() -> None:
    """Keep every file Spark, its workers and the engine write inside the
    checkout, and let the Python workers import the engine."""
    tmp = os.path.join(WORK, "tmp")
    for d in (tmp, os.path.join(WORK, "spark-local")):
        os.makedirs(d, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(WORK, "warehouse")
    # -XX:-UsePerfData: HotSpot writes its perf-data file to the system temp
    # directory whatever java.io.tmpdir says
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    for p in (ROOT, os.path.join(ROOT, "tools")):
        if p not in sys.path:
            sys.path.insert(0, p)


class Harness:
    def __init__(self, spark, workload) -> None:
        self.spark = spark
        self.workload = workload
        self.tracer = None
        self.records: list[dict] = []
        self.rounds = 0

    def run_op(self, op, timed: bool = False) -> dict:
        tr = self.tracer
        index = len(self.records)
        rec: dict = {"index": index, "label": op.label, "kind": op.kind}
        markers0 = artifact_markers()
        span = _no_span
        if tr is not None:
            status, group, span = tr.status, f"perfbench-{index}", tr.span
            tr.op = index
            self.spark.sparkContext.setJobGroup(group, op.label)
            persisted0 = status.persisted_rdds()
            j0 = j1 = status.next_job_id()
        err = handle = result = None
        t0 = t1 = time.perf_counter()
        try:
            with span("op"):
                with span("operators.build" if op.kind == "registry" else "som.build"):
                    handle = op.build()
                t1 = time.perf_counter()
                if tr is not None:
                    j1 = status.next_job_id()
                with span("operators.exec" if op.kind == "registry" else "som.run"):
                    result = op.run(handle)
        except Exception as e:  # an operation that raises is a failed operation
            err = f"{type(e).__name__}: {(str(e).splitlines() or [''])[0][:300]}"
        t2 = time.perf_counter()
        rec.update(wall_s=t2 - t0, build_s=t1 - t0, exec_s=t2 - t1)
        if err is None:
            err = op.check(result)
        rec["artifact_builds"] = artifact_markers() - markers0
        if err is None and timed and rec["artifact_builds"]:
            err = "built a .scratch artifact during the timed phase"
        if tr is not None:
            tr.op = None
            j2 = status.next_job_id()
            status.settle()
            counters = status.jobs(j0, j2, group)
            counters.pop("intervals")
            rec.update(counters, build_jobs=j1 - j0, exec_jobs=j2 - j1)
            rec["gap_s"] = rec["wall_s"] - rec["job_busy_s"]
            rec["persisted_rdds_delta"] = status.persisted_rdds() - persisted0
            if op.kind == "registry" and handle is not None:
                rec["plan_ms"] = _plan_ms(handle)
        rec["error"] = err
        if err is not None:
            print(f"FAILED {op.label}: {err}", file=sys.stderr)
        self.records.append(rec)
        return rec

    def timed_phase(self, seconds: float) -> list[dict]:
        """Whole rounds until ``seconds`` have passed."""
        first = len(self.records)
        start = time.perf_counter()
        while True:
            self.run_round()
            if time.perf_counter() - start >= seconds:
                return self.records[first:]

    def run_round(self) -> list[dict]:
        first = len(self.records)
        for op in self.workload.round(self.rounds):
            self.run_op(op, timed=True)
        self.rounds += 1
        return self.records[first:]

    def paired_phase(self, tracer, seconds: float) -> tuple[list[dict], list[dict]]:
        """Pairs of one untraced and one traced round, alternating which
        runs first so that warming favours neither, until ``seconds``
        have passed and at least two pairs ran. Returns (untraced, traced)."""
        untraced: list[dict] = []
        traced: list[dict] = []
        start = time.perf_counter()
        pairs = 0
        while pairs < 2 or time.perf_counter() - start < seconds:
            for on in ((False, True) if pairs % 2 == 0 else (True, False)):
                if not on:
                    untraced += self.run_round()
                    continue
                tracer.install()
                self.tracer = tracer
                try:
                    traced += self.run_round()
                finally:
                    self.tracer = None
                    tracer.uninstall()
                    self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            pairs += 1
        return untraced, traced


def _no_span(name: str):
    return nullcontext()


def _plan_ms(df) -> float:
    from perfbench.trace import plan_ms

    try:
        return plan_ms(df)
    except Exception:  # an entry may return a DataFrame whose own plan never ran
        return 0.0


def summarize(records: list[dict]) -> dict:
    lat = [r["wall_s"] for r in records]
    ok = sum(1 for r in records if r["error"] is None)
    pct, tail = tail_latency(lat)
    return {
        "attempted": len(records),
        "failed": len(records) - ok,
        "ops_per_s": ok / sum(lat),
        "latency_p50_s": statistics.median(lat),
        "latency_tail_s": tail,
        "tail_percentile": pct,
    }


def layer_metrics(records: list[dict], tracer) -> dict:
    """Per-layer metrics: per-operation means of counts, and layer time
    as a share of operation wall time."""
    n = len(records)
    wall = sum(r["wall_s"] for r in records)
    ops = {r["index"]: r for r in records}

    def mean(key):
        return sum(r.get(key, 0) for r in records) / n

    def share(seconds):
        return 100.0 * seconds / wall

    loads = [d for op, d in tracer.loads if op in ops]
    fits = [f for op, f in tracer.fits if op in ops]
    kern = [d for op, d in tracer.kernel if op in ops]
    blocks = {(d["fit"], d["block_id"]): d["block_bytes"] for d in kern}
    registry = [r for r in records if r["kind"] == "registry"]
    spans = [sp for sp in tracer.spans if sp.op in ops]
    update_s = sum(sp.end - sp.start for sp in spans if sp.name == "som.kernel.smooth_update")
    m = {
        "sources.load_table_calls": (len(loads) / n, "count"),
        "sources.load_jobs": (sum(d["jobs"] for d in loads) / n, "count"),
        "sources.load_table_share": (share(sum(d["s"] for d in loads)), "%"),
        "operators.build_share": (share(sum(r["build_s"] for r in registry)), "%"),
        "operators.exec_share": (share(sum(r["exec_s"] for r in registry)), "%"),
        "operators.build_jobs": (sum(r["build_jobs"] for r in registry) / n, "count"),
        "operators.exec_jobs": (sum(r["exec_jobs"] for r in registry) / n, "count"),
        "operators.plan_share": (share(sum(r.get("plan_ms", 0.0) for r in registry) / 1e3), "%"),
        "operators.artifact_builds": (mean("artifact_builds"), "count"),
        "operators.persisted_rdds_delta": (mean("persisted_rdds_delta"), "count"),
        "spark.jobs": (mean("jobs"), "count"),
        "spark.stages": (mean("stages"), "count"),
        "spark.tasks": (mean("tasks"), "count"),
        "spark.ungrouped_jobs": (mean("ungrouped_jobs"), "count"),
        "spark.executor_run_ms": (mean("executor_run_ms"), "ms"),
        "spark.executor_cpu_ms": (mean("executor_cpu_ms"), "ms"),
        "spark.shuffle_read_bytes": (mean("shuffle_read_bytes"), "bytes"),
        "spark.shuffle_write_bytes": (mean("shuffle_write_bytes"), "bytes"),
        "spark.job_busy_s": (mean("job_busy_s"), "s"),
        "spark.gap_s": (mean("gap_s"), "s"),
        "som.fit_share": (share(sum(f.end - f.start for f in fits)), "%"),
        "som.fit_jobs": (sum(f.jobs for f in fits) / n, "count"),
        "som.prep_share": (share(sum(f.prep_s for f in fits)), "%"),
        "som.loop_share": (share(sum(f.loop_s for f in fits)), "%"),
        "som.iterations": (sum(f.iterations for f in fits) / n, "count"),
        "som.kernel.calls": (len(kern) / n, "count"),
        "som.kernel.aggregate_block_share": (share(sum(d["s"] for d in kern)), "%"),
        "som.kernel.smooth_update_share": (share(update_s), "%"),
        "som.kernel.flops_computed": (sum(d["flops"] for d in kern) / n, "flop"),
        "som.kernel.bytes_computed": (sum(d["bytes"] for d in kern) / n, "bytes"),
        "som.collected_block_bytes": (sum(blocks.values()) / n, "bytes"),
    }
    return m


EXACT_COUNTERS = ("jobs", "tasks", "build_jobs", "load_jobs")


def exact_counters(records: list[dict], tracer) -> dict[str, dict[str, list[int]]]:
    """Per operation label, the exact-count counters of each occurrence."""
    load_jobs: dict[int, int] = {}
    for op, d in tracer.loads:
        load_jobs[op] = load_jobs.get(op, 0) + d["jobs"]
    out: dict[str, dict[str, list[int]]] = {}
    for r in records:
        per = out.setdefault(r["label"], {c: [] for c in EXACT_COUNTERS})
        for c in ("jobs", "tasks", "build_jobs"):
            per[c].append(int(r[c]))
        per["load_jobs"].append(load_jobs.get(r["index"], 0))
    return out


def unstable(counters: dict[str, dict[str, list[int]]]) -> list[str]:
    return sorted(
        f"{label}:{c}" for label, per in counters.items() for c, v in per.items() if len(set(v)) > 1
    )


def start_spark(cores: int):
    from sparkml_som_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cores=cores, shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ENGINE_FILES if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"engine not found next to the benchmark: missing {missing}", file=sys.stderr)
        return 2
    prepare_environment()
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {workloads.WORKLOADS}", file=sys.stderr)
        return 2
    import check_oracle

    sf_dir = check_oracle.SF_DIR
    if not os.path.isdir(sf_dir):
        print(f"test data directory {sf_dir} not found", file=sys.stderr)
        return 2

    cores = min(4, os.cpu_count() or 1)
    spark, get_spark_s = start_spark(cores)
    try:
        return run(spark, args, sf_dir, cores, get_spark_s)
    finally:
        stop_spark(spark)
        for d in ("tmp", "spark-local", "warehouse"):
            shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)


def run(spark, args, sf_dir: str, cores: int, get_spark_s: float) -> int:
    from perfbench import workloads

    t0 = time.perf_counter()
    from sparkml_som_spark.operators.registry import load_all

    load_all()
    load_all_s = time.perf_counter() - t0

    workload = workloads.make(args.workload, sf_dir)
    info = workload.setup(spark, args.seed)
    harness = Harness(spark, workload)
    workload.warmup(harness.run_op)
    setup_s = process_age_s()
    harness.records.clear()

    if args.trace == 0:
        records = harness.timed_phase(args.seconds)
    else:
        from perfbench.trace import SparkStatus, Tracer

        tracer = Tracer(SparkStatus(spark))
        records, traced = harness.paired_phase(tracer, args.seconds)
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    peak_rss_mb = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
    e2e = summarize(records)
    print(f"workload {args.workload} seed {args.seed} local[{cores}] input {json.dumps(info)}")
    print(f"  rounds {harness.rounds}, untraced operations {e2e['attempted']}, failed {e2e['failed']}")
    print(f"  {'failed_ratio':36s} {e2e['failed'] / e2e['attempted']:16.6f}")
    print(f"  {'latency_tail_s':36s} {e2e['latency_tail_s']:16.6f} s "
          f"(p{e2e['tail_percentile']:.1f} of {e2e['attempted']} samples)")
    print(f"  {'peak_rss_mb':36s} {peak_rss_mb:16.6f} MB")

    if args.trace == 0:
        metrics = {
            "setup_s": (setup_s, "s"),
            "ops_per_s": (e2e["ops_per_s"], "1/s"),
            "latency_p50_s": (e2e["latency_p50_s"], "s"),
        }
        attempted, failed = e2e["attempted"], e2e["failed"]
    else:
        tr = summarize(traced)
        metrics = {
            "session.get_spark_s": (get_spark_s, "s"),
            "session.load_all_s": (load_all_s, "s"),
            "process.peak_rss_mb": (peak_rss_mb, "MB"),
            **layer_metrics(traced, tracer),
            "trace.untraced_ops_per_s": (e2e["ops_per_s"], "1/s"),
            "trace.traced_ops_per_s": (tr["ops_per_s"], "1/s"),
            "trace.overhead_pct": (
                100.0 * (e2e["ops_per_s"] - tr["ops_per_s"]) / e2e["ops_per_s"], "%"),
        }
        counters = exact_counters(traced, tracer)
        detail = {
            "workload": args.workload, "seed": args.seed, "cores": cores, "input": info,
            "rounds": harness.rounds,
            "span_self_s": tracer.self_times(),
            "operations": traced,
            "fits": [
                {"op": op, "fit_s": f.end - f.start, "jobs": f.jobs, "iterations": f.iterations,
                 "prep_s": f.prep_s, "loop_s": f.loop_s}
                for op, f in tracer.fits
            ],
            "exact_counters": counters,
            "unstable_counters": unstable(counters),
            "metrics": {k: v for k, (v, _) in metrics.items()},
        }
        os.makedirs(WORK, exist_ok=True)
        path = os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json")
        with open(path, "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
        print(f"  traced: {tr['attempted']} operations, {tr['failed']} failed; detail in {os.path.relpath(path, ROOT)}")
        if detail["unstable_counters"]:
            print(f"  unstable counters (differ between occurrences): {detail['unstable_counters']}")
        for name, s in sorted(detail["span_self_s"].items(), key=lambda kv: -kv[1]):
            print(f"  span self time {name:34s} {s:10.4f} s")
        attempted = e2e["attempted"] + tr["attempted"]
        failed = e2e["failed"] + tr["failed"]

    for name, (value, unit) in metrics.items():
        print(f"  {name:36s} {value:16.6f} {unit}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    raise SystemExit(main())
