#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload query_suite --seed 1 \\
        --seconds 20 --trace 0

Run from the repository root. The run makes its inputs from ``--seed``
inside a directory of its own (created under the root, deleted at the
end) and starts Spark on ``local[<cpus>]``. ``setup_s`` is session
start plus one set-up from the seed on the fresh engine: input
generation, the cold fixture phase or seed load, and a warm-up of the
workload's own ops that takes the JVM's first-use costs out of the
timed region. The timed region is a closed loop with one client:
cycles of the workload until ``--seconds`` have passed and every op
kind ran at least once. Outputs are checked after the timed region. The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1`` (Spark event log and streaming progress
on). Every metric, with unit and sample count, also goes to a result
file under ``perfbench/results/`` for ``compare.py``.

Latencies are summarised per op kind (a query, a write verb, a read
kind) by their median, so a run that ends part-way through a pass
weighs every kind as the workload's mix does: ``cycle_s`` is one pass
of the mix (sum over kinds of count per pass × median latency) and
``read_p50_ms`` the median over read kinds of their median latency.
"""

from __future__ import annotations

import argparse
import datetime as dt
import importlib
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time

import sparktrace
from harness import Ctx, peak_rss_mb, quantile

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("query_suite", "etl_ingest", "store_commits")


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--results", default=os.path.join(HERE, "results"),
                   help="directory for the result file")
    return p.parse_args(argv)


def _isolate(run_dir: str, trace: bool) -> None:
    """Point every scratch location of the program and of Spark into
    the run's own directory, before the JVM starts."""
    for sub in ("scratch", "local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    local, tmp = (os.path.join(run_dir, s) for s in ("local", "tmp"))
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(run_dir, "scratch")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # the JVMs' perf-counter files would go to /tmp, outside the run
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem"
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:+PerfDisableSharedMem"
    args = [f"--driver-java-options '{jvm_opts}'",
            "--conf spark.ui.showConsoleProgress=false"]
    if trace:
        args.append(sparktrace.submit_args(os.path.join(run_dir, "eventlog")))
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python worker
    daemons) to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        proc.wait(timeout=60)


def _percentile(values, q):
    return quantile(values, q) if values else 0.0


def _kind_medians(ops) -> dict[str, float]:
    """op name -> median latency of its successful ops."""
    by_name: dict[str, list[float]] = {}
    for op in ops:
        if op.ok:
            by_name.setdefault(op.name, []).append(op.seconds)
    return {k: statistics.median(v) for k, v in by_name.items()}


def _metrics(wl, timed_ops, start_s, setup_s, layer, rss) -> dict:
    """name -> (value, sample count)."""
    reads = [op for op in timed_ops if op.kind == "read"]
    writes = [op.seconds for op in timed_ops if op.kind == "write" and op.ok]
    per_kind = _kind_medians(timed_ops)
    read_kinds = list(_kind_medians(reads).values())
    reads = [op.seconds for op in reads if op.ok]
    cycle = sum(n * per_kind.get(k, 0.0) for k, n in wl.MIX.items())
    m = {
        "setup_s": (start_s + setup_s, 1),
        "cycle_s": (cycle, len(timed_ops)),
        "read_p50_ms": (1e3 * statistics.median(read_kinds)
                        if read_kinds else 0.0, len(read_kinds)),
        "peak_rss_mb": (rss, 1),
        "session.start_s": (start_s, 1),
        "read.p90_ms": (1e3 * _percentile(reads, 0.9), len(reads)),
        "write.p50_ms": (1e3 * _percentile(writes, 0.5), len(writes)),
        "write.p90_ms": (1e3 * _percentile(writes, 0.9), len(writes)),
        "traced.cycle_s": (cycle, len(timed_ops)),
    }
    if hasattr(wl, "per_kind_layers"):
        m.update({k: (v, 1) for k, v in
                  wl.per_kind_layers(timed_ops, per_kind).items()})
    for k, v in layer.items():
        m[k] = (v, 1)
    return m


def _trace_layers(ctx, wl_name, timed_ops, window, passes) -> dict:
    """Spark's records of the timed region, per pass of the mix."""
    log = sparktrace.EventLog.find(os.path.join(ctx.run_dir, "eventlog"))
    out = {k: v / passes for k, v in sparktrace.spark_layers(
        log, timed_ops, [window]).items()}
    eager = planning = 0.0
    for op in timed_ops:
        w0, w1 = op.phases.get("write", (op.t0, op.t1))
        if "build" in op.phases:
            eager += len(log.jobs_in(*op.phases["build"]))
        s = log.first_sql_start(w0, w1)
        if s is not None:
            planning += s - w0
    if wl_name == "query_suite":
        out["plan.eager_jobs"] = eager / passes
    out["catalyst.planning_s"] = planning / passes
    writes = [op for op in timed_ops if op.kind == "write" and op.ok]
    if wl_name == "etl_ingest":
        out["ingest.jobs"] = sparktrace.jobs_per_op(log, writes)
    elif wl_name == "store_commits":
        out["store.jobs_per_commit"] = sparktrace.jobs_per_op(log, writes)
    return out


def _steal_s() -> float:
    """CPU time the hypervisor gave to others while this VM wanted it
    (all CPUs, from /proc/stat): a slow run with high steal was slowed
    by its host, not by the program."""
    with open("/proc/stat", encoding="ascii") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _versions(spark) -> dict:
    import pyspark
    jvm = spark.sparkContext._jvm
    return {"pyspark": pyspark.__version__,
            "java": str(jvm.java.lang.System.getProperty("java.version")),
            "python": platform.python_version()}


def main(argv=None) -> int:
    a = _args(argv)
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    wanted = spec["per_layer" if a.trace else "end_to_end"]
    run_dir = os.path.join(root, ".perfbench_runs",
                           f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    spark = None
    try:
        _isolate(run_dir, bool(a.trace))
        sys.path.insert(0, root)
        try:
            from etl_pipeline_stock_market_data_postgresql_spark.session import (
                get_spark)
            wl = importlib.import_module(a.workload)
        except ImportError as ex:
            print(f"cannot import the program under test from {root}: {ex}",
                  file=sys.stderr)
            return 2

        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{a.workload}")
        start_s = time.perf_counter() - t0
        ctx = Ctx(spark=spark, seed=a.seed, run_dir=run_dir,
                  trace=bool(a.trace))
        t0 = time.perf_counter()
        wl.setup(ctx)
        setup_s = time.perf_counter() - t0
        first_timed = len(ctx.ops)

        t_start, steal0 = time.time(), _steal_s()
        while True:
            wl.cycle(ctx)
            ctx.cycles += 1
            seen = {op.name for op in ctx.ops[first_timed:]}
            elapsed = time.time() - t_start
            if elapsed >= a.seconds and (seen >= set(wl.MIX)
                                         or elapsed >= 3 * a.seconds):
                break
        window = (t_start, time.time())
        timed_ops = ctx.ops[first_timed:]
        steal = _steal_s() - steal0

        layer = wl.verify(ctx)
        rss = peak_rss_mb(spark)
        versions = _versions(spark)
        _stop(spark)
        spark = None
        if a.trace:
            passes = len(timed_ops) / sum(wl.MIX.values())
            layer.update(_trace_layers(ctx, a.workload, timed_ops, window,
                                       passes))
        m = _metrics(wl, timed_ops, start_s, setup_s, layer, rss)
        attempted, failed = ctx.attempted_failed()
        units = {d["name"]: d["unit"] for d in
                 spec["end_to_end"] + spec["per_layer"]}
        for d in spec["per_layer"]:
            # a layer this workload leaves idle: zero, with no samples
            m.setdefault(d["name"], (0.0, 0))
        record = {
            "workload": a.workload, "seed": a.seed, "trace": a.trace,
            "seconds": a.seconds, "timed_s": window[1] - window[0],
            "cycles": ctx.cycles, "start_s": start_s,
            "setup_only_s": setup_s,
            "host_steal_s": steal,
            "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
            "when": dt.datetime.now(dt.timezone.utc).isoformat(
                timespec="seconds"),
            **versions,
            "attempted": attempted, "failed": failed,
            "fail_ratio": failed / attempted,
            "failures": [f"{name}: {msg}" for name, msg, _ in ctx.failures],
            **ctx.extra,
            "ops": [[op.name, op.kind, round(op.seconds, 4), op.ok]
                    for op in timed_ops],
            "metrics": {k: {"value": v, "unit": units.get(k, ""), "n": n}
                        for k, (v, n) in sorted(m.items())},
        }
        os.makedirs(a.results, exist_ok=True)
        out = os.path.join(a.results, f"{a.workload}-seed{a.seed}-trace"
                           f"{a.trace}-{os.getpid()}.json")
        with open(out, "w", encoding="utf-8") as f:
            json.dump(record, f, indent=1)
        for name, msg, _ in ctx.failures:
            print(f"FAILED {name}: {msg}", file=sys.stderr)
        for d in wanted:
            v, n = m[d["name"]]
            print(f"{a.workload} {d['name']} = {v:.6g} {d['unit']} (n={n})",
                  file=sys.stderr)
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {d["name"]: {"value": m[d["name"]][0],
                                    "unit": d["unit"]} for d in wanted}}))
        return 0
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass  # another run still uses it


if __name__ == "__main__":
    sys.exit(main())
