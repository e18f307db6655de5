"""Shared run machinery: op timing, output checks, metric helpers.

A workload module exposes ``setup(ctx)`` (everything before the
first timed op, in the run's fresh directory), ``cycle(ctx)``
(the next few timed ops of the closed loop), ``MIX`` (op name -> how
many of it one pass of the workload's mix holds) and ``verify(ctx)``
(untimed output checks after the timed region; returns the workload's
own per-layer numbers). It may add ``per_kind_layers(ops, medians)``
for per-layer numbers built from the per-op-name median latencies.
Each op is timed from outside the program: the harness records its
wall-clock interval, and with tracing on it also tags the op's Spark
jobs with a job group so the event log can be split per op.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field


@dataclass
class Op:
    kind: str          # "read" or "write": whether it returns a result
    name: str          # query name or verb
    t0: float          # wall clock (time.time) at start
    t1: float          # wall clock at end
    ok: bool = True
    error: str = ""
    phases: dict = field(default_factory=dict)  # "build"/"write" -> (t0, t1)

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0


@dataclass
class Ctx:
    spark: object
    seed: int
    run_dir: str
    trace: bool
    ops: list = field(default_factory=list)
    cycles: int = 0                                # cycles run
    failures: list = field(default_factory=list)   # (name, message, op)
    run_checks: int = 0                            # checks tied to no op
    state: dict = field(default_factory=dict)      # workload-private
    extra: dict = field(default_factory=dict)      # for the result file

    def dir(self, *parts: str) -> str:
        """A directory under the run's own directory (created)."""
        p = os.path.join(self.run_dir, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def job_group(self, label: str) -> None:
        if self.trace:
            self.spark.sparkContext.setJobGroup(label, label)

    def fail(self, name: str, message: str, op=None) -> None:
        self.failures.append((name, message[:300], op))

    def check(self, name: str, ok: bool, message: str, op=None) -> bool:
        """One output check. A mismatch fails ``op`` (it counts in
        ``failed``, never only in a log); a check tied to no op, such
        as a post-load validation, counts as an attempt of its own."""
        if op is None:
            self.run_checks += 1
        if not ok:
            self.fail(name, message, op)
        return ok

    def attempted_failed(self) -> tuple[int, int]:
        failed_ops = {id(op) for _, _, op in self.failures if op is not None}
        loose = sum(1 for _, _, op in self.failures if op is None)
        return len(self.ops) + self.run_checks, len(failed_ops) + loose

    def timed(self, kind: str, name: str, fn, *args, **kwargs):
        """Run ``fn`` as one timed op. An exception is a failed op; the
        op is kept (with its time) so failures stay visible."""
        label = f"op{len(self.ops)}:{name}"
        self.job_group(label)
        t0 = time.time()
        op = Op(kind, name, t0, t0)
        try:
            result = fn(*args, **kwargs)
        except Exception as ex:  # one failed op must not end the run
            op.t1 = time.time()
            op.ok = False
            op.error = f"{type(ex).__name__}: {str(ex).strip()[:200]}"
            self.fail(name, op.error, op)
            self.ops.append(op)
            return None, op
        op.t1 = time.time()
        self.ops.append(op)
        return result, op


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (``statistics.quantiles`` method
    'inclusive'); a single value is its own quantile."""
    if len(values) == 1:
        return values[0]
    cuts = statistics.quantiles(values, n=100, method="inclusive")
    return cuts[int(round(q * 100)) - 1]


def peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the Spark JVM plus this process."""
    total_kb = 0
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    for pid in (os.getpid(), int(jvm_pid)):
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def dir_stats(root: str, suffixes: tuple[str, ...] = ()) -> tuple[int, int]:
    """(files, bytes) under ``root``, optionally only names ending in
    one of ``suffixes``."""
    n = size = 0
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            if suffixes and not fn.endswith(suffixes):
                continue
            n += 1
            size += os.path.getsize(os.path.join(dirpath, fn))
    return n, size
