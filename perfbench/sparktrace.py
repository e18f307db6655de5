"""Per-layer numbers read from Spark's own records.

The traced run starts Spark with a local, uncompressed, non-rolling
event log in the run's directory (``submit_args``; set through
``PYSPARK_SUBMIT_ARGS``, so the package's session factory is
untouched). After the session stops, ``EventLog`` reads the log back and
attributes every job, stage and task to the timed op whose wall-clock
interval saw the job submitted. Ops run one at a time from a single
client, so interval attribution is exact; it also covers jobs that
streaming queries launch from their own threads under their own job
group.
"""

from __future__ import annotations

import bisect
import datetime as dt
import glob
import json
import os


def submit_args(log_dir: str) -> str:
    os.makedirs(log_dir, exist_ok=True)
    confs = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    return " ".join(f"--conf {k}={v}" for k, v in confs.items())


_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_PROGRESS = ("org.apache.spark.sql.streaming.StreamingQueryListener"
             "$QueryProgressEvent")
_STREAM_PHASES = {"addBatch": "stream.add_batch_s",
                  "getBatch": "stream.get_batch_s",
                  "latestOffset": "stream.latest_offset_s",
                  "queryPlanning": "stream.query_planning_s",
                  "walCommit": "stream.wal_commit_s"}


class EventLog:
    """The parsed log: jobs (submit/end ms, stage ids), task metrics
    per stage, SQL execution start times, streaming progress."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stage_tasks: dict[int, list[dict]] = {}
        self.sql_starts: list[float] = []
        self.progress: list[dict] = []
        with open(path, encoding="utf-8") as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    jid = e["Job ID"]
                    self.jobs[jid] = {"t0": e["Submission Time"] / 1000.0,
                                      "t1": None,
                                      "stages": e.get("Stage IDs", [])}
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in self.jobs:
                        self.jobs[e["Job ID"]]["t1"] = (
                            e["Completion Time"] / 1000.0)
                elif kind == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics") or {}
                    self.stage_tasks.setdefault(e["Stage ID"], []).append(m)
                elif kind == _SQL_START:
                    self.sql_starts.append(e["time"] / 1000.0)
                elif kind == _PROGRESS:
                    p = e["progress"]
                    if isinstance(p, str):
                        p = json.loads(p)
                    self.progress.append(p)
        self.sql_starts.sort()

    @classmethod
    def find(cls, log_dir: str) -> "EventLog":
        logs = [p for p in glob.glob(os.path.join(log_dir, "*"))
                if not p.endswith(".inprogress")]
        if len(logs) != 1:
            raise RuntimeError(f"expected one finished event log in "
                               f"{log_dir}, found {logs}")
        return cls(logs[0])

    def jobs_in(self, t0: float, t1: float) -> list[int]:
        return [j for j, d in self.jobs.items() if t0 <= d["t0"] <= t1]

    def first_sql_start(self, t0: float, t1: float) -> float | None:
        i = bisect.bisect_left(self.sql_starts, t0)
        if i < len(self.sql_starts) and self.sql_starts[i] <= t1:
            return self.sql_starts[i]
        return None


def _progress_time(p: dict) -> float:
    ts = p["timestamp"].replace("Z", "+00:00")
    return dt.datetime.fromisoformat(ts).timestamp()


def spark_layers(log: EventLog, ops, windows) -> dict[str, float]:
    """Scheduler/executor/streaming metrics over the timed ops.
    ``windows`` are the (t0, t1) wall intervals of the timed region
    (one per cycle); driver gap = window time with no job running."""
    jobs = sorted({j for op in ops for j in log.jobs_in(op.t0, op.t1)})
    stages = [s for j in jobs for s in log.jobs[j]["stages"]]
    out = {"spark.jobs": float(len(jobs)), "spark.stages": 0.0,
           "spark.tasks": 0.0, "exec.run_s": 0.0, "exec.cpu_s": 0.0,
           "exec.gc_s": 0.0, "scan.input_bytes": 0.0,
           "shuffle.read_bytes": 0.0, "shuffle.write_bytes": 0.0,
           "spill.bytes": 0.0, "output.bytes": 0.0}
    for s in stages:
        tasks = log.stage_tasks.get(s)
        if tasks is None:
            continue  # skipped stage (shuffle reuse): never ran
        out["spark.stages"] += 1
        for m in tasks:
            out["spark.tasks"] += 1
            out["exec.run_s"] += m.get("Executor Run Time", 0) / 1e3
            out["exec.cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            out["exec.gc_s"] += m.get("JVM GC Time", 0) / 1e3
            out["scan.input_bytes"] += (m.get("Input Metrics") or {}).get(
                "Bytes Read", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            out["shuffle.read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                          + sr.get("Local Bytes Read", 0))
            out["shuffle.write_bytes"] += (
                m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            out["spill.bytes"] += (m.get("Memory Bytes Spilled", 0)
                                   + m.get("Disk Bytes Spilled", 0))
            out["output.bytes"] += (m.get("Output Metrics") or {}).get(
                "Bytes Written", 0)
    # driver gap: timed wall not covered by any running job
    busy = sorted((log.jobs[j]["t0"], log.jobs[j]["t1"] or log.jobs[j]["t0"])
                  for j in jobs)
    gap = 0.0
    for w0, w1 in windows:
        cursor = w0
        for b0, b1 in busy:
            b0, b1 = max(b0, w0), min(b1, w1)
            if b1 <= b0 or b1 <= cursor:
                continue  # outside this window, or already covered
            gap += max(0.0, b0 - cursor)
            cursor = b1
        gap += w1 - cursor
    out["driver.gap_s"] = gap
    # streaming micro-batches reported by Spark's progress events
    out["stream.batches"] = 0.0
    for key in _STREAM_PHASES.values():
        out[key] = 0.0
    spans = [(op.t0, op.t1) for op in ops]
    for p in log.progress:
        t = _progress_time(p)
        if not any(a <= t <= b for a, b in spans):
            continue
        out["stream.batches"] += 1
        for phase, key in _STREAM_PHASES.items():
            out[key] += (p.get("durationMs") or {}).get(phase, 0) / 1e3
    return out


def jobs_per_op(log: EventLog, ops) -> float:
    if not ops:
        return 0.0
    return sum(len(log.jobs_in(op.t0, op.t1)) for op in ops) / len(ops)
