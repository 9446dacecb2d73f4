"""Measurement plumbing shared by the three workloads.

Nothing here knows a workload. It provides: the run environment record
(core count, versions, load average, CPU steal), latency statistics, input
digests, spans for the traced run, Spark job, stage and task counts and
task metrics from the event log per operation, and the JVM shutdown that lets a run end
with no process left behind.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import statistics
import sys
import time
from dataclasses import dataclass, field

# Latency tail: the highest order statistic with at least this many samples
# above it. Below 2 * TAIL_BEYOND + 1 samples that statistic would sit at or
# below the median, so the maximum is reported instead (percentile 100).
TAIL_BEYOND = 10


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def proc_stat_steal_s() -> float:
    """Host CPU steal since boot, all CPUs summed (the 8th value of the
    ``cpu`` line of /proc/stat, in clock ticks)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def host_snapshot() -> dict:
    return {
        "loadavg": list(os.getloadavg()),
        "steal_s": proc_stat_steal_s(),
        "wall": time.time(),
    }


def process_age_s() -> float:
    """Seconds since this process started, from /proc (tick resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pid: int | str = "self") -> float:
    """VmHWM of a process, 0 when it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except FileNotFoundError:
        pass
    return 0.0


def tail_index(n: int) -> int:
    """Index into a sorted sample of n >= 1 of the latency tail."""
    return n - 1 - TAIL_BEYOND if n > 2 * TAIL_BEYOND else n - 1


def latency_summary(samples: list[float]) -> dict:
    xs = sorted(samples)
    k = tail_index(len(xs))
    return {
        "n": len(xs),
        "p50_s": statistics.median(xs),
        "tail_s": xs[k],
        "tail_percentile": round(100.0 * k / (len(xs) - 1), 1) if len(xs) > 1 else 100.0,
        "min_s": xs[0],
        "max_s": xs[-1],
    }


def digest_parquet(paths: list[str]) -> str:
    """sha256 over the rows of the parquet files ``paths``, in order, as
    Arrow IPC bytes. The file bytes themselves are not stable: Spark's
    writer orders some column-chunk metadata differently in each JVM."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    h = hashlib.sha256()
    for p in paths:
        table = pq.read_table(p).replace_schema_metadata(None)
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, table.schema) as w:
            w.write_table(table)
        h.update(sink.getvalue())
    return h.hexdigest()


def digest_files(paths: list[str]) -> str:
    """sha256 over the bytes of the files ``paths``, in order."""
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def spark_part_files(table_dir: str) -> list[str]:
    """Data files of a Spark-written table directory in part order."""
    names = [n for n in os.listdir(table_dir) if n.startswith("part-")]
    return [os.path.join(table_dir, n) for n in sorted(names)]


class DigestBook:
    """Input digests of earlier runs in one checkout, keyed by workload,
    seed, core count and input size. A run that stages different bytes for
    the same key fails."""

    def __init__(self, path: str):
        self.path = path

    def check(self, key: str, digest: str) -> str | None:
        """Record ``digest`` for ``key``; return the earlier digest when it
        differs, else None."""
        book = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                book = json.load(f)
        prior = book.get(key)
        if prior is None:
            book[key] = digest
            tmp = f"{self.path}.{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump(book, f, indent=1, sort_keys=True)
            os.replace(tmp, self.path)
        return prior if prior not in (None, digest) else None


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


@dataclass
class Tracer:
    """Spans around the benchmark's calls into each layer. Disabled, it
    records nothing and costs one attribute test per call."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    op: int | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def per_op_total(self, name: str) -> dict[int, float]:
        """Seconds spent in spans called ``name``, summed per operation."""
        out: dict[int, float] = {}
        for s in self.spans:
            if s.name == name and s.op is not None:
                out[s.op] = out.get(s.op, 0.0) + (s.end - s.start)
        return out

    def median_per_op(self, name: str, ops: list[int]) -> float:
        tot = self.per_op_total(name)
        return statistics.median([tot.get(o, 0.0) for o in ops]) if ops else 0.0

    def dump(self) -> list[dict]:
        return [s.__dict__ for s in self.spans]


EVENTLOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

# Job group of the traced run's timed operation i, and of its untimed checks.
OP_GROUP = "perfbench-op-"
UNTIMED_GROUP = "perfbench-untimed"

JOB_KEYS = ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
            "shuffle_bytes", "spill_bytes")


def _group(props: dict | None) -> str | None:
    return (props or {}).get("spark.jobGroup.id")


def eventlog_records(log_dir: str) -> list[dict]:
    """The work Spark ran, from the event logs under ``log_dir``: one record
    per job started, per stage attempt completed and per task ended. Each
    has its job group (None when unset), its start (epoch seconds) and the
    counts and task metrics it adds.

    A job also lists the parent stages it skips because their shuffle output
    exists already (with adaptive execution every shuffle map stage runs as
    its own job first). Skipped stages are never submitted, so counting
    completed stages and ended tasks counts only what ran."""
    out: list[dict] = []
    for name in sorted(os.listdir(log_dir)):
        stage_group: dict[tuple[int, int], str | None] = {}  # ids restart per application
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    out.append({"group": _group(ev.get("Properties")),
                                "start": ev["Submission Time"] / 1e3, "jobs": 1})
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    stage_group[info["Stage ID"], info["Stage Attempt ID"]] = _group(ev.get("Properties"))
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    out.append({"group": stage_group.get((info["Stage ID"], info["Stage Attempt ID"])),
                                "start": info["Submission Time"] / 1e3, "stages": 1})
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    out.append({
                        "group": stage_group.get((ev["Stage ID"], ev["Stage Attempt ID"])),
                        "start": ev["Task Info"]["Launch Time"] / 1e3,
                        "tasks": 1,
                        "task_run_s": m.get("Executor Run Time", 0) / 1e3,
                        "task_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1e3,
                        "shuffle_bytes": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    })
    return out


def per_op_totals(records: list[dict], intervals: list[tuple[float, float]]) -> list[dict]:
    """``records`` summed per timed operation. A record of an operation's job
    group belongs to it; one of another group than the benchmark's (a
    stream's jobs run on its own thread, under its own group) belongs to the
    operation whose interval holds its start; untimed checks count nowhere."""
    totals = [dict.fromkeys(JOB_KEYS, 0.0) for _ in intervals]
    for r in records:
        g = r["group"] or ""
        if g.startswith(OP_GROUP):
            i = int(g[len(OP_GROUP):])
        elif g == UNTIMED_GROUP:
            continue
        else:
            i = next((k for k, (a, b) in enumerate(intervals) if a <= r["start"] <= b), None)
        if i is None or i >= len(totals):
            continue
        for k in JOB_KEYS:
            totals[i][k] += r.get(k, 0)
    return totals


def stop_jvm() -> None:
    """Stop the active SparkContext and the JVM it runs in, and wait for the
    JVM process to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
