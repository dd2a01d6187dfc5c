"""Measurement helpers: process-tree readings from /proc, Spark's stage
accounting from the application's REST endpoint, output readers for the job
checks, and an in-memory span recorder. Nothing here imports the engine."""

from __future__ import annotations

import json
import os
import time
import urllib.request
from dataclasses import dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited while listing
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        tree.setdefault(ppid, []).append(int(entry))
    return tree


def process_tree() -> list[int]:
    """This process and all its live descendants."""
    tree = _children()
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(tree.get(pid, ()))
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Sum of the kernel-tracked peak RSS (VmHWM) of every live process in
    this process's tree: this Python process, the JVM and Python workers."""
    return sum(_status_kb(pid, "VmHWM:") for pid in process_tree()) / 1024


def python_worker_cpu_s() -> float:
    """User+system CPU of the PySpark worker daemons and their forked
    workers, including workers already reaped by the daemon."""
    total = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read()
            if b"pyspark.daemon" not in cmd and b"pyspark.worker" not in cmd:
                continue
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime (fields 14-17 of stat)
        total += sum(int(v) for v in fields[11:15])
    return total / _CLK_TCK


def dir_mb(path: str) -> float:
    total = 0
    for base, _, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(base, name)).st_size
            except OSError:
                pass
    return total / 1e6


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    total = 0
    for base, _, files in os.walk(path):
        for name in files:
            if name.endswith(".parquet"):
                total += pq.read_metadata(os.path.join(base, name)).num_rows
    return total


def plan_summary(path: str) -> dict:
    """Row count and order-independent digest of a written plan: the sum
    of crc32('<page_url>|<fetch_rank>') over its rows."""
    import zlib

    import pyarrow.parquet as pq

    table = pq.read_table(path, columns=["page_url", "fetch_rank"])
    digest = sum(
        zlib.crc32(f"{u}|{r}".encode())
        for u, r in zip(
            table.column("page_url").to_pylist(),
            table.column("fetch_rank").to_pylist(),
        )
    )
    return {"plan_rows": table.num_rows, "plan_digest": digest}


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Spans:
    """Spans kept in memory; the run writes them out once, when it ends
    (the ``samples.spans`` entry of its info line)."""

    def __init__(self) -> None:
        self.done: list[Span] = []
        self._open: list[Span] = []

    def __call__(self, name: str):
        return _SpanContext(self, name)

    def get(self, name: str) -> Span | None:
        return next((s for s in self.done if s.name == name), None)


class _SpanContext:
    def __init__(self, spans: Spans, name: str) -> None:
        self.spans = spans
        parent = spans._open[-1].name if spans._open else None
        self.span = Span(name, 0.0, parent=parent)

    def __enter__(self) -> Span:
        self.spans._open.append(self.span)
        self.span.start = time.perf_counter()
        return self.span

    def __exit__(self, *exc) -> None:
        self.span.end = time.perf_counter()
        self.spans._open.pop()
        self.spans.done.append(self.span)


def covered_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, reach = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi <= reach:
            continue
        total += hi - max(lo, reach)
        reach = hi
    return total


def _rest(url: str):
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)


def _epoch_s(stamp: str) -> float:
    """REST timestamps look like ``2026-01-01T10:00:00.123GMT``."""
    import calendar

    whole, _, frac = stamp.removesuffix("GMT").partition(".")
    secs = calendar.timegm(time.strptime(whole, "%Y-%m-%dT%H:%M:%S"))
    return secs + int(frac or 0) / 1000


@dataclass
class GroupAccounting:
    jobs: int = 0
    tasks: int = 0
    task_s: float = 0.0
    jvm_cpu_s: float = 0.0
    input_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    #: wall seconds the group's jobs cover (union of their intervals)
    jobs_wall_s: float = 0.0
    #: executorRunTime summed per stage-name key "operation@file"
    by_callsite: dict = field(default_factory=dict)


def stage_key(name: str) -> str:
    """``'collect at /x/frontier/waves.py:700'`` → ``'collect@waves.py'``:
    operation and file, never the line number."""
    op, _, site = name.partition(" at ")
    if "withThreadLocalCaptured" in op:
        return "broadcast"  # broadcast exchanges build on a future thread
    return f"{op}@{os.path.basename(site.rsplit(':', 1)[0])}"


def spark_accounting(sc, groups: list[str], timeout_s: float = 60.0) -> dict:
    """Per job group: Spark's job, stage and task accounting, read from the
    application's ``/api/v1`` endpoint once the listener has seen every job of
    every group finish."""
    base = sc.uiWebUrl.rstrip("/") + f"/api/v1/applications/{sc.applicationId}"
    tracker = sc.statusTracker()
    want = {g: set(tracker.getJobIdsForGroup(g)) for g in groups}
    deadline = time.monotonic() + timeout_s
    while True:
        jobs = {j["jobId"]: j for j in _rest(base + "/jobs")}
        pending = [
            jid
            for ids in want.values()
            for jid in ids
            if jid not in jobs or not jobs[jid].get("completionTime")
        ]
        if not pending:
            break
        if time.monotonic() > deadline:
            raise TimeoutError(f"Spark listener never finished jobs {pending}")
        time.sleep(0.2)
    stages = {}
    for st in _rest(base + "/stages?status=complete"):
        # a stage that ran more than once (retries) keeps every attempt
        stages.setdefault(st["stageId"], []).append(st)
    out = {}
    for group, ids in want.items():
        acc = GroupAccounting(jobs=len(ids))
        intervals = []
        for jid in ids:
            job = jobs[jid]
            intervals.append(
                (_epoch_s(job["submissionTime"]), _epoch_s(job["completionTime"]))
            )
            for sid in job["stageIds"]:
                for st in stages.pop(sid, ()):  # a shared stage counts once
                    acc.tasks += st["numCompleteTasks"]
                    run_s = st["executorRunTime"] / 1000
                    acc.task_s += run_s
                    acc.jvm_cpu_s += st["executorCpuTime"] / 1e9
                    acc.input_mb += st["inputBytes"] / 1e6
                    acc.shuffle_write_mb += st["shuffleWriteBytes"] / 1e6
                    key = stage_key(st["name"])
                    acc.by_callsite[key] = acc.by_callsite.get(key, 0.0) + run_s
        acc.jobs_wall_s = covered_seconds(intervals)
        out[group] = acc
    return out
