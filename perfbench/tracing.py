"""Measurement plumbing: spans, Spark event-log counters, streaming
progress, process-tree memory.

Spans are recorded from the benchmark's side of each public call; they
stay in memory and are written out once at the end.  Spark-side counts
come from Spark's own event log (enabled only in the traced run) and are
attributed to spans through the job group the runner sets before each
call.  Streaming micro-batches are reported by a StreamingQueryListener.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import glob
import json
import os
import statistics
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str  # "<layer>.<call>", e.g. "plans.plan"
    op_id: str  # shared by every span of one operation
    parent: str | None
    start: float  # epoch seconds
    end: float

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Records spans when enabled; otherwise only tags Spark jobs, so the
    traced and untraced runs submit identical work."""

    sc: object
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    facts: dict[str, int] = field(default_factory=dict)  # op name -> Python stages

    @contextlib.contextmanager
    def span(self, name: str, op_id: str, parent: str | None = "op"):
        # the job group ties every Spark job started inside the span to it
        self.sc.setJobGroup(f"{op_id}|{name}", name, interruptOnCancel=False)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self.sc.setJobGroup("", "")
            if self.enabled:
                self.spans.append(Span(name, op_id, parent, start, end))


# ---------------------------------------------------------------- memory


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(root: int | None = None) -> list[int]:
    """PIDs below ``root`` (default: this process): the JVM launched by
    PySpark and the Python workers the JVM forks."""
    kids = _children()
    out, todo = [], [root or os.getpid()]
    while todo:
        pid = todo.pop()
        for child in kids.get(pid, ()):
            out.append(child)
            todo.append(child)
    return out


def tree_rss_mb() -> float:
    """Resident memory of this process and all its descendants, in MiB."""
    total_kb = 0
    for pid in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def cpu_times() -> list[int]:
    """The host's aggregate CPU counters from /proc/stat (field 8 is
    steal: time the hypervisor gave this machine's CPUs to others)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Poll until every pid has exited; returns the ones still alive."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if alive:
            time.sleep(0.05)
    return alive


# ---------------------------------------------------------------- files


def tree_bytes(*roots: str) -> tuple[int, int]:
    """(bytes, files) under the given directories, checksum files included."""
    size = files = 0
    for root in roots:
        for dirpath, _, names in os.walk(root):
            for n in names:
                try:
                    size += os.path.getsize(os.path.join(dirpath, n))
                    files += 1
                except OSError:
                    pass
    return size, files


# ---------------------------------------------------------------- event log


@dataclass
class JobStats:
    group: str | None
    submitted: float  # epoch seconds
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    input_rows: int = 0


def read_event_log(log_dir: str) -> list[JobStats]:
    """Per-job counters from the Spark event logs under ``log_dir``.

    Stages are counted when they complete (skipped stages never run);
    task metrics are summed from every TaskEnd event of the job's stages.
    """
    jobs: dict[tuple[str, int], JobStats] = {}
    stage_job: dict[tuple[str, int], JobStats] = {}
    paths = glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
    for path in sorted(p for p in paths if os.path.isfile(p)):
        app = os.path.basename(path)
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job = JobStats(
                        props.get("spark.jobGroup.id") or None,
                        ev["Submission Time"] / 1000.0,
                    )
                    jobs[(app, ev["Job ID"])] = job
                    for sid in ev.get("Stage IDs", ()):
                        stage_job[(app, sid)] = job
                elif kind == "SparkListenerStageCompleted":
                    job = stage_job.get((app, ev["Stage Info"]["Stage ID"]))
                    if job is not None:
                        job.stages += 1
                elif kind == "SparkListenerTaskEnd":
                    job = stage_job.get((app, ev["Stage ID"]))
                    m = ev.get("Task Metrics")
                    if job is None or not m:
                        continue
                    job.tasks += 1
                    job.run_s += m.get("Executor Run Time", 0) / 1000.0
                    job.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    job.gc_s += m.get("JVM GC Time", 0) / 1000.0
                    job.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    sr = m.get("Shuffle Read Metrics") or {}
                    job.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    sw = m.get("Shuffle Write Metrics") or {}
                    job.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                    im = m.get("Input Metrics") or {}
                    job.input_bytes += im.get("Bytes Read", 0)
                    job.input_rows += im.get("Records Read", 0)
    return list(jobs.values())


def attribute_jobs(jobs: list[JobStats], spans: list[Span]) -> dict[tuple[str, str], list[JobStats]]:
    """Map jobs to (op_id, span name).

    Jobs carry the job group the tracer set; jobs started on Spark's own
    threads (streaming micro-batches) carry another group and are matched
    to the innermost span whose interval holds their submission time.
    """
    by_key: dict[tuple[str, str], list[JobStats]] = {}
    known = {(s.op_id, s.name) for s in spans}
    leaves = sorted((s for s in spans if s.parent is not None), key=lambda s: s.start)
    for job in jobs:
        key = None
        if job.group and "|" in job.group:
            op_id, name = job.group.split("|", 1)
            if (op_id, name) in known:
                key = (op_id, name)
        if key is None:
            for s in leaves:
                if s.start <= job.submitted <= s.end:
                    key = (s.op_id, s.name)
                    break
        if key is not None:
            by_key.setdefault(key, []).append(job)
    return by_key


# ---------------------------------------------------------------- streaming


def streaming_listener(sink: list[dict]):
    """A StreamingQueryListener that appends one dict per progress event."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            ts = dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
            sink.append(
                {
                    "start": ts.timestamp(),
                    "rows_in": int(p.numInputRows),
                    "seconds": p.durationMs.get("triggerExecution", 0) / 1000.0,
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Progress()


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
