"""Measurement plumbing that sits outside the program under test.

- ``Tracer``: in-memory spans around calls into the program's public
  functions, written out once at the end of a run;
- ``Progress``: a ``StreamingQueryListener`` that keeps every progress
  event Spark publishes;
- ``MemSampler``: peak memory (PSS) of the JVM and its Python workers,
  read from ``/proc``;
- ``fold_event_log``: per-stage task metrics and the Python (Arrow)
  boundary's SQL metrics from Spark's event log.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """Spans (name, start, end, parent) kept in memory.

    A disabled tracer records nothing, so untraced runs pay only the
    ``with`` statement."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def spanned(self, fn, name: str):
        """``fn`` wrapped in a span."""

        def call(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        return call

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"]]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class Progress(StreamingQueryListener):
    """Every ``StreamingQueryProgress`` as a dict, by query id."""

    def __init__(self) -> None:
        self.events: list[dict] = []
        self._terminated: set[str] = set()
        self._cv = threading.Condition()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        with self._cv:
            self.events.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._cv:
            self._terminated.add(str(event.id))
            self._cv.notify_all()

    def of(self, query_id: str, timeout: float = 30.0) -> list[dict]:
        """Progress of one query, after its termination event arrived (the
        listener bus is asynchronous)."""
        with self._cv:
            self._cv.wait_for(lambda: str(query_id) in self._terminated, timeout)
            return [e for e in self.events if e["id"] == str(query_id)]


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_seconds(root_pid: int) -> float:
    """User + system CPU of a process tree, reaped children included, so a
    worker that exits between two readings still counts once."""
    total = 0
    for p in descendants(root_pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def steal_share() -> tuple[int, int]:
    """(steal, total) jiffies of this host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def pss_bytes(pids: list[int]) -> int:
    """Summed proportional set size: pages shared between the forked Python
    workers count once overall, where summed RSS would count them per
    worker."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                total += next(int(line.split()[1]) for line in f if line.startswith("Pss:")) * 1024
        except (OSError, StopIteration):
            pass
    return total


class MemSampler:
    """Peak summed PSS of a process tree, sampled every ``period`` s."""

    def __init__(self, root_pid: int, period: float = 0.2) -> None:
        self.root_pid, self.period = root_pid, period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, pss_bytes(descendants(self.root_pid)))
            self._stop.wait(self.period)

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


_ARROW_TO = ("data sent to Python workers",)
_ARROW_FROM = ("data returned from Python workers",)


def fold_event_log(log_dir: str, windows: list[tuple[float, float]]) -> dict:
    """Sum task metrics and Python-boundary SQL metrics over the stages
    submitted inside the measured wall-clock windows."""
    out = {"shuffle.bytes_written": 0, "shuffle.bytes_read": 0, "spill.bytes": 0,
           "task.run_ms": 0, "task.cpu_ms": 0, "task.gc_ms": 0,
           "arrow.bytes_to_python": 0, "arrow.bytes_from_python": 0}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                if '"SparkListenerStageCompleted"' not in line:
                    continue
                info = json.loads(line)["Stage Info"]
                sub = (info.get("Submission Time") or 0) / 1000.0
                if not any(t0 <= sub <= t1 for t0, t1 in windows):
                    continue
                for acc in info.get("Accumulables", []):
                    name, val = acc.get("Name") or "", acc.get("Value")
                    try:
                        val = int(val)
                    except (TypeError, ValueError):
                        continue
                    key = {
                        "internal.metrics.shuffle.write.bytesWritten": "shuffle.bytes_written",
                        "internal.metrics.shuffle.read.remoteBytesRead": "shuffle.bytes_read",
                        "internal.metrics.shuffle.read.localBytesRead": "shuffle.bytes_read",
                        "internal.metrics.diskBytesSpilled": "spill.bytes",
                        "internal.metrics.executorRunTime": "task.run_ms",
                        "internal.metrics.jvmGCTime": "task.gc_ms",
                    }.get(name)
                    if name == "internal.metrics.executorCpuTime":
                        out["task.cpu_ms"] += val // 1_000_000
                    elif key:
                        out[key] += val
                    elif name in _ARROW_TO:
                        out["arrow.bytes_to_python"] += val
                    elif name in _ARROW_FROM:
                        out["arrow.bytes_from_python"] += val
    return out
