"""Measurement helpers: spans, streaming progress, Spark job counts,
process CPU time and memory, and the host calibration job.

Everything here observes the engine from outside: it times calls into
public functions, listens to ``spark.streams`` and reads
``statusTracker()`` and ``/proc``. Nothing is patched into the package.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
import uuid
from contextlib import contextmanager
from datetime import datetime, timezone

from pyspark.sql.streaming import StreamingQueryListener


def median(values, default: float = 0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default


def quantile(values, q: float) -> float:
    """Nearest-rank quantile of ``values`` (0 < q <= 1)."""
    ordered = sorted(values)
    if not ordered:
        return 0.0
    return ordered[max(1, math.ceil(q * len(ordered))) - 1]


class Spans:
    """Named spans with start, end, parent and a run id, kept in memory
    and written out once at the end of the run."""

    def __init__(self) -> None:
        self.run_id = uuid.uuid4().hex[:12]
        self.records: list[dict] = []
        self._local = threading.local()  # per-thread stack of open spans

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        record = {"run": self.run_id, "name": name,
                  "parent": stack[-1]["name"] if stack else None,
                  "thread": threading.get_ident(),
                  "start": time.perf_counter(), "end": None, **attrs}
        self.records.append(record)
        stack.append(record)
        try:
            yield record
        finally:
            stack.pop()
            record["end"] = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [r["end"] - r["start"] for r in self.records
                if r["name"] == name and r["end"] is not None]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            for record in self.records:
                fh.write(json.dumps(record) + "\n")


class Progress(StreamingQueryListener):
    """Collects every streaming progress event, keyed by query id."""

    def __init__(self) -> None:
        self.events: dict[str, list[dict]] = {}
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        start = datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
        start = start.replace(tzinfo=timezone.utc).timestamp()
        durations = dict(p.durationMs)
        record = {
            "batch": p.batchId,
            "rows": p.numInputRows,
            "start": start,
            "end": start + durations.get("triggerExecution", 0) / 1000,
            "ms": durations,
            "state": [
                {"rows": s.numRowsTotal, "memory": s.memoryUsedBytes,
                 "commit_ms": s.commitTimeMs,
                 "partitions": s.numShufflePartitions}
                for s in p.stateOperators
            ],
        }
        with self._lock:
            self.events.setdefault(str(p.id), []).append(record)

    def of(self, query_id) -> list[dict]:
        with self._lock:
            return sorted(self.events.get(str(query_id), []),
                          key=lambda r: r["batch"])

    def wait_rows(self, query_id, rows: int, timeout: float) -> bool:
        """Block until the query's progress events account for ``rows``
        input rows (events arrive asynchronously)."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            if sum(r["rows"] for r in self.of(query_id)) >= rows:
                return True
            time.sleep(0.05)
        return False

    def clear(self) -> None:
        with self._lock:
            self.events.clear()


def stream_layers(batches: list[dict]) -> dict[str, float]:
    """Per-batch medians of the trigger phases of non-empty batches."""
    batches = [b for b in batches if b["rows"] > 0]

    def phase(key: str) -> float:
        return median(b["ms"].get(key, 0) / 1000 for b in batches)

    return {
        "stream.trigger_s": phase("triggerExecution"),
        "stream.add_batch_s": phase("addBatch"),
        "stream.planning_s": phase("queryPlanning"),
        "stream.wal_commit_s": phase("walCommit"),
        "stream.commit_offsets_s": phase("commitOffsets"),
        "stream.latest_offset_s": phase("latestOffset"),
        "stream.driver_gap_s": median(
            (b["ms"].get("triggerExecution", 0) - b["ms"].get("addBatch", 0))
            / 1000 for b in batches),
        "stream.batches": float(len(batches)),
    }


class Jobs:
    """Spark job and stage counts from ``statusTracker()``.

    Jobs are attributed to a call by a job group the benchmark sets on
    the calling thread, plus any ungrouped jobs that started during the
    call: the engine runs some independent actions on its own driver
    threads, which do not inherit the caller's group. Nothing else runs
    jobs while a counted call is in flight.
    """

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    def _ungrouped(self) -> set[int]:
        return set(self.tracker.getJobIdsForGroup(None))

    @contextmanager
    def group(self, name: str):
        before = self._ungrouped()
        group = f"perfbench-{name}-{uuid.uuid4().hex[:8]}"
        self.sc.setJobGroup(group, name)
        counts = {"jobs": 0, "stages": 0}
        try:
            yield counts
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            jobs = set(self.tracker.getJobIdsForGroup(group))
            floor = max(before, default=-1)
            jobs |= {j for j in self._ungrouped() if j > floor}
            counts["jobs"] = len(jobs)
            counts["stages"] = sum(
                len(info.stageIds) for j in jobs
                if (info := self.tracker.getJobInfo(j)) is not None)


def _descendants(root: int) -> list[int]:
    parents: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(b")") + 2:].split()[1])
        parents.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for child in parents.get(todo.pop(), ()):
            out.append(child)
            todo.append(child)
    return out


def adopt_orphans() -> None:
    """Make this process a child subreaper: a descendant whose parent
    ends (a Python worker of the driver JVM, say) is re-parented here
    instead of to init, so ``end_descendants`` can wait for it."""
    import ctypes

    pr_set_child_subreaper = 36
    ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def _reap() -> None:
    """Collect every child that has ended, without blocking."""
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def end_descendants(grace: float = 20.0) -> None:
    """Return only when no descendant of this process is left. They get
    ``grace`` seconds to end on their own, then SIGTERM, and SIGKILL
    after as long again."""
    import signal

    me = os.getpid()
    began = time.monotonic()
    sent = None
    while True:
        _reap()
        left = _descendants(me)
        if not left:
            return
        waited = time.monotonic() - began
        send = (signal.SIGKILL if waited >= 2 * grace
                else signal.SIGTERM if waited >= grace else None)
        if send is not None and send != sent:
            for pid in left:
                try:
                    os.kill(pid, send)
                except ProcessLookupError:
                    pass
            sent = send
        time.sleep(0.05)


def _cpu_ticks(pid: int) -> int:
    """utime + stime of a process and of its reaped children."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            stat = fh.read()
    except OSError:
        return 0
    fields = stat[stat.rfind(b")") + 2:].split()
    return sum(int(f) for f in fields[11:15])


def engine_cpu_s() -> float:
    """CPU seconds used so far by this process (which drives the engine
    through py4j and runs its foreachBatch callbacks) and every
    descendant: the driver JVM and its Python workers. Time the host
    steals from the virtual CPUs is not in it, unlike in a wall-clock
    time."""
    me = os.getpid()
    ticks = sum(_cpu_ticks(p) for p in (me, *_descendants(me)))
    return ticks / os.sysconf("SC_CLK_TCK")


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident memory with each shared page
    split between the processes that map it, so forked Python workers
    are not counted once per fork."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as fh:
            for line in fh:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class PeakRss:
    """Samples the resident memory of every descendant of this process
    (the driver JVM and its Python workers), summed as PSS, and keeps
    the peak, and the peak of the largest single process (the JVM) as a
    diagnostic."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak = 0
        self.peak_largest = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            sizes = [_pss_bytes(p) for p in _descendants(me)]
            self.peak = max(self.peak, sum(sizes))
            self.peak_largest = max([self.peak_largest, *sizes])
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def calibrate(spark) -> float:
    """Seconds for a fixed JVM-only job, a ``spark.range`` hashed and
    summed. Divided by nothing; reported beside the metrics as a
    host-speed diagnostic."""
    start = time.perf_counter()
    spark.range(0, 20_000_000, numPartitions=4).selectExpr(
        "sum(hash(id))").collect()
    return time.perf_counter() - start
