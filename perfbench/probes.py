"""Measurement taps the benchmark attaches from outside the program.

- ``Tracer``: in-memory spans around calls into each layer, installed by
  replacing module attributes (the program is never edited).
- ``StatusReader``: per-item reads of Spark's own status store (jobs,
  stages, task metrics), taken by job/stage id range before the store's
  retention limits can evict anything, failing loudly on a gap.
- ``StreamEvents``: a ``StreamingQueryListener`` collecting micro-batch
  progress, checked for completeness per item.
- ``RssSampler``: peak resident memory of the driver's process tree.
"""

from __future__ import annotations

import functools
import os
import threading
import time
from contextlib import contextmanager

from arith import Span


class Tracer:
    """Span recorder. Disabled, ``span`` is a no-op context, so wrappers
    left installed cost one extra Python call per wrapped call."""

    def __init__(self, marker=None):
        self.spans: list[Span] = []
        self.enabled = False
        self.item = -1
        self._local = threading.local()
        self._lock = threading.Lock()
        # () -> (next job id, next stage id); spans given mark=True record
        # the id ranges their jobs and stages fall in
        self.marker = marker

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, mark: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        s = Span(name, time.perf_counter(), float("nan"),
                 stack[-1] if stack else None, self.item, attrs)
        with self._lock:
            idx = len(self.spans)
            self.spans.append(s)
        stack.append(idx)
        ids0 = self.marker() if mark and self.marker else None
        try:
            yield s
        finally:
            if ids0 is not None:
                s.attrs["ids"] = (ids0, self.marker())
            s.end = time.perf_counter()
            stack.pop()

    def wrap(self, modules, attr: str, name: str, mark: bool = False,
             describe=None) -> None:
        """Replace ``attr`` on every module in ``modules`` with one timing
        wrapper around the current function."""
        orig = getattr(modules[0], attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            attrs = describe(*args, **kwargs) if describe else {}
            with self.span(name, mark=mark, **attrs):
                return orig(*args, **kwargs)

        for m in modules:
            if getattr(m, attr) is not orig:
                raise RuntimeError(f"{m.__name__}.{attr} is not the function "
                                   f"being wrapped; wrap before it is rebound")
            setattr(m, attr, wrapper)

    def item_spans(self, item: int) -> list[tuple[int, Span]]:
        return [(i, s) for i, s in enumerate(self.spans) if s.item == item]


class StatusReader:
    """Reads Spark's status store for a range of job and stage ids.

    Ids come from the DAG scheduler's counters, so the range of one item
    is exact in a closed loop with one client, including jobs started by
    streaming threads, which do not inherit the caller's job group."""

    METRIC_FIELDS = ("executorRunTime", "executorCpuTime", "jvmGcTime",
                     "inputRecords", "inputBytes", "outputBytes",
                     "outputRecords", "shuffleWriteBytes",
                     "shuffleReadBytes", "memoryBytesSpilled",
                     "diskBytesSpilled", "peakExecutionMemory",
                     "numCompleteTasks", "numFailedTasks", "numKilledTasks")

    def __init__(self, spark):
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        gw = sc._gateway
        self._no_status = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def ids(self) -> tuple[int, int]:
        return self._dag.nextJobId(), self._dag.nextStageId()

    def settle(self) -> None:
        """Wait until the listener bus has delivered every posted event,
        so the status store and the Python listeners are complete."""
        self._bus.waitUntilEmpty(120_000)

    def read(self, ids0: tuple[int, int], ids1: tuple[int, int]) -> dict:
        """Jobs [ids0[0], ids1[0]) and stages [ids0[1], ids1[1]). Raises if
        any of them is missing from the store or still running."""
        jobs = []
        for j in range(ids0[0], ids1[0]):
            try:
                jd = self._store.job(j)
            except Exception as ex:  # py4j wraps NoSuchElementException
                raise RuntimeError(
                    f"job {j} missing from the status store (evicted, or "
                    f"its events were lost): {str(ex)[:200]}") from None
            if str(jd.status()) == "RUNNING":
                raise RuntimeError(f"job {j} still running after the item")
            jobs.append(j)
        stages = []
        for sid in range(ids0[1], ids1[1]):
            try:
                attempts = self._store.stageData(sid, False, self._no_status,
                                                 False, self._no_quantiles)
            except Exception as ex:
                raise RuntimeError(
                    f"stage {sid} missing from the status store (evicted, "
                    f"or its events were lost): {str(ex)[:200]}") from None
            if attempts.size() == 0:
                raise RuntimeError(f"stage {sid} has no attempts recorded")
            for k in range(attempts.size()):
                sd = attempts.apply(k)
                status = str(sd.status())
                if status in ("ACTIVE", "PENDING"):
                    raise RuntimeError(f"stage {sid} still {status}")
                if status == "SKIPPED":
                    continue
                row = {f: getattr(sd, f)() for f in self.METRIC_FIELDS}
                row["stageId"] = sid
                stages.append(row)
        return {"jobs": jobs, "stages": stages}


def sum_stages(stages: list[dict], lo: int | None = None,
               hi: int | None = None) -> dict:
    """Totals over executed stage attempts, optionally for stage ids in
    [lo, hi)."""
    sel = [s for s in stages
           if (lo is None or s["stageId"] >= lo)
           and (hi is None or s["stageId"] < hi)]
    tot = {f: sum(s[f] for s in sel) for f in StatusReader.METRIC_FIELDS}
    tot["stages"] = len(sel)
    tot["peakExecutionMemory"] = max(
        (s["peakExecutionMemory"] for s in sel), default=0)
    return tot


def make_stream_listener():
    """A StreamingQueryListener that keeps every event in memory."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamEvents(StreamingQueryListener):
        def __init__(self):
            self.started: list[str] = []
            self.terminated: list[tuple[str, str | None]] = []
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            self.started.append(str(event.id))

        def onQueryProgress(self, event):
            p = event.progress
            self.progress.append({
                "id": str(p.id), "batch": p.batchId,
                "rows": p.numInputRows,
                "durations": dict(p.durationMs or {}),
                "state": [(o.numRowsTotal, o.memoryUsedBytes,
                           o.commitTimeMs) for o in p.stateOperators],
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.terminated.append((str(event.id), event.exception))

        def marks(self) -> tuple[int, int, int]:
            return len(self.started), len(self.terminated), len(self.progress)

        def since(self, marks: tuple[int, int, int]) -> dict:
            """Events after ``marks``, checked for completeness: every
            started query terminated cleanly and reported batches
            0..n-1 with none missing."""
            started = self.started[marks[0]:]
            terminated = dict(self.terminated[marks[1]:])
            progress = self.progress[marks[2]:]
            for qid in started:
                if qid not in terminated:
                    raise RuntimeError(f"streaming query {qid} has no "
                                       f"termination event")
                if terminated[qid]:
                    raise RuntimeError(f"streaming query {qid} failed: "
                                       f"{terminated[qid][:200]}")
                batches = sorted(p["batch"] for p in progress
                                 if p["id"] == qid)
                if not batches or batches != list(range(len(batches))):
                    raise RuntimeError(
                        f"streaming query {qid}: progress events for "
                        f"batches {batches}, expected 0..n-1 with n >= 1")
            return {"queries": started, "progress": progress}

    return StreamEvents()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited between listdir and open
        # comm may hold spaces or parens; fields resume after the last ')'
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, stack = [], list(kids.get(pid, ()))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, ()))
    return out


def tree_rss_bytes(pid: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/statm", "rb") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Background thread sampling the process tree's summed RSS."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True,
                                        name="rss-sampler")

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
        return self.peak
