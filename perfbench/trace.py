"""Measurement helpers that live outside the program under test.

- ``Tracer``: spans (name, start, end, parent) kept in memory and written
  out once at the end of a run;
- ``Py4jCounter``: counts py4j round trips made by the calling thread, by
  wrapping ``ClientServerConnection.send_command``;
- ``SparkCounter``: Spark jobs, stages and tasks started since the last
  poll, read from ``sc.statusTracker()``;
- ``PssSampler``: peak proportional set size of this process and every
  descendant but the JVM (Python workers, fork pool), polled from
  ``/proc``; ``JvmMemory``: the JVM's live heap and non-heap use.
"""

from __future__ import annotations

import gc
import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. Disabled tracers record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


class Py4jCounter:
    """Counts ``send_command`` calls issued by the thread that armed it
    (the table-handle prefetch thread in ``entry_queries._t`` is excluded)."""

    def __init__(self):
        from py4j.clientserver import ClientServerConnection

        self._cls = ClientServerConnection
        self._orig = ClientServerConnection.send_command
        self._owner: int | None = None
        self.calls = 0
        counter = self

        def send_command(conn, command, *args, **kwargs):
            if counter._owner == threading.get_ident():
                counter.calls += 1
            return counter._orig(conn, command, *args, **kwargs)

        ClientServerConnection.send_command = send_command

    @contextmanager
    def counting(self):
        self.calls = 0
        self._owner = threading.get_ident()
        try:
            yield self
        finally:
            self._owner = None

    def close(self) -> None:
        self._cls.send_command = self._orig


class SparkCounter:
    """Jobs / stages / tasks started since the previous ``poll``.

    Job ids grow monotonically, so every job above the last seen id is
    new, whichever thread submitted it: the benchmark's job group (set on
    the main thread) and the engine's commit threads, which carry no
    group."""

    def __init__(self, sc, group: str):
        self.group = group
        self.tracker = sc.statusTracker()
        self.last_job = max(self._job_ids(), default=-1)

    def _job_ids(self) -> list[int]:
        return (list(self.tracker.getJobIdsForGroup(self.group))
                + list(self.tracker.getJobIdsForGroup(None)))

    def poll(self) -> dict:
        new = sorted(j for j in set(self._job_ids()) if j > self.last_job)
        stages = tasks = 0
        for j in new:
            info = self.tracker.getJobInfo(j)
            for s in (info.stageIds if info else []):
                st = self.tracker.getStageInfo(s)
                if st is not None:
                    stages += 1
                    tasks += st.numTasks
        if new:
            self.last_job = new[-1]
        return {"jobs": len(new), "stages": stages, "tasks": tasks}


def tree_pids(root: int) -> list[int]:
    """``root`` and every process descended from it, from ``/proc``."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip() == "java"
    except OSError:
        return False


def tree_pss_bytes(root: int) -> int:
    """Summed proportional set size of ``root``'s process tree, the JVM
    left out: a page shared by several processes (the fork pool's
    copy-on-write view of the driver) counts once in total."""
    total = 0
    for p in tree_pids(root):
        if _is_jvm(p):
            continue
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for ln in f:
                    if ln.startswith("Pss:"):
                        total += int(ln.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total


class JvmMemory:
    """The JVM's share of ``peak_rss_mb``: the live heap at a checkpoint,
    plus the peak use of the non-heap pools (metaspace, code cache).

    A checkpoint runs a full collection and reads the heap in use after
    it: the data the program holds at that point (cached corpus, engine
    state, Spark's bookkeeping). The heap pools' own peak use would mostly
    show how large G1 chose to make eden and when it started marking; it
    moved 2.5-3.1 GB between identical runs. The checkpoint is taken
    outside every timer, after the same amount of work in every run:
    Spark's status store keeps a record per job, so the live heap grows
    with the number of ops that fit into a run."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        self._system = jvm.java.lang.System
        self._mf = jvm.java.lang.management.ManagementFactory
        self.live = 0

    def checkpoint(self) -> None:
        # Python first: its dropped DataFrames release their JVM objects.
        # Then collect every 0.5 s until three readings agree: Spark's
        # context cleaner frees what a collection made unreachable
        # (broadcast and cached blocks) over the next second or two, and
        # a single reading moved by 40% between identical runs.
        gc.collect()
        mem = self._mf.getMemoryMXBean()
        seen: list[int] = []
        for _ in range(20):
            self._system.gc()
            seen.append(int(mem.getHeapMemoryUsage().getUsed()))
            if len(seen) >= 3 and max(seen[-3:]) - min(seen[-3:]) <= 4 << 20:
                break
            time.sleep(0.5)
        self.live = seen[-1]

    def nonheap_peak(self) -> int:
        return sum(int(p.getPeakUsage().getUsed())
                   for p in self._mf.getMemoryPoolMXBeans()
                   if p.getType().name() == "NON_HEAP")


class PssSampler:
    """Background thread: peak of ``tree_pss_bytes`` of this process."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while True:
            self.peak = max(self.peak, tree_pss_bytes(me))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_pss_bytes(os.getpid()))
