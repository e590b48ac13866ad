"""Measurement plumbing the benchmark owns: spans, process sampling from
``/proc``, Spark job/stage/task counts from the public status tracker and
streaming progress from a query listener. Nothing here reaches into the
engine; every number is read from outside it."""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def nearest_rank(values: list[float], q: float) -> float:
    """The ``q``-quantile by nearest rank (an observed value, never an
    interpolation)."""
    if not values:
        return 0.0
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 1)) - 1))
    return float(s[k])


def median(values: list[float]) -> float:
    if not values:
        return 0.0
    s = sorted(values)
    m = len(s) // 2
    return float(s[m]) if len(s) % 2 else (s[m - 1] + s[m]) / 2.0


# ------------------------------------------------------------------ spans


class Tracer:
    """In-memory spans (name, start, end, parent). Disabled tracers hand
    out a null context, so untraced runs pay one attribute check per call
    site."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.bookkeeping_s = 0.0  # time spent recording spans

    @contextlib.contextmanager
    def _span(self, name: str):
        t0 = time.perf_counter()
        rec = {"name": name, "start": t0, "end": None,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        t1 = time.perf_counter()
        try:
            yield rec
        finally:
            t2 = time.perf_counter()
            self._stack.pop()
            rec["end"] = t2
            self.bookkeeping_s += (t1 - t0) + (time.perf_counter() - t2)

    def span(self, name: str):
        return self._span(name) if self.enabled else contextlib.nullcontext()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name: each span's duration minus the part of
        its interval that its child spans cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s["end"] is None:
                continue
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(kids.get(i, [])):
                lo, hi = max(lo, s["start"]), min(hi, s["end"])
                if cur_hi is None or lo > cur_hi:
                    covered += (cur_hi - cur_lo) if cur_hi is not None else 0.0
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            covered += (cur_hi - cur_lo) if cur_hi is not None else 0.0
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        rows = [
            {"id": i, "name": s["name"], "parent": s["parent"],
             "start_s": round(s["start"] - t0, 6), "end_s": round((s["end"] or s["start"]) - t0, 6)}
            for i, s in enumerate(self.spans)
        ]
        with open(path, "w") as f:
            json.dump({"spans": rows, "self_s": self.self_times()}, f, indent=1)


# ---------------------------------------------------------------- /proc


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(fields[1]), []).append(int(d))
    return kids


def descendants(root: int) -> list[int]:
    kids, out, todo = _children_map(), [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_usage(root: int) -> tuple[float, float]:
    """(CPU seconds, RSS MB) summed over every descendant of ``root`` — the
    JVM and the Python workers it forks, not the benchmark process itself.
    CPU includes reaped children's time, so exited workers still count."""
    cpu_ticks, rss_pages = 0, 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{pid}/statm") as f:
                rss_pages += int(f.read().split()[1])
        except OSError:
            continue
        cpu_ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return cpu_ticks / CLK_TCK, rss_pages * PAGE_KB / 1024.0


class Usage:
    """CPU and peak RSS of the engine's processes over a measured window;
    a sampler thread polls RSS every SAMPLE_EVERY_S until ``stop``."""

    SAMPLE_EVERY_S = 0.25

    def __init__(self):
        self.root = os.getpid()
        self.cpu0 = self.cpu1 = 0.0
        self.t0 = self.t1 = 0.0
        self.rss_peak_mb = 0.0
        self._done = threading.Event()
        self._thread = None

    def start(self) -> None:
        self.cpu0, rss = tree_usage(self.root)
        self.t0 = time.perf_counter()
        self.rss_peak_mb = rss
        self._thread = threading.Thread(target=self._poll, daemon=True)
        self._thread.start()

    def _poll(self) -> None:
        while not self._done.wait(self.SAMPLE_EVERY_S):
            self.rss_peak_mb = max(self.rss_peak_mb, tree_usage(self.root)[1])

    def stop(self) -> None:
        self._done.set()
        self._thread.join()
        self.cpu1, rss = tree_usage(self.root)
        self.t1 = time.perf_counter()
        self.rss_peak_mb = max(self.rss_peak_mb, rss)

    @property
    def cpu_s(self) -> float:
        return self.cpu1 - self.cpu0

    def util(self, cores: int) -> float:
        wall = self.t1 - self.t0
        return self.cpu_s / (wall * cores) if wall > 0 else 0.0


# ------------------------------------------------------------ Spark status


class JobCounter:
    """Jobs, stages and tasks Spark ran between two marks. Job and stage
    ids are assigned consecutively, so the jobs of a window are the ids
    between the first unassigned id at each mark; their details come from
    the public ``statusTracker``."""

    def __init__(self, sc):
        self.tracker = sc.statusTracker()
        self.next_job = 0

    def mark(self) -> int:
        while self.tracker.getJobInfo(self.next_job) is not None:
            self.next_job += 1
        return self.next_job

    def count(self, first: int, last: int) -> dict[str, int]:
        out = {"jobs": 0, "stages": 0, "tasks": 0, "tasks_failed": 0}
        for j in range(first, last):
            info = self.tracker.getJobInfo(j)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += st.numCompletedTasks
                out["tasks_failed"] += st.numFailedTasks
        return out


def progress_listener():
    """A ``StreamingQueryListener`` that keeps every progress event it is
    sent, as plain dicts. Built lazily so importing this module does not
    import pyspark."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.lock = threading.Lock()
            self.events: list[dict] = []
            self.busy_s = 0.0  # time spent inside onQueryProgress

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            t = time.perf_counter()
            p = json.loads(event.progress.json)
            with self.lock:
                self.events.append(p)
                self.busy_s += time.perf_counter() - t

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def snapshot(self) -> list[dict]:
            with self.lock:
                return list(self.events)

    return ProgressLog()
