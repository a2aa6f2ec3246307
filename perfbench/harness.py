"""Process control, memory sampling, spans and Spark counters for the
filter benchmark. Nothing here knows a workload."""

from __future__ import annotations

import json
import os
import signal
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def process_age_s() -> float:
    """Seconds since this process started (kernel start time, 1/CLK_TCK
    resolution), so set-up time includes interpreter start-up."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / CLK_TCK


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE_KB
    except (OSError, IndexError, ValueError):
        return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def tree_rss() -> dict:
    """Resident memory of this process and all its descendants: the
    driver (this process), the JVM it launched and the JVM's Python
    workers, in MB per role and summed, with the worker count."""
    me = os.getpid()
    parts = {"driver_mb": 0.0, "jvm_mb": 0.0, "workers_mb": 0.0,
             "workers": 0}
    for p in [me] + descendants():
        mb = _rss_kb(p) / 1024.0
        if p == me:
            parts["driver_mb"] += mb
        elif _comm(p) == "java":
            parts["jvm_mb"] += mb
        elif mb:
            parts["workers_mb"] += mb
            parts["workers"] += 1
    parts["total_mb"] = (parts["driver_mb"] + parts["jvm_mb"]
                         + parts["workers_mb"])
    return parts


class RssSampler:
    """Background thread sampling tree_rss() and keeping the sample with
    the highest total since the last take_peak()."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self._peak: dict = {"total_mb": 0.0}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        parts = tree_rss()
        with self._lock:
            if parts["total_mb"] > self._peak["total_mb"]:
                self._peak = parts

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def take_peak(self) -> dict:
        """The highest sample since the previous call (one job's peak,
        when called after each job), rounded; restarts the window."""
        self._sample()
        with self._lock:
            peak, self._peak = self._peak, {"total_mb": 0.0}
        return {k: round(v, 1) for k, v in peak.items()}

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until every pid has exited; return the ones still alive."""
    deadline = time.monotonic() + timeout_s
    left = [p for p in pids if _alive(p)]
    while left and time.monotonic() < deadline:
        time.sleep(0.1)
        left = [p for p in left if _alive(p)]
    return left


def kill_and_wait(pids: list[int], timeout_s: float = 10.0) -> None:
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    wait_gone(pids, timeout_s)


def marked_processes(var: str, value: str) -> list[int]:
    """Processes, other than this one and its descendants, whose
    environment holds var=value (a JVM or Python worker of an earlier
    run of the same checkout)."""
    mine = {os.getpid(), *descendants()}
    needle = f"{var}={value}".encode()
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) in mine:
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as f:
                env = f.read().split(b"\0")
        except OSError:
            continue
        if needle in env and _alive(int(name)):
            out.append(int(name))
    return out


class Tracer:
    """In-memory spans: name, start, end, parent, workload, run id.
    Written out once, when the run ends."""

    def __init__(self, workload: str, run_id: str):
        self.workload = workload
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def add(self, name: str, start: float, end: float,
            parent: int | None = None) -> None:
        """Record a finished span from two time.perf_counter() reads."""
        self.spans.append({"name": name, "parent": parent,
                           "start": start - self._t0,
                           "end": end - self._t0})

    def self_s(self, name: str) -> float:
        """Summed self time of every span of that name: its duration
        minus what its child spans cover."""
        total = 0.0
        for i, s in enumerate(self.spans):
            if s["name"] == name:
                kids = sum(c["end"] - c["start"] for c in self.spans
                           if c["parent"] == i)
                total += s["end"] - s["start"] - kids
        return total

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(dict(s, workload=self.workload,
                                        run_id=self.run_id)) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.name, self.attrs = tracer, name, attrs

    def __enter__(self) -> dict:
        t = self.tracer
        self.rec = {"name": self.name,
                    "parent": t._stack[-1] if t._stack else None,
                    "start": time.perf_counter() - t._t0, "end": None,
                    **self.attrs}
        t.spans.append(self.rec)
        t._stack.append(len(t.spans) - 1)
        return self.rec

    def __exit__(self, *exc) -> None:
        t = self.tracer
        self.rec["end"] = time.perf_counter() - t._t0
        t._stack.pop()


class SparkCounters:
    """Job and stage counters from Spark's own status store (works with
    the UI disabled). snapshot() marks a point; since() sums what ran
    after it."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self._defaults = [getattr(self.store, f"stageList$default${i}")()
                          for i in range(2, 6)]

    def _stages(self):
        seq = self.store.stageList(None, *self._defaults)
        return [seq.apply(i) for i in range(seq.length())]

    def _max_job(self) -> int:
        jobs = self.store.jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.length())),
                   default=-1)

    def snapshot(self) -> tuple[int, int]:
        return (self._max_job(),
                max((s.stageId() for s in self._stages()), default=-1))

    def since(self, mark: tuple[int, int], wall_s: float,
              cores: int) -> dict:
        job0, stage0 = mark
        stages = [s for s in self._stages() if s.stageId() > stage0]
        run_ms = sum(s.executorRunTime() for s in stages)
        return {
            "spark.jobs": self._max_job() - job0,
            "spark.tasks": sum(s.numCompleteTasks() for s in stages),
            "spark.busy_frac": run_ms / 1000.0 / (wall_s * cores),
            "spark.shuffle_write_mb":
                sum(s.shuffleWriteBytes() for s in stages) / 2**20,
            "spark.gc_s": sum(s.jvmGcTime() for s in stages) / 1000.0,
        }
