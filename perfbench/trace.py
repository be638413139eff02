"""Benchmark-side instrumentation: spans, runtime wrappers, the Spark
event-log reader and the ``/proc`` RSS sampler.

Spans are recorded from the benchmark's own code, around the public
calls into each layer; where a layer is reached only through another
call (``ManifestTable.commit``, ``run_extraction`` inside
``run_resumable_extraction``) the public attribute is wrapped at runtime
and restored afterwards. Spans live in memory and are written out once,
at the end of a traced run.
"""

from __future__ import annotations

import contextlib
import json
import os
import pathlib
import statistics
import threading
import time


class Tracer:
    """In-memory spans: (name, start, end, parent index)."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []
        self._stack: list[int] = []
        self._patches: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append([name, time.perf_counter(), None, parent])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace owner.attr by a span-recording wrapper (undone by
        unwrap_all)."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*a, **kw):
            with tracer.span(name):
                return orig(*a, **kw)

        self.patch(owner, attr, wrapper)

    def patch(self, owner, attr: str, new) -> None:
        """Set owner.attr to `new` until unwrap_all."""
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def durations(self, name: str) -> list[float]:
        return [s[2] - s[1] for s in self.spans if s[0] == name and s[2]]

    def self_time(self, name: str) -> float:
        """Σ over spans called `name` of duration minus the time their
        direct children cover."""
        child = {}
        for s in self.spans:
            if s[3] is not None and s[2]:
                child[s[3]] = child.get(s[3], 0.0) + (s[2] - s[1])
        return sum(s[2] - s[1] - child.get(i, 0.0)
                   for i, s in enumerate(self.spans) if s[0] == name and s[2])

    def dump(self, path: pathlib.Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for name, t0, t1, parent in self.spans:
                f.write(json.dumps({"name": name, "start": t0, "end": t1,
                                    "parent": parent}) + "\n")


# ── /proc RSS sampler ───────────────────────────────────────────────────────


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the comm field may hold spaces: ppid follows the last ')'
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _rss_mb(pid: int) -> tuple[float, str]:
    try:
        with open(f"/proc/{pid}/status") as f:
            text = f.read()
    except OSError:
        return 0.0, ""
    rss, name = 0.0, ""
    for line in text.splitlines():
        if line.startswith("VmRSS:"):
            rss = int(line.split()[1]) / 1024
        elif line.startswith("Name:"):
            name = line.split(None, 1)[1] if len(line.split()) > 1 else ""
    return rss, name


class RssSampler(threading.Thread):
    """Samples the RSS of the driver's process tree every `interval`
    seconds: this process, the JVM, the Python daemon and workers. This
    process counts by its growth since `set_base` (called before the first
    session starts), so the benchmark's own inputs and expectations stay
    out. Keeps the peaks (total, JVM, Python workers, driver) of each
    interval between `begin` and `end`."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.measuring = False
        self.base = 0.0
        self.peaks: list[tuple[float, ...]] = []
        self._cur = (0.0,) * 4
        self.seen: set[int] = set()
        self._lock = threading.Lock()  # the run's thread samples too
        self._halt = threading.Event()

    def set_base(self) -> None:
        self.base = _rss_mb(os.getpid())[0]

    def begin(self) -> None:
        with self._lock:
            self._cur = (0.0,) * 4
            self.measuring = True

    def end(self) -> None:
        self.sample()
        with self._lock:
            self.measuring = False
            self.peaks.append(self._cur)

    def median_peaks(self) -> tuple[float, ...]:
        """(total, JVM, Python workers, driver): the median over the
        intervals of each interval's peak."""
        if not self.peaks:
            return (0.0,) * 4
        return tuple(statistics.median(p[i] for p in self.peaks) for i in range(4))

    def sample(self) -> None:
        kids = _children_map()
        driver = max(0.0, _rss_mb(os.getpid())[0] - self.base)
        jvm = py = other = 0.0
        todo = list(kids.get(os.getpid(), []))
        while todo:
            pid = todo.pop()
            todo.extend(kids.get(pid, []))
            self.seen.add(pid)
            rss, name = _rss_mb(pid)
            if name == "java":
                jvm += rss
            elif name.startswith("python"):
                py += rss
            else:
                other += rss
        now = (driver + jvm + py + other, jvm, py, driver)
        with self._lock:
            if self.measuring:
                self._cur = tuple(max(a, b) for a, b in zip(self._cur, now))

    def run(self) -> None:
        while not self._halt.wait(self.interval):
            self.sample()

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=5)

    def wait_gone(self, timeout: float = 30.0) -> bool:
        """Wait until every descendant this sampler saw has exited."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            if not self.alive():
                return True
            time.sleep(0.1)
        return False

    def alive(self) -> list[int]:
        return [p for p in self.seen if _alive(p)]


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(b")") + 2:][:1] != b"Z"


# ── Spark event log ────────────────────────────────────────────────────────


class EventLog:
    """Task metrics and scanned file bytes from a Spark event log, grouped
    by job group."""

    def __init__(self, log_dir: pathlib.Path):
        self.tasks: list[dict] = []  # stage, launch, finish, run, input, ...
        self.stage_group: dict[int, str] = {}
        self.stage_wall: dict[int, float] = {}
        self.exec_group: dict[int, str] = {}
        # "size of files read" of each file scan, a driver-side SQL metric
        self._scan_acc: set[int] = set()
        self.exec_scan_bytes: dict[int, int] = {}
        # Spark 4 writes <dir>/eventlog_v2_<app>/events_<n>_<app> files
        for path in sorted(log_dir.rglob("events_*")):
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event", "").rsplit(".", 1)[-1]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or ""
            for sid in ev.get("Stage IDs", []):
                self.stage_group[sid] = group
            if "spark.sql.execution.id" in props:
                self.exec_group.setdefault(int(props["spark.sql.execution.id"]), group)
        elif kind in ("SparkListenerSQLExecutionStart",
                      "SparkListenerSQLAdaptiveExecutionUpdate"):
            todo = [ev["sparkPlanInfo"]]
            while todo:
                node = todo.pop()
                todo.extend(node.get("children", []))
                if node.get("nodeName", "").startswith("Scan "):
                    self._scan_acc.update(m["accumulatorId"] for m in node.get("metrics", [])
                                          if m["name"] == "size of files read")
        elif kind == "SparkListenerDriverAccumUpdates":
            for acc, value in ev["accumUpdates"]:
                if acc in self._scan_acc:
                    ex = ev["executionId"]
                    self.exec_scan_bytes[ex] = self.exec_scan_bytes.get(ex, 0) + value
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if info.get("Submission Time") and info.get("Completion Time"):
                self.stage_wall[info["Stage ID"]] = (
                    info["Completion Time"] - info["Submission Time"]) / 1000
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            info = ev["Task Info"]
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            self.tasks.append({
                "stage": ev["Stage ID"],
                "secs": (info["Finish Time"] - info["Launch Time"]) / 1000,
                "run": m.get("Executor Run Time", 0) / 1000,
                "gc": m.get("JVM GC Time", 0) / 1000,
                "input": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                "sread": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "swrite": sw.get("Shuffle Bytes Written", 0),
                "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
            })

    def tasks_of(self, prefix: str) -> list[dict]:
        return [t for t in self.tasks
                if self.stage_group.get(t["stage"], "").startswith(prefix)]

    def totals(self, prefix: str) -> dict:
        ts = self.tasks_of(prefix)
        mb = 1 << 20
        return {
            "shuffle.write_mb": sum(t["swrite"] for t in ts) / mb,
            "shuffle.read_mb": sum(t["sread"] for t in ts) / mb,
            "spill_mb": sum(t["spill"] for t in ts) / mb,
            "gc_s": sum(t["gc"] for t in ts),
        }

    def scan_mbs(self, pred) -> list[float]:
        """Per SQL execution whose job group satisfies `pred`: MB of the
        files its file scans list."""
        return [v / (1 << 20) for ex, v in self.exec_scan_bytes.items()
                if pred(self.exec_group.get(ex, ""))]

    def heaviest_stages(self, prefix: str) -> list[int]:
        """Per job group matching `prefix`, the stage with the largest Σ
        task run time (the kernel stage of an extraction job)."""
        by_group: dict[str, dict[int, float]] = {}
        for t in self.tasks_of(prefix):
            g = self.stage_group[t["stage"]]
            by_group.setdefault(g, {}).setdefault(t["stage"], 0.0)
            by_group[g][t["stage"]] += t["run"]
        return [max(st, key=st.get) for st in by_group.values() if st]

    def stage_stats(self, stage: int, cores: int) -> dict:
        ts = [t for t in self.tasks if t["stage"] == stage]
        secs = [t["secs"] for t in ts]
        inputs = [t["input"] for t in ts]
        p50 = statistics.median(secs)
        mean_in = statistics.fmean(inputs) if inputs else 0.0
        wall = self.stage_wall.get(stage) or max(secs)
        return {
            "tasks": len(ts),
            "task_s_p50": p50,
            "task_s_max": max(secs),
            "task_skew": max(secs) / p50 if p50 else 0.0,
            "input_mb_skew": max(inputs) / mean_in if mean_in else 0.0,
            "busy_ratio": sum(t["run"] for t in ts) / (cores * wall) if wall else 0.0,
        }
