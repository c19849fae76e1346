"""Observation from outside the program: spans, Spark event-log counters,
executed-plan node counts and the RSS of the Spark process tree.

Nothing here imports the program. Spans are recorded around the benchmark's
own calls into each layer; Spark's counters come from the event log that
`get_spark(extra_conf=...)` turns on; RSS is read from /proc.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
from collections import defaultdict

# executed-plan node names counted per phase
PLAN_NODES = ("Window", "Exchange", "Sort", "MapInArrow")
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
FILES_READ = "size of files read"


class Spans:
    """In-memory span list: name, start, end (seconds since the run began),
    parent span name. Written out when the run ends."""

    def __init__(self, t0: float):
        self.t0 = t0
        self.items: list[dict] = []
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str):
        """Record a span around the block; yields the record, whose
        "seconds" is set when the block ends."""
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None}
        self._stack.append(name)
        start = time.perf_counter()
        try:
            yield rec
        finally:
            end = time.perf_counter()
            self._stack.pop()
            rec.update(start=start - self.t0, end=end - self.t0, seconds=end - start)
            self.items.append(rec)


# ------------------------------------------------------------------ RSS


def _children_map() -> dict[int, list[int]]:
    kids = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                raw = fh.read()
        except OSError:
            continue
        pid = int(raw.split(" ", 1)[0])
        ppid = int(raw.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(pid)
    return kids


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def tree_rss(root: int) -> int:
    """Summed RSS of every descendant of root (the Spark JVM and the Python
    workers it forks), not counting root itself."""
    kids = _children_map()
    total, todo = 0, list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        total += _rss_bytes(pid)
        todo.extend(kids.get(pid, []))
    return total


# the JVM's JIT compiler threads, by their (truncated) thread names
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(path: str) -> tuple[str, list[str]]:
    """(command name, the fields after it) of a /proc stat file."""
    with open(path) as fh:
        raw = fh.read()
    return raw[raw.index("(") + 1 : raw.rindex(")")], raw.rsplit(")", 1)[1].split()


def cpu_snapshot(root: int) -> dict:
    """CPU clock ticks used so far by every descendant of root (user+system,
    including their reaped children), and by each JIT compiler thread among
    them, keyed by its /proc path."""
    kids = _children_map()
    total, jit, todo = 0, {}, list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        try:
            _, f = _stat(f"/proc/{pid}/stat")
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
        for path in glob.glob(f"/proc/{pid}/task/*/stat"):
            try:
                name, tf = _stat(path)
            except OSError:
                continue
            if name.startswith(JIT_THREADS):
                jit[path] = int(tf[11]) + int(tf[12])
        todo.extend(kids.get(pid, []))
    return {"total": total, "jit": jit}


def cpu_between(a: dict, b: dict) -> tuple[float, float]:
    """(CPU seconds the tree used between snapshots a and b, the part of it
    the JIT compiler threads alive at b used)."""
    jit = sum(t - a["jit"].get(k, 0) for k, t in b["jit"].items())
    hz = os.sysconf("SC_CLK_TCK")
    return (b["total"] - a["total"]) / hz, jit / hz


class RssSampler:
    """Background sampler of tree_rss(os.getpid()); peak over the window
    between start() and stop()."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss(me))
            self._stop.wait(self.interval)

    def start(self):
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak


# ------------------------------------------------------------ event log


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the one finished application log in log_dir: a single
    file, or the event files of a rolling log directory in order."""
    files = glob.glob(os.path.join(log_dir, "*", "events_*")) or [
        f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)
    ]
    if not files:
        raise RuntimeError(f"no event log in {log_dir}")
    files.sort(key=lambda f: int(os.path.basename(f).split("_")[1])
               if os.path.basename(f).startswith("events_") else 0)
    events = []
    for f in files:
        with open(f) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _walk(node: dict):
    yield node
    for c in node.get("children", []):
        yield from _walk(c)


class EventLog:
    """Per-phase counters from a Spark event log. A phase is the job group
    the benchmark set around a call (SparkContext.setJobGroup)."""

    def __init__(self, events: list[dict]):
        self.job_group: dict[int, str] = {}
        self.stage_group: dict[int, str] = {}
        self.exec_group: dict[int, str] = {}
        self.exec_plan: dict[int, dict] = {}
        self.tasks: dict[str, list[dict]] = defaultdict(list)
        self.acc_updates: dict[int, float] = defaultdict(float)
        for e in events:
            kind = e.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                group = props.get("spark.jobGroup.id")
                if group is None:
                    continue
                self.job_group[e["Job ID"]] = group
                for sid in e.get("Stage IDs", []):
                    self.stage_group[sid] = group
                xid = props.get("spark.sql.execution.id")
                if xid is not None:
                    self.exec_group[int(xid)] = group
            elif kind == "SparkListenerTaskEnd":
                group = self.stage_group.get(e["Stage ID"])
                if group is None:
                    continue
                self.tasks[group].append(e)
                for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                    upd = acc.get("Update")
                    if isinstance(upd, (int, float)) or (
                        isinstance(upd, str) and upd.lstrip("-").isdigit()
                    ):
                        self.acc_updates[acc["ID"]] += float(upd)
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                # the last adaptive update is the final executed plan
                self.exec_plan[e["executionId"]] = e["sparkPlanInfo"]
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, val in e.get("accumUpdates", []):
                    self.acc_updates[acc_id] += float(val)

    def groups(self) -> list[str]:
        return sorted(set(self.job_group.values()))

    def jobs(self, group: str) -> int:
        return sum(1 for g in self.job_group.values() if g == group)

    def plan_nodes(self, group: str) -> dict[str, int]:
        counts = dict.fromkeys(PLAN_NODES, 0)
        for xid, g in self.exec_group.items():
            if g != group or xid not in self.exec_plan:
                continue
            for node in _walk(self.exec_plan[xid]):
                if node.get("nodeName") in counts:
                    counts[node["nodeName"]] += 1
        return counts

    def sql_metric(self, group: str, metric_name: str, node_text: str = "") -> float:
        """Sum of one SQL metric over the executed plans of a phase, over the
        nodes whose description contains node_text."""
        total = 0.0
        for xid, g in self.exec_group.items():
            if g != group or xid not in self.exec_plan:
                continue
            for node in _walk(self.exec_plan[xid]):
                if node_text not in node.get("simpleString", ""):
                    continue
                for m in node.get("metrics", []):
                    if m.get("name") == metric_name:
                        total += self.acc_updates.get(m["accumulatorId"], 0.0)
        return total

    def task_counters(self, group: str, wall_s: float, n_cores: int) -> dict:
        """Task-metric totals of one phase. cpu_util is executor run time over
        wall time times cores; task_skew is max/median task run time of the
        phase's widest stage."""
        tasks = self.tasks.get(group, [])
        run_ms = gc_ms = spill = sh_r = sh_w = out_b = 0
        by_stage = defaultdict(list)
        for t in tasks:
            m = t.get("Task Metrics") or {}
            run_ms += m.get("Executor Run Time", 0)
            gc_ms += m.get("JVM GC Time", 0)
            spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            r = m.get("Shuffle Read Metrics") or {}
            sh_r += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
            sh_w += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            out_b += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            by_stage[t["Stage ID"]].append(m.get("Executor Run Time", 0))
        skew = 0.0
        if by_stage:
            widest = max(by_stage.values(), key=len)
            med = sorted(widest)[len(widest) // 2]
            skew = max(widest) / med if med > 0 else 1.0
        return {
            "tasks": len(tasks),
            "cpu_util": (run_ms / 1000.0) / (wall_s * n_cores) if wall_s > 0 else 0.0,
            "gc_s": gc_ms / 1000.0,
            "spill_bytes": spill,
            "shuffle_read_bytes": sh_r,
            "shuffle_write_bytes": sh_w,
            "output_bytes": out_b,
            "task_skew": skew,
        }
