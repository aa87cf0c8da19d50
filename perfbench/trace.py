"""Measurement plumbing: spans around calls into the engine's public
functions, exact counts from the Spark event log and the store's file
tree, and the peak RSS of the whole process tree.

Spans are recorded only in a traced run. ``Tracer.wrap`` replaces a
module attribute with a timing wrapper; the engine resolves these
functions through their modules at call time (``from .x import f``
inside the calling function, or a module-global lookup), so every call
the benchmark's operations make into that layer is seen, including
calls from the engine's own worker threads. ``restore`` puts the
originals back.
"""

from __future__ import annotations

import contextvars
import functools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_PARENT: contextvars.ContextVar = contextvars.ContextVar("perfbench_span", default=None)


@dataclass
class Span:
    id: int
    name: str
    start: float  # time.time() seconds, comparable with Spark event times
    end: float
    parent: int | None


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        with self._lock:
            sid = len(self.spans)
            self.spans.append(Span(sid, name, time.time(), 0.0, _PARENT.get()))
        token = _PARENT.set(sid)
        try:
            yield
        finally:
            _PARENT.reset(token)
            self.spans[sid].end = time.time()

    def wrap(self, module, attr: str, name: str) -> None:
        original = getattr(module, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(module, attr, traced)
        self._patched.append((module, attr, original))

    def restore(self) -> None:
        for module, attr, original in reversed(self._patched):
            setattr(module, attr, original)
        self._patched.clear()

    def between(self, name: str, t0: float, t1: float) -> list[Span]:
        return [s for s in self.spans if s.name == name and t0 <= s.start and s.end <= t1]

    def total(self, name: str, t0: float, t1: float) -> tuple[float, int]:
        """(summed wall seconds, call count) of ``name`` spans inside
        [t0, t1]. Overlapping spans (worker threads) each count fully."""
        spans = self.between(name, t0, t1)
        return sum(s.end - s.start for s in spans), len(spans)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


# -- Spark event log ------------------------------------------------------


def _plan_nodes(node: dict):
    yield node
    for child in node.get("children", []):
        yield from _plan_nodes(child)


@dataclass
class EventLog:
    """The parts of a finished Spark event log the benchmark reads."""

    jobs: list[dict] = field(default_factory=list)  # {id, submit_ms, stages}
    stage_tasks: dict[int, list[dict]] = field(default_factory=dict)
    plans: dict[int, dict] = field(default_factory=dict)  # execution id -> final plan
    exec_start_ms: dict[int, int] = field(default_factory=dict)

    @classmethod
    def load(cls, directory: str) -> "EventLog":
        names = [n for n in os.listdir(directory) if not n.endswith(".inprogress")]
        if len(names) != 1:
            raise RuntimeError(f"expected one finished event log in {directory}, got {names}")
        log = cls()
        with open(os.path.join(directory, names[0])) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    log.jobs.append(
                        {"id": ev["Job ID"], "submit_ms": ev["Submission Time"], "stages": ev["Stage IDs"]}
                    )
                elif kind == "SparkListenerTaskEnd":
                    log.stage_tasks.setdefault(ev["Stage ID"], []).append(_task_record(ev))
                elif kind.endswith("SQLExecutionStart"):
                    log.exec_start_ms[ev["executionId"]] = ev["time"]
                    log.plans[ev["executionId"]] = ev["sparkPlanInfo"]
                elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                    log.plans[ev["executionId"]] = ev["sparkPlanInfo"]
        return log

    def jobs_between(self, t0: float, t1: float) -> list[dict]:
        lo, hi = t0 * 1000.0, t1 * 1000.0
        return [j for j in self.jobs if lo <= j["submit_ms"] <= hi]

    def task_totals(self, t0: float, t1: float) -> dict:
        """Sums over every task of every job submitted inside [t0, t1]."""
        jobs = self.jobs_between(t0, t1)
        stages = {s for j in jobs for s in j["stages"]}
        tot = {"jobs": len(jobs), "stages": 0, "tasks": 0, "run_ms": 0, "cpu_ns": 0,
               "gc_ms": 0, "overhead_ms": 0, "shuffle_write": 0, "shuffle_read": 0}
        for s in stages:
            tasks = self.stage_tasks.get(s)
            if not tasks:
                continue  # skipped stage (shuffle output reused)
            tot["stages"] += 1
            for t in tasks:
                tot["tasks"] += 1
                for k in ("run_ms", "cpu_ns", "gc_ms", "overhead_ms", "shuffle_write", "shuffle_read"):
                    tot[k] += t[k]
        return tot

    def executions_between(self, t0: float, t1: float) -> list[int]:
        lo, hi = t0 * 1000.0, t1 * 1000.0
        return [e for e, ms in self.exec_start_ms.items() if lo <= ms <= hi]

    def plan_node_count(self, execution: int, name: str) -> int:
        """Nodes called ``name`` in the execution's final (adaptive) plan."""
        return sum(1 for n in _plan_nodes(self.plans[execution]) if n["nodeName"] == name)

    def scan_rows(self, execution: int) -> int:
        """Rows the ``ome_zarr`` scan emitted: every decoded chunk's
        voxels, before Spark's row filter drops those outside the ROI."""
        ids = {
            m["accumulatorId"]
            for n in _plan_nodes(self.plans[execution])
            if n["nodeName"].startswith("BatchScan")
            for m in n.get("metrics", [])
            if m["name"] == "number of output rows"
        }
        return sum(
            int(a["Update"])
            for tasks in self.stage_tasks.values()
            for t in tasks
            for a in t["accums"]
            if a["ID"] in ids
        )


def _task_record(ev: dict) -> dict:
    info, metrics = ev["Task Info"], ev.get("Task Metrics") or {}
    run_ms = metrics.get("Executor Run Time", 0)
    read = metrics.get("Shuffle Read Metrics", {})
    return {
        "run_ms": run_ms,
        "cpu_ns": metrics.get("Executor CPU Time", 0),
        "gc_ms": metrics.get("JVM GC Time", 0),
        # launch-to-finish time the task did not spend running its body:
        # deserialisation, result serialisation and scheduler hand-off
        "overhead_ms": max(0, info["Finish Time"] - info["Launch Time"] - run_ms),
        "shuffle_write": metrics.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
        "shuffle_read": read.get("Local Bytes Read", 0) + read.get("Remote Bytes Read", 0),
        "accums": [a for a in info.get("Accumulables", []) if a.get("Metadata") == "sql"],
    }


# -- process tree RSS -----------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_rss_bytes(pid: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Background sampler, every ``INTERVAL`` seconds, of the summed RSS
    of this process and all its descendants (the Spark driver JVM and
    its Python workers)."""

    INTERVAL = 0.2

    def __init__(self) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.INTERVAL)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# -- store file tree --------------------------------------------------------

_JSON_NAMES = {"zarr.json", ".zattrs", ".zarray", ".zgroup", ".zmetadata"}


def tree_stats(root: str) -> dict:
    """Objects, bytes and metadata documents under ``root``, with chunk
    (non-metadata) bytes separated out."""
    out = {"objects": 0, "bytes": 0, "json_docs": 0, "chunk_bytes": 0}
    for d, _, files in os.walk(root):
        for name in files:
            size = os.path.getsize(os.path.join(d, name))
            out["objects"] += 1
            out["bytes"] += size
            if name in _JSON_NAMES:
                out["json_docs"] += 1
            else:
                out["chunk_bytes"] += size
    return out
