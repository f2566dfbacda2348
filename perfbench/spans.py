"""Measurement helpers: in-memory spans, process-tree sampling, the
Spark event log and the Python UDF profiler.

Spans are recorded from the benchmark's own code, around calls into the
program's public functions. ``Tracer.wrap_module_function`` swaps a
module function for a timed wrapper everywhere the program imported it,
so calls the program makes internally (``catalog.load_table`` inside a
query, ``compile_mapping`` inside a processor) are timed too. Nothing is
patched on an untraced run.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans


class Tracer:
    """Spans (name, start, end, parent) kept in memory and written once
    when the run ends. A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: dict[str, int] = defaultdict(int)
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def paused(self):
        """Record nothing inside the block (warm-up rounds)."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        st = self._stack()
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0,
                               st[-1] if st else None))
        st.append(idx)
        try:
            yield
        finally:
            st.pop()
            self.spans[idx].end = time.perf_counter()

    def wrap_module_function(self, module, attr: str, span_name: str
                             ) -> None:
        """Time every call of ``module.attr`` (a module function or a
        class method): replace it there and in each loaded
        ``connect_spark`` module that imported it by name. Restored by
        ``unpatch``."""
        if not self.enabled:
            return
        orig = getattr(module, attr)
        tracer = self

        def wrapped(*args, **kwargs):
            if tracer.enabled:
                tracer.counts[span_name] += 1
            with tracer.span(span_name):
                return orig(*args, **kwargs)

        wrapped.__wrapped__ = orig
        self._patched.append((module, attr, orig))
        setattr(module, attr, wrapped)
        for name, mod in list(sys.modules.items()):
            if not name.startswith("connect_spark") or mod is None:
                continue
            for k, v in list(vars(mod).items()):
                if v is orig and mod is not module:
                    self._patched.append((mod, k, orig))
                    setattr(mod, k, wrapped)

    def unpatch(self) -> None:
        for mod, k, orig in reversed(self._patched):
            setattr(mod, k, orig)
        self._patched.clear()

    def total(self, name: str) -> float:
        """Summed duration of every span called ``name``."""
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the time its direct
        child spans cover (children are nested, so they never overlap
        each other within one thread)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s.name] += (s.end - s.start) - child[i]
        return dict(out)

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = min((s.start for s in self.spans), default=0.0)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({
                "spans": [
                    {"name": s.name, "start": round(s.start - t0, 6),
                     "end": round(s.end - t0, 6), "parent": s.parent}
                    for s in self.spans
                ],
                "self_s": {k: round(v, 6)
                           for k, v in self.self_times().items()},
                "counts": dict(self.counts),
            }, fh)


# --------------------------------------------------------------------
# process tree: CPU split and peak RSS, read from /proc
# --------------------------------------------------------------------

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, str, float, int]]:
    """pid -> (ppid, comm, cpu seconds, rss bytes) for every process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as fh:
                raw = fh.read().decode("ascii", "replace")
        except OSError:
            continue
        comm = raw[raw.find("(") + 1:raw.rfind(")")]
        rest = raw.rsplit(")", 1)[-1].split()
        out[int(d)] = (int(rest[1]), comm,
                       (int(rest[11]) + int(rest[12])) / _CLK,
                       int(rest[21]) * _PAGE)
    return out


def tree() -> dict[int, tuple[str, float, int]]:
    """The benchmark's own process tree: pid -> (comm, cpu_s, rss)."""
    root = os.getpid()
    table = _proc_table()
    kids: dict[int, list[int]] = defaultdict(list)
    for pid, (ppid, *_rest) in table.items():
        kids[ppid].append(pid)
    out, stack = {}, [root]
    while stack:
        pid = stack.pop()
        if pid in table:
            out[pid] = table[pid][1:]
            stack.extend(kids.get(pid, []))
    return out


def cpu_split() -> tuple[float, float]:
    """(JVM cpu s, Python cpu s) summed over the live process tree."""
    jvm = py = 0.0
    for comm, cpu, _rss in tree().values():
        if comm.startswith("java"):
            jvm += cpu
        elif comm.startswith("python"):
            py += cpu
    return jvm, py


class RssSampler:
    """Samples the summed RSS of the process tree on a fixed period in a
    daemon thread and keeps the peak, from ``start`` to ``stop``."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period_s)

    def sample(self) -> None:
        rss = sum(r for _c, _cpu, r in tree().values())
        self.peak = max(self.peak, rss)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        """Take a last sample and end the thread; later calls do nothing."""
        if self._stop.is_set() or not self._thread.is_alive():
            return
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


# --------------------------------------------------------------------
# Spark event log (switched on through the traced run's environment)
# --------------------------------------------------------------------


def event_log_totals(log_dir: str, job_groups: tuple[str, ...]
                     ) -> dict[str, float]:
    """Sum task metrics over the event log(s) in ``log_dir``: stages,
    tasks, shuffle bytes, spill, GC, executor run time and Python tasks,
    counting only jobs started under a job group id that begins with one
    of ``job_groups``."""
    stage_group: dict[int, str | None] = {}
    tot = defaultdict(float)
    for path in _event_log_files(log_dir):
        with open(path, encoding="utf-8", errors="replace") as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                if not isinstance(ev, dict):
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                    continue
                if kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if _wanted(stage_group.get(sid), job_groups):
                        tot["stages"] += 1
                    continue
                if kind != "SparkListenerTaskEnd":
                    continue
                if not _wanted(stage_group.get(ev.get("Stage ID")),
                               job_groups):
                    continue
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tot["tasks"] += 1
                tot["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                tot["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                tot["shuffle_read_bytes"] += (
                    sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0))
                tot["shuffle_write_bytes"] += sw.get(
                    "Shuffle Bytes Written", 0)
                tot["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                       + m.get("Disk Bytes Spilled", 0))
                info = ev.get("Task Info") or {}
                if any("Python" in str(a.get("Name", ""))
                       for a in info.get("Accumulables", [])):
                    tot["python_tasks"] += 1
                    tot["longest_python_task_s"] = max(
                        tot["longest_python_task_s"],
                        (info.get("Finish Time", 0)
                         - info.get("Launch Time", 0)) / 1e3)
    return dict(tot)


def _event_log_files(log_dir: str) -> list[str]:
    """Event-log files in write order: a single-file log, or the parts
    ``events_<n>_<app>`` of a rolling log directory."""
    out = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isfile(path):
            out.append(path)
            continue
        parts = [f for f in os.listdir(path) if f.startswith("events_")]
        parts.sort(key=lambda f: int(f.split("_")[1]))
        out.extend(os.path.join(path, f) for f in parts)
    return out


def _wanted(group: str | None, groups: tuple[str, ...]) -> bool:
    return group is not None and group.startswith(groups)


def udf_profile_s(spark, dump_dir: str) -> float:
    """Total Python time the session UDF profiler
    (``spark.sql.pyspark.udf.profiler=perf``) recorded, over all UDFs."""
    import pstats

    os.makedirs(dump_dir, exist_ok=True)
    spark.profile.dump(dump_dir, type="perf")
    total = 0.0
    for f in glob.glob(os.path.join(dump_dir, "*.pstats")):
        total += pstats.Stats(f).total_tt
    return total
