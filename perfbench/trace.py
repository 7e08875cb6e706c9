"""Benchmark-side tracing: spans around the public calls into each
crawlspark module, a /proc resident-memory sampler, a reader for the
JVM's GC log, and a roll-up of Spark's event log into the benchmark's
layer names.

Spans are recorded by the benchmark around its own calls; nothing
inside crawlspark is instrumented. They stay in memory until
``Tracer.dump`` writes them at the end of a run.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import statistics
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, comparable with Spark event times
    end: float
    parent: int | None  # index of the enclosing span
    run_id: str


class Tracer:
    """Nested spans. A disabled tracer records nothing, so the same
    driver code runs traced and untraced."""

    def __init__(self, run_id: str, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), 0.0, parent, self.run_id))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    @contextlib.contextmanager
    def patched(self, obj, methods: dict[str, str]):
        """Record a span (``methods[attr]``) around every call of each
        named method of ``obj`` made inside the block, including the
        calls ``obj`` makes on itself: the wrapper is set as an
        instance attribute, which shadows the class's method."""
        if not self.enabled:
            yield
            return
        for attr, span_name in methods.items():
            setattr(obj, attr, self._wrap(span_name, getattr(obj, attr)))
        try:
            yield
        finally:
            for attr in methods:
                delattr(obj, attr)

    def _wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f, indent=1)


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the part of its interval covered
    by its direct children (overlapping children counted once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(children.get(i, [])):
            lo, hi = max(lo, s.start), min(hi, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append((s.end - s.start) - covered)
    return out


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    out: dict[str, float] = {}
    for s, t in zip(spans, self_times(spans)):
        out[s.name] = out.get(s.name, 0.0) + t
    return out


# ---------------------------------------------------------------------------
# resident memory of the Spark JVM and its Python workers
# ---------------------------------------------------------------------------


def descendants(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # the command name may hold spaces; fields resume
                # after its closing parenthesis
                fields = f.read().rsplit(")", 1)[1].split()
            parent[int(d)] = int(fields[1])
        except (OSError, IndexError, ValueError):
            continue
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional resident size: each shared page is split among the
    processes mapping it, so summing over a process tree counts a page
    once even right after a Python worker is forked from its daemon."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class MemorySampler:
    """Samples the summed resident memory (PSS) of every process below
    ``root_pid`` (the Spark JVM and the Python workers it forks) in a
    thread; ``peak`` is the largest sum seen while running."""

    def __init__(self, root_pid: int, interval_s: float = 0.25):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> int:
        total = sum(_pss_bytes(p) for p in descendants(self.root_pid))
        self.peak = max(self.peak, total)
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> "MemorySampler":
        self.sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()


_GC_PAUSE = re.compile(r"^\[(\d+)ms\].* Pause .*?(\d+)([KMG])->(\d+)([KMG])\(")
_UNIT = {"K": 2**10, "M": 2**20, "G": 2**30}


def read_gc_log(path: str) -> list[tuple[float, int]]:
    """(epoch seconds, heap bytes in use after the pause) for every GC
    pause in a HotSpot ``-Xlog:gc:file=<path>:timemillis`` log."""
    out = []
    try:
        with open(path, errors="ignore") as f:
            for line in f:
                m = _GC_PAUSE.match(line)
                if m:
                    out.append((int(m[1]) / 1000, int(m[4]) * _UNIT[m[5]]))
    except OSError:
        pass
    return out


def heap_after_gc_peak(gcs: list[tuple[float, int]],
                       windows: list[tuple[float, float]]) -> int:
    """Largest heap in use after a GC pause inside one of ``windows``
    (epoch seconds), counting for each window the last pause before
    it too: what the heap held that the collector could not free.
    The heap in use before a pause is not used: it is mostly the
    young generation, which G1 lets fill most of the heap whatever
    the program keeps."""
    peak = 0
    for lo, hi in windows:
        before = [b for t, b in gcs if t < lo]
        inside = [b for t, b in gcs if lo <= t <= hi]
        peak = max([peak] + before[-1:] + inside)
    return peak


# ---------------------------------------------------------------------------
# Spark event log roll-up
# ---------------------------------------------------------------------------

# Stage -> layer, by the SQL operator scopes of the stage's RDDs, first
# match wins. The fused fetch+parse pass (and the politeness group
# apply fused into its stage) is the crawl's MapInPandas; the
# normalize, robots-verdict and docgen pandas UDFs are ArrowEvalPython.
_STAGE_LAYERS = (
    ("WriteFiles", "plans.ledger.write"),
    ("MapInPandas", "sources.fetch_parse"),
    ("ArrowEvalPython", "functions.arrow_udf"),
)
_OTHER = "plans.other"


def _stage_layer(stage_info: dict) -> str:
    scopes = set()
    for r in stage_info.get("RDD Info", []):
        sc = r.get("Scope")
        if sc:
            try:
                scopes.add(json.loads(sc).get("name", ""))
            except ValueError:
                continue
    for scope, layer in _STAGE_LAYERS:
        if scope in scopes:
            return layer
    return _OTHER


def read_event_log(evdir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(evdir, "**", "*"), recursive=True)):
        if not os.path.isfile(path) or "appstatus" in os.path.basename(path):
            continue
        if path.endswith(".crc"):
            continue
        with open(path, errors="ignore") as f:
            for line in f:
                try:
                    events.append(json.loads(line))
                except ValueError:
                    continue
    return events


def rollup(events: list[dict], window: tuple[float, float],
           steps: list[tuple[float, float]]) -> dict[str, float]:
    """Task metrics of tasks that finished inside ``window`` (epoch
    seconds), summed per layer and in total; jobs and tasks started
    inside each of ``steps``, as medians per step."""
    layer_of: dict[int, str] = {}
    for e in events:
        if e.get("Event") == "SparkListenerStageSubmitted":
            si = e["Stage Info"]
            layer_of[si["Stage ID"]] = _stage_layer(si)
    lo_ms, hi_ms = window[0] * 1000, window[1] * 1000
    tot = {"core_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
           "shuffle_write_bytes": 0, "spill_bytes": 0, "tasks": 0}
    by_layer: dict[str, float] = {}
    out_bytes = 0
    job_starts: list[float] = []
    task_starts: list[float] = []
    for e in events:
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            job_starts.append(e.get("Submission Time", 0) / 1000)
            continue
        if ev != "SparkListenerTaskEnd":
            continue
        info = e.get("Task Info") or {}
        task_starts.append(info.get("Launch Time", 0) / 1000)
        if not lo_ms <= info.get("Finish Time", 0) <= hi_ms:
            continue
        m = e.get("Task Metrics") or {}
        run_s = (m.get("Executor Run Time") or 0) / 1000
        tot["core_s"] += run_s
        tot["cpu_s"] += (m.get("Executor CPU Time") or 0) / 1e9
        tot["gc_s"] += (m.get("JVM GC Time") or 0) / 1000
        sw = m.get("Shuffle Write Metrics") or {}
        tot["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written") or 0
        tot["spill_bytes"] += (m.get("Memory Bytes Spilled") or 0) + (
            m.get("Disk Bytes Spilled") or 0
        )
        tot["tasks"] += 1
        layer = layer_of.get(e.get("Stage ID"), _OTHER)
        by_layer[layer] = by_layer.get(layer, 0.0) + run_s
        if layer == "plans.ledger.write":
            out_bytes += (m.get("Output Metrics") or {}).get(
                "Bytes Written"
            ) or 0

    def per_step(starts: list[float]) -> float:
        counts = [sum(a <= t < b for t in starts) for a, b in steps]
        return float(statistics.median(counts)) if counts else 0.0

    out = {f"spark.{k}": float(v) for k, v in tot.items()}
    for _, layer in _STAGE_LAYERS:
        out[f"{layer}_core_s"] = by_layer.get(layer, 0.0)
    out[f"{_OTHER}_core_s"] = by_layer.get(_OTHER, 0.0)
    out["plans.ledger.bytes_written"] = float(out_bytes)
    out["plans.jobs_per_step"] = per_step(job_starts)
    out["plans.tasks_per_step"] = per_step(task_starts)
    return out

