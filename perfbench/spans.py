"""Tracing for the benchmark's traced run, and the RSS sampler both runs use.

Spans are recorded in memory around the package's public calls (and the
crawl engine's per-round step), and written out when the run ends. Spark
runs lazily, so a span around a DataFrame-returning call measures only
planning; execution is attributed by tagging every Spark job with the span
that launched it (a local property the event log keeps) and reading task
busy time, shuffle bytes and Python UDF time from Spark's event log.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import threading
import time
from collections import defaultdict

SPAN_PROP = "perfbench.span"


class Tracer:
    """In-memory span recorder. ``begin``/``end`` keep a stack so the job
    tag always names the innermost open span."""

    def __init__(self):
        self.spans: list[dict] = []
        self.stack: list[int] = []

    def _tag(self) -> None:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is not None:
            sc.setLocalProperty(
                SPAN_PROP, str(self.stack[-1]) if self.stack else None
            )

    def begin(self, name: str, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({
            "id": sid, "name": name,
            "parent": self.stack[-1] if self.stack else None,
            "start": time.monotonic(), "end": None, **attrs,
        })
        self.stack.append(sid)
        self._tag()
        return sid

    def end(self, sid: int, **attrs) -> None:
        self.spans[sid]["end"] = time.monotonic()
        self.spans[sid].update(attrs)
        while self.stack and self.stack[-1] != sid:
            self.stack.pop()
        if self.stack:
            self.stack.pop()
        self._tag()

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` by a version that runs inside a span.
        ``on_result(span, args, kwargs, result)`` may add attributes. An
        absent attribute fails the run: the package is out of step with
        the benchmark, and its layer metric would silently read 0."""
        fn = getattr(owner, attr, None)
        if fn is None:
            raise AttributeError(
                f"{getattr(owner, '__name__', owner)} has no {attr!r} to trace")
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sid = tracer.begin(name)
            try:
                result = fn(*args, **kwargs)
            finally:
                tracer.end(sid)
            if on_result is not None:
                on_result(tracer.spans[sid], args, kwargs, result)
            return result

        setattr(owner, attr, traced)

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def self_time(self, sid: int) -> float:
        """Span duration minus the part of it that child spans cover."""
        s = self.spans[sid]
        covered, last = 0.0, s["start"]
        for c in sorted(self.children(sid), key=lambda c: c["start"]):
            lo, hi = max(c["start"], last), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                last = hi
        return (s["end"] - s["start"]) - covered

    def subtree(self, sid: int) -> set[int]:
        out, todo = {sid}, [sid]
        while todo:
            cur = todo.pop()
            for c in self.children(cur):
                out.add(c["id"])
                todo.append(c["id"])
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh, default=lambda _: None)


class EventLog:
    """The parts of one Spark event log the per-layer metrics need."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.stages: dict[int, dict] = {}
        self.accums: dict[int, tuple[str, str, str]] = {}
        tasks: dict[int, list] = defaultdict(list)
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    span = props.get(SPAN_PROP)
                    self.jobs[ev["Job ID"]] = {
                        "span": int(span) if span not in (None, "") else None,
                        "stages": ev["Stage IDs"],
                    }
                    for st in ev["Stage IDs"]:
                        self.stage_job.setdefault(st, ev["Job ID"])
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    self.stages[info["Stage ID"]] = {
                        "accums": {
                            a["ID"]: a.get("Value")
                            for a in info.get("Accumulables", [])
                        },
                    }
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    tasks[ev["Stage ID"]].append(m)
                elif kind.endswith("SQLExecutionStart") or kind.endswith(
                    "SQLAdaptiveExecutionUpdate"
                ):
                    self._plan(ev["sparkPlanInfo"])
        for sid, st in self.stages.items():
            ms = tasks.get(sid, [])
            st["busy_s"] = sum(m.get("Executor Run Time", 0) for m in ms) / 1e3
            st["gc_s"] = sum(m.get("JVM GC Time", 0) for m in ms) / 1e3
            st["spill"] = sum(
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                for m in ms
            )
            st["shuffle_w"] = sum(
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                for m in ms
            )
            st["rows"] = [
                (m.get("Input Metrics") or {}).get("Records Read", 0)
                + (m.get("Shuffle Read Metrics") or {}).get("Total Records Read", 0)
                for m in ms
            ]

    def _plan(self, node: dict) -> None:
        for m in node.get("metrics", []):
            self.accums[m["accumulatorId"]] = (
                node.get("simpleString", ""), m["name"], m.get("metricType", "")
            )
        for c in node.get("children", []):
            self._plan(c)

    def stages_of(self, span_ids: set[int]) -> list[int]:
        return [
            st for st, job in self.stage_job.items()
            if st in self.stages and self.jobs[job]["span"] in span_ids
        ]

    def jobs_of(self, span_ids: set[int]) -> list[int]:
        return [j for j, job in self.jobs.items() if job["span"] in span_ids]

    def python_s(self, stage_ids, udf_marker: str) -> float:
        """Seconds Python workers ran for plan nodes whose description
        contains ``udf_marker`` (a UDF name, or MapInPandas)."""
        total = 0.0
        for st in stage_ids:
            for aid, val in self.stages[st]["accums"].items():
                desc, name, mtype = self.accums.get(aid, ("", "", ""))
                if name == "time to run Python workers" and udf_marker in desc:
                    v = float(val or 0)
                    total += v / 1e9 if mtype == "nsTiming" else v / 1e3
        return total

    def node_busy_s(self, stage_ids, *node_markers: str) -> float:
        """Task busy seconds of the stages that ran a plan node whose
        description contains any of ``node_markers``."""
        return sum(
            self.stages[st]["busy_s"] for st in stage_ids
            if any(m in self.accums.get(a, ("",))[0]
                   for a in self.stages[st]["accums"] for m in node_markers)
        )

    def sum(self, stage_ids, key: str) -> float:
        return sum(self.stages[st][key] for st in stage_ids)

    def skew(self, stage_ids) -> float:
        """max / median task input rows in the stage that read most rows."""
        best = max(
            (self.stages[st]["rows"] for st in stage_ids
             if len(self.stages[st]["rows"]) > 1),
            key=sum, default=None,
        )
        if not best:
            return 0.0
        med = statistics.median(best)
        return max(best) / med if med else 0.0


class RssSampler:
    """Peak summed RSS of this process's descendants (the Spark JVM and its
    Python workers), sampled from /proc on a background thread between
    ``start()`` and ``stop()``. ``exclude`` pids (and their children) are
    left out."""

    PAGE = os.sysconf("SC_PAGE_SIZE")

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.exclude: set[int] = set()
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def descendants(self) -> list[int]:
        """Pids of this process's descendants, less ``exclude``."""
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
        kids: dict[int, list[int]] = defaultdict(list)
        for pid, ppid in parent.items():
            kids[ppid].append(pid)
        out, todo = [], list(kids[os.getpid()])
        while todo:
            pid = todo.pop()
            if pid in self.exclude:
                continue
            out.append(pid)
            todo.extend(kids[pid])
        return out

    def _descendants_rss(self) -> int:
        total = 0
        for pid in self.descendants():
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self.PAGE
            except OSError:
                continue
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._descendants_rss())
            self._stop.wait(self.interval_s)

    def start(self) -> None:
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> float:
        """Stops sampling; returns the peak in MiB."""
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.peak = max(self.peak, self._descendants_rss())
        return self.peak / (1 << 20)
