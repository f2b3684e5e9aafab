"""Spans recorded around the benchmark's calls into the program, and the
reader for Spark's own event log.

A span has a name, a start, an end and the span that caused it; every
span of one operation carries the same operation id. Spans stay in
memory and are written out when the run ends."""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: "int | None"
    op: int


class Tracer:
    """In-memory span recorder. A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._ops = itertools.count(1)
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        op = parent.op if parent is not None else next(self._ops)
        s = Span(next(self._ids), name, time.perf_counter(), 0.0,
                 parent.id if parent is not None else None, op)
        self._stack.append(s)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.id):
                f.write(json.dumps(asdict(s)) + "\n")


def _covered(intervals: "list[tuple[float, float]]") -> float:
    """Length of the union of intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: "list[Span]") -> dict[str, float]:
    """Self time summed per span name: each span's duration minus the
    part of its interval that its child spans cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        kids = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.id, ())
            if c.end > s.start and c.start < s.end
        ]
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - _covered(kids)
    return out


# Stage-level accumulables read from SparkListenerStageCompleted, by the
# name this module reports them under, with the factor to the reported unit
_STAGE_ACCUMULABLES = {
    "data sent to Python workers": ("python_bytes_in", 1.0),
    "data returned from Python workers": ("python_bytes_out", 1.0),
    "time to run Python workers": ("python_run_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1.0),
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
}
PHASE_FIELDS = (
    "python_bytes_in", "python_bytes_out", "python_run_s",
    "shuffle_write_bytes", "executor_cpu_s", "gc_s", "tasks",
)


def _open_log(path: str):
    if path.endswith(".zstd"):
        import io

        import pyarrow as pa

        return io.TextIOWrapper(pa.input_stream(path, compression="zstd"))
    return open(path)


def _log_files(path: str) -> list[str]:
    """The event files of a log: the file itself, or the numbered
    ``events_<n>_*`` parts of a rolling log directory in order."""
    if not os.path.isdir(path):
        return [path]
    parts = [f for f in os.listdir(path) if f.startswith("events_")]
    parts.sort(key=lambda f: int(f.split("_")[1]))
    return [os.path.join(path, f) for f in parts]


def _lines(path: str):
    for part in _log_files(path):
        with _open_log(part) as f:
            yield from f


def parse_event_log(path: str) -> dict[str, dict[str, float]]:
    """Per job description, the summed stage metrics of every completed
    stage whose first job carried that description (unset descriptions
    are keyed ""). Reads a plain or zstd-compressed log file, or a
    rolling log directory."""
    stage_desc: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    for line in _lines(path):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
            for sid in ev.get("Stage IDs", ()):
                stage_desc.setdefault(sid, desc)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            desc = stage_desc.get(info["Stage ID"], "")
            acc = out.setdefault(desc, dict.fromkeys(PHASE_FIELDS, 0.0))
            acc["tasks"] += info.get("Number of Tasks", 0)
            for a in info.get("Accumulables", ()):
                hit = _STAGE_ACCUMULABLES.get(a.get("Name"))
                if hit is not None:
                    acc[hit[0]] += float(a.get("Value", 0)) * hit[1]
    return out
