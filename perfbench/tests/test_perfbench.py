"""Spark-free tests of the benchmark's own arithmetic and readers.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import metrics  # noqa: E402
from perfbench.trace import Span, Tracer, parse_event_log, self_times  # noqa: E402

# ---------------------------------------------------------------- percentile


@pytest.mark.parametrize(
    "n, p",
    [(19, None), (20, 50), (39, 50), (40, 75), (100, 90), (199, 90),
     (200, 95), (1000, 99), (10000, 99.9)],
)
def test_tail_percentile_is_highest_with_ten_beyond(n, p):
    tail = metrics.tail_percentile([float(i) for i in range(1, n + 1)])
    if p is None:
        assert tail is None
        return
    assert tail[0] == p
    # the value is the nearest-rank sample: ten or more samples lie above it
    assert sum(1 for i in range(1, n + 1) if i > tail[1]) >= 10


def test_nearest_rank_and_summary():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert metrics.nearest_rank(xs, 50) == 3.0
    assert metrics.nearest_rank(xs, 100) == 5.0
    assert metrics.nearest_rank(xs, 1) == 1.0
    s = metrics.summary([float(i) for i in range(40)])
    assert s["n"] == 40 and s["p50"] == 19.5 and s["p75"] == 29.0
    assert metrics.summary([1.0, 2.0]) == {"n": 2, "p50": 1.5}


# ------------------------------------------------------------ process CPU


def _write_proc(root, pid, ppid, utime, stime, cutime=0, cstime=0, comm="python3"):
    d = root / str(pid)
    d.mkdir(exist_ok=True)
    # pid (comm) state ppid pgrp session tty tpgid flags minflt cminflt
    # majflt cmajflt utime stime cutime cstime priority ...
    fields = ["S", ppid, pid, pid, 0, -1, 0, 0, 0, 0, 0, utime, stime, cutime, cstime, 20, 0, 1]
    (d / "stat").write_text(f"{pid} ({comm}) " + " ".join(str(f) for f in fields) + "\n")
    (d / "status").write_text(f"Name:\t{comm}\nVmHWM:\t{1024 * pid} kB\n")


def test_tree_cpu_counts_live_and_reaped_descendants(tmp_path):
    _write_proc(tmp_path, 100, 1, utime=50, stime=10, cutime=7, cstime=3)
    _write_proc(tmp_path, 101, 100, utime=200, stime=20, comm="java (gateway)")
    _write_proc(tmp_path, 102, 101, utime=30, stime=5, comm="python3 ) worker")
    _write_proc(tmp_path, 200, 1, utime=9999, stime=9999)  # not in the tree
    (tmp_path / "self").mkdir()  # non-numeric entries are ignored
    got = metrics.tree_cpu_seconds(100, proc_root=str(tmp_path), clk_tck=100)
    assert got == pytest.approx((50 + 10 + 7 + 3 + 200 + 20 + 30 + 5) / 100)


def test_tree_cpu_does_not_drop_when_a_worker_is_reaped(tmp_path):
    _write_proc(tmp_path, 100, 1, utime=50, stime=10)
    _write_proc(tmp_path, 101, 100, utime=200, stime=20)
    _write_proc(tmp_path, 102, 101, utime=30, stime=5)
    before = metrics.tree_cpu_seconds(100, proc_root=str(tmp_path), clk_tck=100)
    # the worker exits and its parent waits for it: its CPU moves into
    # the parent's cutime/cstime
    for f in (tmp_path / "102").iterdir():
        f.unlink()
    (tmp_path / "102").rmdir()
    _write_proc(tmp_path, 101, 100, utime=200, stime=20, cutime=30, cstime=5)
    after = metrics.tree_cpu_seconds(100, proc_root=str(tmp_path), clk_tck=100)
    assert after == pytest.approx(before)


def test_peak_rss_splits_the_tree_by_process_kind(tmp_path):
    for pid, ppid, comm in ((3, 1, "python3"), (4, 3, "java"), (6, 4, "python"),
                            (7, 4, "bash"), (5, 1, "python")):  # 5 is not in the tree
        _write_proc(tmp_path, pid, ppid, 0, 0, comm=comm)
        (tmp_path / str(pid) / "comm").write_text(comm + "\n")
    got = metrics.peak_rss_split_mb(3, proc_root=str(tmp_path))
    assert got == {"jvm": 4.0, "python": 9.0, "other": 7.0}


def test_driver_memory_is_a_quarter_of_ram_within_limits():
    gb = 1 << 30
    assert metrics.driver_memory(15 * gb) == "3g"
    assert metrics.driver_memory(2 * gb) == "1g"
    assert metrics.driver_memory(256 * gb) == "8g"


# ------------------------------------------------------------------ spans


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span(1, "pass", 0.0, 10.0, None, 1),
        Span(2, "a", 1.0, 3.0, 1, 1),
        Span(3, "b", 2.0, 5.0, 1, 1),  # overlaps a: union is [1, 5]
        Span(4, "c", 8.0, 12.0, 1, 1),  # clipped to the parent: [8, 10]
        Span(5, "d", 2.5, 4.0, 3, 1),  # grandchild: only counts against b
        Span(6, "pass", 20.0, 21.0, None, 2),  # childless: all self time
    ]
    got = self_times(spans)
    assert got["pass"] == pytest.approx(10 - 6 + 1)
    assert got["a"] == pytest.approx(2.0)
    assert got["b"] == pytest.approx(3.0 - 1.5)
    assert got["c"] == pytest.approx(4.0)
    assert got["d"] == pytest.approx(1.5)


def test_tracer_nests_spans_under_one_operation_id(tmp_path):
    t = Tracer(True)
    with t.span("pass"):
        with t.span("op"):
            pass
    with t.span("pass"):
        pass
    by_name = {}
    for s in t.spans:
        by_name.setdefault(s.name, []).append(s)
    first, second = sorted(by_name["pass"], key=lambda s: s.id)
    (op,) = by_name["op"]
    assert op.parent == first.id and op.op == first.op
    assert second.op != first.op and second.parent is None
    assert all(s.end >= s.start for s in t.spans)
    t.dump(str(tmp_path / "spans.jsonl"))
    rows = [json.loads(x) for x in (tmp_path / "spans.jsonl").read_text().splitlines()]
    assert [r["id"] for r in rows] == sorted(s.id for s in t.spans)

    off = Tracer(False)
    with off.span("x"):
        pass
    assert off.spans == []


# -------------------------------------------------------------- event log


def _events():
    def stage(sid, tasks, acc):
        return {
            "Event": "SparkListenerStageCompleted",
            "Stage Info": {
                "Stage ID": sid,
                "Number of Tasks": tasks,
                "Accumulables": [{"ID": i, "Name": k, "Value": v} for i, (k, v) in enumerate(acc.items())],
            },
        }

    return [
        {"Event": "SparkListenerApplicationStart", "App Name": "t"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.job.description": "read.full"}},
        stage(0, 4, {
            "data sent to Python workers": 1000,
            "data returned from Python workers": 5000,
            "time to run Python workers": 1500,
            "internal.metrics.executorCpuTime": 2_000_000_000,
            "internal.metrics.jvmGCTime": 250,
            "internal.metrics.shuffle.write.bytesWritten": 777,
            "internal.metrics.resultSize": 12345,
        }),
        stage(1, 2, {"internal.metrics.executorCpuTime": 500_000_000}),
        # stage 1 reused by a later job keeps its first job's description
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {"spark.job.description": "read.lookup"}},
        stage(2, 1, {"time to run Python workers": 40}),
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3], "Properties": {}},
        stage(3, 3, {}),
    ]


def _check(parsed):
    full = parsed["read.full"]
    assert full["tasks"] == 6
    assert full["python_bytes_in"] == 1000 and full["python_bytes_out"] == 5000
    assert full["python_run_s"] == pytest.approx(1.5)
    assert full["executor_cpu_s"] == pytest.approx(2.5)
    assert full["gc_s"] == pytest.approx(0.25)
    assert full["shuffle_write_bytes"] == 777
    assert parsed["read.lookup"]["python_run_s"] == pytest.approx(0.04)
    assert parsed["read.lookup"]["tasks"] == 1
    assert parsed[""]["tasks"] == 3


def test_event_log_parser_plain_file(tmp_path):
    path = tmp_path / "app-1"
    path.write_text("".join(json.dumps(e) + "\n" for e in _events()))
    _check(parse_event_log(str(path)))


def test_event_log_parser_rolling_zstd_directory(tmp_path):
    import pyarrow as pa

    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    events = _events()
    # two rolled parts; part 10 sorts after part 2 numerically
    for part, chunk in (("2", events[:4]), ("10", events[4:])):
        with pa.output_stream(str(d / f"events_{part}_local-1.zstd"), compression="zstd") as f:
            f.write("".join(json.dumps(e) + "\n" for e in chunk).encode())
    (d / "appstatus_local-1").write_text("")
    _check(parse_event_log(str(d)))
