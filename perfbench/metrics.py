"""Measurement helpers with no Spark dependency: the process-tree CPU
reader, peak resident memory, the percentile rule and run provenance."""

from __future__ import annotations

import hashlib
import math
import os
import platform
import statistics

# candidate percentiles for the tail figure, highest first
_TAIL_PERCENTILES = (99.9, 99, 95, 90, 75, 50)


def _read_stat(proc_root: str, pid: int) -> "list[str] | None":
    """Fields of /proc/<pid>/stat after the command name, or None when
    the process is gone. Field 0 here is the state (stat field 3)."""
    try:
        with open(os.path.join(proc_root, str(pid), "stat")) as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def tree_pids(root_pid: int, proc_root: str = "/proc") -> list[int]:
    """``root_pid`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for d in os.listdir(proc_root):
        if not d.isdigit():
            continue
        fields = _read_stat(proc_root, int(d))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(d))
    out, stack, seen = [], [root_pid], set()
    while stack:
        pid = stack.pop()
        if pid in seen:
            continue
        seen.add(pid)
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def tree_cpu_seconds(
    root_pid: "int | None" = None,
    proc_root: str = "/proc",
    clk_tck: "int | None" = None,
) -> float:
    """CPU seconds of ``root_pid`` and its descendants, counting the
    reaped ones too.

    Each live process contributes utime + stime (stat fields 14-15) and
    cutime + cstime (fields 16-17): the CPU of children it has already
    waited for. A Python worker that exits between two readings moves
    its CPU from its own utime into its parent's cutime, so the tree
    total never drops. A live child's time is not yet in its parent's
    cutime, so nothing is counted twice."""
    root_pid = os.getpid() if root_pid is None else root_pid
    clk_tck = clk_tck or os.sysconf("SC_CLK_TCK")
    ticks = 0
    for pid in tree_pids(root_pid, proc_root):
        fields = _read_stat(proc_root, pid)
        if fields is not None:
            ticks += sum(int(fields[i]) for i in (11, 12, 13, 14))
    return ticks / clk_tck


def peak_rss_mb(pid: int, proc_root: str = "/proc") -> float:
    """Peak resident set (VmHWM) of one process, 0 when it is gone."""
    try:
        with open(os.path.join(proc_root, str(pid), "status")) as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def peak_rss_split_mb(root_pid: "int | None" = None, proc_root: str = "/proc") -> dict:
    """Peak resident MB of the process tree, split into the JVM and the
    Python processes (this Spark driver process, Spark's Python daemon and workers)."""
    root_pid = os.getpid() if root_pid is None else root_pid
    out = {"jvm": 0.0, "python": 0.0, "other": 0.0}
    for pid in tree_pids(root_pid, proc_root):
        try:
            with open(os.path.join(proc_root, str(pid), "comm")) as f:
                name = f.read().strip()
        except OSError:
            continue
        kind = "jvm" if name == "java" else "python" if name.startswith("python") else "other"
        out[kind] += peak_rss_mb(pid, proc_root)
    return out


def nearest_rank(samples: "list[float]", p: float) -> float:
    """Nearest-rank percentile ``p`` (0-100] of a non-empty sample."""
    xs = sorted(samples)
    # round first: 99.9 / 100 * 10000 is 9990.000000000002 in floats
    return xs[max(0, math.ceil(round(p / 100 * len(xs), 9)) - 1)]


def tail_percentile(samples: "list[float]") -> "tuple[float, float] | None":
    """(p, value) for the highest percentile that has at least ten
    samples beyond it, or None when fewer than 20 samples exist."""
    n = len(samples)
    for p in _TAIL_PERCENTILES:
        if n * (1 - p / 100) >= 10 - 1e-9:
            return p, nearest_rank(samples, p)
    return None


def summary(samples: "list[float]") -> dict:
    """Median, tail percentile and sample count of a timing sample."""
    out = {"n": len(samples)}
    if samples:
        out["p50"] = statistics.median(samples)
        tail = tail_percentile(samples)
        if tail is not None:
            out[f"p{tail[0]:g}"] = tail[1]
    return out


def ram_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory(ram: int) -> str:
    """Spark driver heap for a local session: a quarter of RAM, at
    least 1 GB and at most 8 GB (the benchmark inputs are small; the
    rest stays with the page cache and Python workers)."""
    return f"{max(1, min(8, ram // 4 // (1 << 30)))}g"


def source_digest(root: str) -> str:
    """sha256 over the program's Python sources (path + bytes), which
    identifies the code measured when no git metadata is present."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "colcrush")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for name in sorted(filenames):
            if name.endswith(".py"):
                full = os.path.join(dirpath, name)
                h.update(os.path.relpath(full, root).encode())
                with open(full, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def git_head(root: str) -> "str | None":
    """Commit sha from .git without running git, or None."""
    git = os.path.join(root, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        ref_file = os.path.join(git, ref)
        if os.path.exists(ref_file):
            with open(ref_file) as f:
                return f.read().strip()
        with open(os.path.join(git, "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return None


def provenance(root: str, seed: int, cores: int, ram: int) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    return {
        "measured": "this run",
        "git_commit": git_head(root),
        "source_sha256": source_digest(root),
        "nproc": cores,
        "ram_bytes": ram,
        "seed": seed,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
    }
