"""Shared pieces of the benchmark: statistics, /proc readers, the span
tracer, output fingerprints and the per-run host record.

Everything here is read from outside the program under test: the
benchmark times calls into ``flo_spark``'s public functions and reads
the host and process state from ``/proc``.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import statistics
import subprocess
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
OUT = os.path.join(ROOT, ".perfbench_out")
CLK_TCK = os.sysconf("SC_CLK_TCK")
NPROC = len(os.sched_getaffinity(0))


# -- statistics -------------------------------------------------------
def pct(values, q: float) -> float:
    """Nearest-rank percentile ``q`` in [0, 100] of ``values``."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no samples")
    k = max(1, math.ceil(q / 100.0 * len(s)))
    return s[k - 1]


def tail_pct(samples, q: float, unit: str):
    """``(percentile q, unit)``, or why it is unavailable: a p90 needs
    100 samples and a p99 1000, so that ten lie beyond it."""
    need = math.ceil(10 / (1 - q / 100.0) - 1e-9)
    if len(samples) < need:
        return f"unavailable: {len(samples)} samples < {need} (raise --seconds)"
    return pct(samples, q), unit


def median(values) -> float:
    return statistics.median(values)


def geomean(values) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


# -- /proc readers ----------------------------------------------------
def cpu_seconds(pid: int | str = "self") -> float:
    """utime + stime of one process, from ``/proc/<pid>/stat``."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / CLK_TCK


def tree_cpu_seconds(pid: int) -> float:
    """CPU seconds of ``pid`` and every live descendant (Spark's Python
    workers are children of the JVM)."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    parent[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                pass
    tree, frontier = {pid}, [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    total = 0.0
    for p in tree:
        try:
            total += cpu_seconds(p)
        except OSError:
            pass  # ended between the scan and the read
    return total


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of one process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_times() -> list[int]:
    """Aggregate jiffies from the ``cpu`` line of ``/proc/stat``."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(start: list[int], end: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two samples."""
    delta = [b - a for a, b in zip(start, end)]
    total = sum(delta[:8])  # guest time is already inside user/nice
    return delta[7] / total if total else 0.0


def host_ref_ms() -> float:
    """Median time of a fixed pure-Python loop: a host that runs slower
    without reporting steal (frequency, shared caches) shows here."""
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        sum(i * i for i in range(200_000))
        times.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(times)


class HostRecord:
    """What makes an externally loaded run detectable afterwards."""

    def __init__(self, seed: int):
        self.seed = seed
        self.load_start = os.getloadavg()[0]
        self.ref_start = host_ref_ms()
        self.cpu_start = cpu_times()

    def finish(self, **extra) -> dict:
        steal = steal_share(self.cpu_start, cpu_times())
        rec = {
            "nproc": NPROC,
            "load_avg_1m": [round(self.load_start, 2), round(os.getloadavg()[0], 2)],
            "steal_share": round(steal, 4),
            "host_ref_ms": [round(self.ref_start, 2), round(host_ref_ms(), 2)],
            "seed": self.seed,
            "git_commit": git_commit(),
        }
        rec.update(extra)
        return rec


def git_commit() -> str:
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=ROOT,
            capture_output=True,
            text=True,
            timeout=10,
        ).stdout.strip() or "unavailable (not a git checkout)"
    except (OSError, subprocess.SubprocessError):
        return "unavailable (git not runnable)"


# -- tracing ----------------------------------------------------------
class Tracer:
    """In-memory spans: name, start, end, parent span and op id.  Spans
    are written out once, when the run ends.  A disabled tracer records
    nothing, so untraced runs pay one attribute check per boundary."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple] = []
        self._local = threading.local()
        self._next = 0
        self._lock = threading.Lock()

    def span(self, name: str, op: str | None = None):
        return _Span(self, name, op) if self.enabled else _NOOP

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span named ``name``."""
        if not self.enabled:
            return fn

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def _push(self, sp) -> None:
        stack = self._local.__dict__.setdefault("stack", [])
        sp.parent = stack[-1].sid if stack else None
        if sp.op is None:
            sp.op = stack[-1].op if stack else None
        stack.append(sp)
        with self._lock:
            self._next += 1
            sp.sid = self._next

    def _pop(self, sp) -> None:
        self._local.stack.pop()
        self.spans.append((sp.sid, sp.parent, sp.op, sp.name, sp.t0, sp.t1))

    def summary(self) -> dict[str, dict]:
        """Per span name: calls, total and self time in ms.  Self time
        is a span's duration minus the time its child spans cover."""
        child_ms: dict[int, float] = {}
        for sid, parent, _op, _n, t0, t1 in self.spans:
            if parent is not None:
                child_ms[parent] = child_ms.get(parent, 0.0) + (t1 - t0) * 1e3
        out: dict[str, dict] = {}
        for sid, _p, _op, name, t0, t1 in self.spans:
            s = out.setdefault(name, {"calls": 0, "total_ms": 0.0, "self_ms": 0.0})
            dur = (t1 - t0) * 1e3
            s["calls"] += 1
            s["total_ms"] += dur
            s["self_ms"] += dur - child_ms.get(sid, 0.0)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sid, parent, op, name, t0, t1 in self.spans:
                f.write(
                    json.dumps(
                        {"id": sid, "parent": parent, "op": op, "name": name,
                         "start": t0, "end": t1}
                    )
                    + "\n"
                )


class _Span:
    __slots__ = ("tracer", "name", "op", "sid", "parent", "t0", "t1")

    def __init__(self, tracer: Tracer, name: str, op: str | None):
        self.tracer, self.name, self.op = tracer, name, op

    def __enter__(self):
        self.tracer._push(self)
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.t1 = time.perf_counter()
        self.tracer._pop(self)
        return False


class _Noop:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


_NOOP = _Noop()


# -- output fingerprints ----------------------------------------------
def canon(v) -> str:
    """Order-free canonical text of one value (full float precision)."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    if hasattr(v, "isoformat"):
        try:
            return v.isoformat(sep=" ", timespec="microseconds")
        except TypeError:
            return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    try:
        import pandas as pd

        if pd.isna(v):
            return "NULL"
    except (TypeError, ValueError):
        pass
    return str(v)


def fingerprint(cols, rows) -> tuple[int, str]:
    """(row count, sha256 of the sorted canonical rows); columns are
    ordered by lower-cased name, rows by their canonical text."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    canon_rows = sorted(
        "\x1f".join(canon(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    h.update("\x1e".join(cols[i].lower() for i in order).encode())
    for r in canon_rows:
        h.update(b"\x1d" + r.encode())
    return len(canon_rows), h.hexdigest()[:32]


def frame_fingerprint(pdf) -> tuple[int, str]:
    return fingerprint(list(pdf.columns), pdf.itertuples(index=False, name=None))
