"""Shared pieces of the benchmark: the span tracer, latency statistics,
host-noise and memory probes, and the run result.

Nothing here imports Spark, so the wire client side and the bare-checkout
failure path stay light.
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Fixed ladder for the tail percentile: the highest rung that still has at
# least TAIL_MIN_BEYOND samples above it is reported, and named in the output.
TAIL_LADDER = (50, 75, 90, 95, 99)
TAIL_MIN_BEYOND = 10


def now_ns() -> int:
    """CLOCK_MONOTONIC is system-wide on Linux, so spans from the bench
    process and the broker process share one time axis."""
    return time.monotonic_ns()


# --------------------------------------------------------------------- #
# statistics
# --------------------------------------------------------------------- #


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile (no interpolation): always a measured value."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, -(-len(s) * pct // 100))
    return s[int(rank) - 1]


def tail_rung(n: int) -> int:
    """Highest ladder percentile with at least TAIL_MIN_BEYOND of n samples
    strictly beyond it; the median when there are too few samples."""
    best = TAIL_LADDER[0]
    for pct in TAIL_LADDER:
        if n - -(-n * pct // 100) >= TAIL_MIN_BEYOND:
            best = pct
    return best


def latency_summary(ms: list[float]) -> dict:
    """p50 and tail of a list of latencies in ms, with the sample count."""
    if not ms:
        return {"n": 0, "p50_ms": None, "tail_ms": None, "tail_pct": None}
    pct = tail_rung(len(ms))
    return {
        "n": len(ms),
        "p50_ms": statistics.median(ms),
        "tail_ms": percentile(ms, pct),
        "tail_pct": pct,
    }


# --------------------------------------------------------------------- #
# tracing
# --------------------------------------------------------------------- #


@dataclass
class Span:
    span_id: int
    name: str
    layer: str
    start_ns: int
    end_ns: int = 0
    parent: int | None = None
    request: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end_ns - self.start_ns) / 1e6

    def as_json(self) -> dict:
        return {
            "id": self.span_id,
            "name": self.name,
            "layer": self.layer,
            "start_ns": self.start_ns,
            "end_ns": self.end_ns,
            "parent": self.parent,
            "request": self.request,
            "attrs": self.attrs,
        }


class Tracer:
    """In-memory span recorder. Spans nest per thread; a span's parent is
    the innermost open span of the same thread. Disabled tracers record
    nothing and cost one attribute test per call."""

    def __init__(self, enabled: bool, id_base: int = 0):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(id_base + 1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, layer: str, request: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        sp = Span(
            span_id=next(self._ids),
            name=name,
            layer=layer,
            start_ns=now_ns(),
            parent=parent.span_id if parent else None,
            request=request if request is not None else (parent.request if parent else None),
            attrs=dict(attrs),
        )
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end_ns = now_ns()
            stack.pop()
            with self._lock:
                self.spans.append(sp)

    def write(self, path: str) -> None:
        write_spans(path, self.spans)


def write_spans(path: str, spans: list[Span]) -> None:
    """Write spans as JSON lines in start order, self time included."""
    selfs = self_times(spans)
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as f:
        for sp in sorted(spans, key=lambda s: s.start_ns):
            rec = sp.as_json()
            rec["self_ms"] = selfs[sp.span_id]
            f.write(json.dumps(rec) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """A span's self time: its duration minus the part of it covered by
    its children (overlapping children are merged, not double counted)."""
    children: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(sp)
    out = {}
    for sp in spans:
        covered = 0
        cur_s = cur_e = None
        for c in sorted(children.get(sp.span_id, ()), key=lambda s: s.start_ns):
            s, e = max(c.start_ns, sp.start_ns), min(c.end_ns, sp.end_ns)
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[sp.span_id] = (sp.end_ns - sp.start_ns - covered) / 1e6
    return out


# --------------------------------------------------------------------- #
# host noise and memory
# --------------------------------------------------------------------- #


def _cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:]
    vals = [int(v) for v in fields]
    return sum(vals[:8]), vals[7] if len(vals) > 7 else 0


def tree_cpu_s(root: int | None = None) -> dict[int, tuple[str, float]]:
    """pid -> (command name, CPU seconds so far) over a live process tree:
    user plus system time of the process and of its children that already
    exited and were reaped (Python workers come and go within a window)."""
    hz = os.sysconf("SC_CLK_TCK")
    out = {}
    for pid in process_tree(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        comm = stat[stat.index("(") + 1 : stat.rindex(")")]
        fields = stat.rsplit(")", 1)[1].split()
        # utime, stime, cutime, cstime
        out[pid] = (comm, sum(int(v) for v in fields[11:15]) / hz)
    return out


class HostNoise:
    """Load average before the run, and over exactly the timed window
    (start()/stop() bracket the same interval the metrics cover, so
    numerator and denominator agree): hypervisor steal, and the CPU time
    the bench process tree (bench, JVM, Python workers, broker) used."""

    def __init__(self):
        self.loadavg_before = os.getloadavg()
        self._t0 = self._t1 = None
        self.cpu_s = 0.0
        self.cpu_by_command: dict[str, float] = {}

    def start(self) -> None:
        self._t0 = _cpu_ticks()
        self._cpu0 = tree_cpu_s()

    def stop(self) -> None:
        self._t1 = _cpu_ticks()
        for pid, (comm, cpu) in tree_cpu_s().items():
            used = cpu - self._cpu0.get(pid, (comm, 0.0))[1]
            self.cpu_by_command[comm] = self.cpu_by_command.get(comm, 0.0) + used
        self.cpu_s = sum(self.cpu_by_command.values())

    def record(self) -> dict:
        total = steal = 0
        if self._t0 and self._t1:
            total = self._t1[0] - self._t0[0]
            steal = self._t1[1] - self._t0[1]
        return {
            "loadavg_before": list(self.loadavg_before),
            "steal_ticks": steal,
            "steal_frac": (steal / total) if total else 0.0,
            "window_cpu_s": self.cpu_s,
            "window_cpu_s_by_command": self.cpu_by_command,
            "nproc": os.cpu_count(),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            # None: the heap is flyq_spark.session's default
            "SPARK_DRIVER_MEMORY": os.environ.get("SPARK_DRIVER_MEMORY"),
        }


def _children_map() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        out.setdefault(ppid, []).append(int(name))
    return out


def process_tree(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().decode(errors="replace")
    except OSError:
        return ""


def peak_rss_mb(root: int | None = None) -> float:
    """Sum of VmHWM (peak resident set) over the long-lived processes of a
    process tree, in MiB: the bench process, its JVM, the Python worker
    daemon, and any broker it spawned. The workers the daemon forks are
    left out: they come and go within a window, so which of them are
    alive when this runs is chance."""
    tree = process_tree(root or os.getpid())
    parent = {}
    for ppid, kids in _children_map().items():
        for k in kids:
            parent[k] = ppid
    total_kb = 0
    for pid in tree:
        cmd = _cmdline(pid)
        if "pyspark.daemon" in cmd and _cmdline(parent.get(pid, 0)) == cmd:
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


# --------------------------------------------------------------------- #
# run result
# --------------------------------------------------------------------- #


class Checks:
    """Correctness checks of one run. Every check counts as one attempted
    operation; a failed check counts as failed and is never skipped."""

    def __init__(self):
        self.passed = 0
        self.failures: list[str] = []

    def check(self, ok: bool, what: str) -> bool:
        if ok:
            self.passed += 1
        else:
            self.failures.append(what)
        return ok


@dataclass(frozen=True)
class Ctx:
    """One run's settings. ``tiny`` shrinks every input for the self-check;
    ``inject`` names deliberate faults the self-check expects to be caught."""

    seed: int
    seconds: float
    trace: bool
    workdir: str
    noise: HostNoise
    tiny: bool = False
    inject: frozenset = frozenset()


@dataclass
class Outcome:
    """What a workload hands back to run.py.

    ``call_ms`` holds the latency of every timed call into the public API
    that completed inside the window; ``calls_failed`` those that raised.
    ``metrics`` are the workload's own end-to-end metrics and ``layers`` the
    per-layer ones (traced runs), each as name -> (value, unit)."""

    setup_s: float
    call_ms: list[float]
    calls_failed: int
    window_s: float
    checks: Checks
    metrics: dict
    layers: dict = field(default_factory=dict)
    info: dict = field(default_factory=dict)
    spans: list = field(default_factory=list)
