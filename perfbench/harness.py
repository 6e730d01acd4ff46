"""Measurement plumbing shared by the workloads: latency statistics, the
span tracer, process sampling from ``/proc``, and the Spark and py4j
probes used by traced runs.

Nothing here imports the package under test, so ``test_perfbench.py``
can exercise it without a Spark session.
"""

from __future__ import annotations

import json
import math
import os
import re
import threading
import time
from contextlib import contextmanager

#: metric names: a letter or digit, then letters, digits, ``_ . -``
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

#: candidate tail percentiles, highest first
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def check_name(name: str) -> str:
    if not NAME_RE.match(name):
        raise ValueError(f"bad metric name {name!r}")
    return name


def check_unit(unit: str) -> str:
    if not UNIT_RE.match(unit):
        raise ValueError(f"bad metric unit {unit!r}")
    return unit


def tail_percentile(n_ops: int) -> float:
    """Highest candidate percentile with at least 10 samples beyond it
    when ``n_ops`` samples are taken; 50 when none qualifies."""
    for p in TAIL_CANDIDATES:
        if n_ops * (100.0 - p) / 100.0 >= 10.0 - 1e-9:
            return p
    return 50.0


def percentile(values, p: float) -> float:
    """Nearest-rank percentile (no interpolation: a reported tail is a
    latency some op really had)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[min(rank, len(xs)) - 1]


def reference_ms(n: int = 20_000) -> float:
    """Milliseconds a fixed pure-Python loop takes now: the speed of the
    shared host at this moment, independent of the package."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += i * i
    return (time.perf_counter() - t0) * 1e3


class Metrics:
    """Ordered name -> (value, unit) map with checked names and units."""

    def __init__(self) -> None:
        self.values: dict[str, dict] = {}

    def put(self, name: str, value: float, unit: str) -> None:
        self.values[check_name(name)] = {"value": float(value), "unit": check_unit(unit)}


# -- tracing ----------------------------------------------------------------


class Tracer:
    """In-memory spans: (name, start, end, parent, op id, counters).

    Disabled, :meth:`span` yields without recording, so untraced runs
    pay one generator entry per layer call. Spans nest by call order on
    the thread that opened them; a span opened on another thread (the
    streaming callback) starts a root of its own."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self.op_id = 0

    @contextmanager
    def span(self, name: str, **counters):
        if not self.enabled:
            yield counters
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": stack[-1] if stack else None,
            "op": self.op_id,
            "counters": counters,
        }
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        stack.append(idx)
        try:
            yield counters
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def self_times(self, ops: set | None = None) -> dict[str, dict]:
        """Per span name: calls and self time in ms (duration minus the
        part its direct children cover), over spans of ``ops``."""
        child_ms = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_ms[s["parent"]] += (s["end"] - s["start"]) * 1e3
        out: dict[str, dict] = {}
        for i, s in enumerate(self.spans):
            if s["end"] is None or (ops is not None and s["op"] not in ops):
                continue
            dur = (s["end"] - s["start"]) * 1e3
            agg = out.setdefault(s["name"], {"calls": 0, "self_ms": 0.0, "total_ms": 0.0})
            agg["calls"] += 1
            agg["self_ms"] += dur - child_ms[i]
            agg["total_ms"] += dur
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f, default=str)


# -- process sampling -------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE") if hasattr(os, "sysconf") else 4096
_TICK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(x) for x in f.read().split())
    except OSError:
        pass
    return out


def _descendants(pid: int) -> list[int]:
    todo, seen = [pid], []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(_children(p))
    return seen


def _kind(pid: int, root: int) -> str:
    if pid == root:
        return "driver"
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read().replace(b"\0", b" ")
    except OSError:
        return "gone"
    if b"java" in cmd.split(b" ")[0] or b"org.apache.spark" in cmd:
        return "jvm"
    if b"python" in cmd:
        return "worker"
    return "other"


def _hwm_cpu(pid: int) -> tuple[float, float]:
    """(peak RSS so far in MB, user+system CPU seconds) of one live
    process. The kernel's high-water mark catches spikes between
    samples, which makes the summed peak repeatable."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    cpu = (int(fields[11]) + int(fields[12])) / _TICK
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024, cpu
    return int(fields[21]) * _PAGE / 2**20, cpu


class ProcSampler:
    """Samples memory and CPU of this process and its descendants (the
    Spark JVM and its Python workers) on a background thread. The peak
    is the largest sum, over the processes alive at one sample, of each
    one's peak RSS so far."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.root = os.getpid()
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.peak_by_kind: dict[str, float] = {}
        self._cpu: dict[int, tuple[str, float]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        total = 0.0
        by_kind: dict[str, float] = {}
        for pid in _descendants(self.root):
            kind = _kind(pid, self.root)
            try:
                rss, cpu = _hwm_cpu(pid)
            except (OSError, IndexError, ValueError):
                continue
            total += rss
            by_kind[kind] = by_kind.get(kind, 0.0) + rss
            self._cpu[pid] = (kind, cpu)
        self.peak_mb = max(self.peak_mb, total)
        for k, v in by_kind.items():
            self.peak_by_kind[k] = max(self.peak_by_kind.get(k, 0.0), v)

    def cpu_by_kind(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for kind, cpu in self._cpu.values():
            out[kind] = out.get(kind, 0.0) + cpu
        return out

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> "ProcSampler":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


def process_write_bytes() -> int:
    """Bytes this process has passed to write calls (``wchar``)."""
    with open("/proc/self/io") as f:
        for line in f:
            if line.startswith("wchar:"):
                return int(line.split()[1])
    return 0


def dir_bytes(root: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(root):
        for name in files:
            try:
                total += os.lstat(os.path.join(dirpath, name)).st_size
            except OSError:
                pass
    return total


# -- py4j and Spark probes (traced runs only) -------------------------------


class Py4jCounter:
    """Counts py4j round trips by wrapping ``GatewayClient.send_command``;
    :meth:`uninstall` restores the original method."""

    def __init__(self) -> None:
        self.calls = 0
        self._orig = None

    def install(self) -> "Py4jCounter":
        from py4j.java_gateway import GatewayClient

        orig = GatewayClient.send_command
        counter = self

        def send_command(client, *args, **kwargs):
            counter.calls += 1
            return orig(client, *args, **kwargs)

        self._orig = orig
        GatewayClient.send_command = send_command
        return self

    def uninstall(self) -> None:
        if self._orig is not None:
            from py4j.java_gateway import GatewayClient

            GatewayClient.send_command = self._orig
            self._orig = None


def spark_jobs(spark) -> list[dict]:
    """Every job the status store retains: submission/completion epoch
    ms and per-stage task, executor-time and byte counters. Read once at
    the end of a traced run, after the listener bus has drained."""
    sc = spark.sparkContext
    ss = sc._jsc.sc().statusStore()
    jobs = ss.jobsList(None)
    out = []
    for i in range(jobs.size()):
        jd = jobs.apply(i)
        sub = jd.submissionTime()
        comp = jd.completionTime()
        if not sub.isDefined():
            continue
        stage_ids = jd.stageIds()
        stages = []
        for j in range(stage_ids.size()):
            sid = stage_ids.apply(j)
            try:
                st = ss.lastStageAttempt(sid)
            except Exception:  # skipped stages have no attempt: not run
                continue
            stages.append({
                "tasks": st.numTasks(),
                "executor_run_ms": st.executorRunTime(),
                "shuffle_read_bytes": st.shuffleReadBytes(),
                "shuffle_write_bytes": st.shuffleWriteBytes(),
                "input_bytes": st.inputBytes(),
            })
        out.append({
            "id": jd.jobId(),
            "start_ms": sub.get().getTime(),
            "end_ms": comp.get().getTime() if comp.isDefined() else None,
            "stages": stages,
        })
    return out


def union_ms(intervals) -> float:
    """Length of the union of (start, end) intervals."""
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
