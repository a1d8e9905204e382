"""Measurement plumbing: op timing, layer spans, Spark counters, memory.

An *op* is one closed-loop call a client makes: the call into a layer
(the lazy build, plus any eager jobs it fires) and the action that
completes it. Its latency is always measured. With tracing on, each call
into a layer inside the op is a *span* (name, start, end, parent, op id);
after the op returns, the Spark jobs it fired are read from the JVM's
``AppStatusStore`` and attributed to spans — by job group when the job
ran on the calling thread, and by submission time otherwise (jobs fired
from the callee's own threads, as ``etl.run_data_lake`` does). Spans and
counters stay in memory until the run ends.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    op_id: int
    id: int
    end: float = 0.0
    wall0: float = 0.0  # wall clock, to match Spark's job submission times
    wall1: float = 0.0
    group: str = ""
    jobs: list = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Op:
    id: int
    kind: str
    name: str
    round: int
    traced: bool
    start: float = 0.0
    latency: float = 0.0
    steal: float = 0.0
    ok: bool = True
    error: str = ""
    items: int = 0


STAGE_FIELDS = (
    ("tasks", "numTasks"),
    ("run_ms", "executorRunTime"),
    ("gc_ms", "jvmGcTime"),
    ("input_bytes", "inputBytes"),
    ("output_bytes", "outputBytes"),
    ("shuffle_read_bytes", "shuffleReadBytes"),
    ("shuffle_write_bytes", "shuffleWriteBytes"),
    ("spill_bytes", "diskBytesSpilled"),
)


class Tracer:
    """Times ops always; records spans and Spark counters when tracing."""

    def __init__(self):
        self.spark = None
        self.tracing = False
        self.ops: list[Op] = []
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op: Op | None = None
        self._last_job = -1

    def bind(self, spark) -> None:
        """Point the tracer at a (re)started session."""
        self.spark = spark
        self._last_job = -1

    # -- ops ---------------------------------------------------------------

    @contextmanager
    def op(self, kind: str, name: str, items: int, rnd: int):
        """Time one closed-loop op. An exception marks the op failed and
        is swallowed here: the loop goes on and ``failed`` counts it."""
        o = Op(len(self.ops), kind, name, rnd, self.tracing, items=items)
        self.ops.append(o)
        self._op = o
        clock = Interval()
        o.start = clock.t0
        try:
            with self.span(f"op.{kind}"):
                yield o
        except Exception as exc:  # an op that raises is a failed op
            o.ok = False
            o.error = f"{type(exc).__name__}: {str(exc)[:300]}"
        finally:
            o.latency, o.steal = clock.stop()
            self._op = None
        if self.tracing:
            self._collect_jobs(o)

    def fail(self, o: Op, why: str) -> None:
        o.ok = False
        o.error = o.error or why

    # -- spans -------------------------------------------------------------

    def span(self, name: str):
        if not self.tracing:
            return nullcontext()
        return self._span(name)

    @contextmanager
    def _span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), parent.id if parent else None,
                 self._op.id if self._op else -1, len(self.spans))
        s.wall0 = time.time()
        s.group = f"lakebench-{s.id}"
        self.spans.append(s)
        self._stack.append(s)
        sc = self.spark.sparkContext
        sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.wall1 = time.time()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent.group, parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def _collect_jobs(self, o: Op) -> None:
        """Attribute the Spark jobs fired during op ``o`` to its spans."""
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        mine = [s for s in self.spans if s.op_id == o.id]
        by_group = {s.group: s for s in mine}
        j = self._last_job + 1
        while True:
            try:
                jd = store.job(j)
            except Exception:  # no such job yet: every new job is read
                break
            self._last_job = j
            j += 1
            group = jd.jobGroup().get() if jd.jobGroup().isDefined() else None
            span = by_group.get(group)
            if span is None and jd.submissionTime().isDefined():
                t = jd.submissionTime().get().getTime() / 1000.0
                inside = [s for s in mine if s.wall0 <= t <= s.wall1]
                span = max(inside, key=lambda s: s.wall0) if inside else None
            if span is None:
                continue
            stages = {}
            for sid in str(jd.stageIds().mkString(",")).split(","):
                if not sid:
                    continue
                try:
                    sd = store.lastStageAttempt(int(sid))
                except Exception:  # stage evicted from the store
                    continue
                if str(sd.status()) == "SKIPPED":
                    continue
                stages[sid] = {k: int(getattr(sd, m)()) for k, m in STAGE_FIELDS}
            span.jobs.append({"job": j - 1, "stages": stages})

    # -- read-outs ---------------------------------------------------------

    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.id]

    def self_time(self, s: Span) -> float:
        # child spans of one op run one after another on the client thread
        return s.dur - sum(c.dur for c in self.children(s))

    @staticmethod
    def span_counter(s: Span, key: str) -> int:
        return sum(st[key] for jb in s.jobs for st in jb["stages"].values())

    def subtree(self, s: Span) -> list[Span]:
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(self.children(x))
        return out

    def dump(self, path: Path) -> None:
        import json

        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({
            "ops": [o.__dict__ for o in self.ops],
            "spans": [{
                "name": s.name, "id": s.id, "parent": s.parent, "op_id": s.op_id,
                "start": s.start, "end": s.end, "self_s": self.self_time(s),
                "jobs": s.jobs,
            } for s in self.spans],
        }, indent=1))


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def tail(xs) -> tuple[float, int]:
    """The highest whole percentile with at least ten samples beyond it,
    and its value (nearest rank). Below twenty samples that percentile
    would not exceed the median, so the maximum is reported instead, as
    percentile 100; the caller prints the sample count with it."""
    xs = sorted(xs)
    n = len(xs)
    if n < 20:
        return (xs[-1] if xs else 0.0), 100
    pct = int(100 * (n - 10) / n)
    rank = max(1, -(-pct * n // 100))  # ceil(pct/100 * n)
    return xs[rank - 1], pct


# ---------------------------------------------------------------------------
# process-tree memory
# ---------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) clock ticks summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = v
    return user + nice + system + irq + softirq, steal


class Interval:
    """Wall time of an interval and the host's steal share in it: of the
    CPU time this machine's CPUs wanted to run, the share the hypervisor
    gave to other guests instead. The ticks are host-wide (every process
    on the machine), so the share is printed beside the wall times to
    explain a slow run; it does not correct the gated figures."""

    def __init__(self):
        self.busy0, self.steal0 = cpu_ticks()
        self.t0 = time.perf_counter()

    def stop(self) -> tuple[float, float]:
        wall = time.perf_counter() - self.t0
        busy, steal = cpu_ticks()
        stolen = steal - self.steal0
        return wall, stolen / max(stolen + busy - self.busy0, 1)


def tree_cpu_seconds(root: int | None = None) -> float:
    """User + system CPU seconds of a process tree, including children it
    has already reaped (Spark's Python workers come and go)."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / tick


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers), sampled from /proc on a thread."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> None:
        total = sum(_rss_kb(p) for p in process_tree())
        self.peak_kb = max(self.peak_kb, total)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(timeout=5)
        self.sample()
