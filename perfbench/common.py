"""Shared machinery: Spark lifecycle, latency percentiles, peak-RSS sampling
and the span tracer behind the traced (per-layer) run.

The tracer measures each layer from outside: a span wraps one call into a
layer's public function, and Spark work is attributed to the span by the
range of job ids submitted while it was open (job groups do not work here:
``logstore.metrics.run_metrics`` sets and clears its own group).  Stage
figures come from the status store and are read as soon as a span closes,
because the store keeps only the most recent stages.
"""

from __future__ import annotations

import math
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

WORK_DIR = ".bench_work"

# every percentile a tail may be reported at, lowest first
TAIL_PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


# ---- statistics ------------------------------------------------------------


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples (rounded
    first, so 99.9 % of 10 000 is rank 9990, not 9991)."""
    return max(1, math.ceil(round(p / 100.0 * n, 6)))


def percentile(values, p: float) -> float:
    """Nearest-rank percentile of ``values`` (0 < p <= 100)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    return xs[_rank(p, len(xs)) - 1]


def tail_percentile(values, beyond: int = 10) -> tuple[float, float] | None:
    """Highest of :data:`TAIL_PERCENTILES` with at least ``beyond`` samples
    above its nearest rank, as (p, value); None when even the median has
    fewer than ``beyond`` samples beyond it."""
    n = len(values)
    best = None
    for p in TAIL_PERCENTILES:
        if n - _rank(p, n) >= beyond:
            best = p
    if best is None:
        return None
    return best, percentile(values, best)


def latency_summary(values, scale: float = 1.0) -> dict:
    """Median, tail and sample count of ``values`` multiplied by ``scale``."""
    out = {"n": len(values), "p50": percentile(values, 50) * scale if values else None}
    tail = tail_percentile(values)
    out["tail_p"], out["tail"] = (tail[0], tail[1] * scale) if tail else (None, None)
    return out


# ---- Spark lifecycle -------------------------------------------------------


def nproc() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def start_spark(root: str):
    """Start a ``local[nproc]`` session through ``outpost_spark.session``,
    with every scratch file (shuffle, temp, JVM temp) under ``root``."""
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(nproc()),
        SPARK_DRIVER_MEMORY="2g",
        SPARK_LOCAL_DIRS=os.path.join(root, "local"),
        TMPDIR=tmp,
        # a fixed, pre-touched heap: peak RSS then tracks what the run holds
        # outside the heap instead of when the collector chose to grow it
        SPARK_SUBMIT_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g -XX:+AlwaysPreTouch",
    )
    from outpost_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)


# ---- memory ----------------------------------------------------------------


def _tree_rss_bytes(root_pid: int) -> int:
    """Summed RSS of ``root_pid`` and all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                resident = int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
        rss[int(name)] = resident * os.sysconf("SC_PAGE_SIZE")
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        total += rss.get(pid, 0)
        stack.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Samples the RSS of this process tree (driver, JVM, Python workers)
    on a background thread; ``stop()`` returns the peak in MB."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
        return self.peak / 2**20


# ---- tracing ---------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    parent: "Span | None" = None
    request_id: str | None = None
    end: float = 0.0
    job_lo: int = 0
    job_hi: int = 0
    job_intervals: list = field(default_factory=list)
    counts: dict = field(default_factory=dict)
    children: list = field(default_factory=list)

    @property
    def busy_s(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.busy_s - _covered(self.start, self.end, [(c.start, c.end) for c in self.children])

    @property
    def driver_s(self) -> float:
        return self.busy_s - _covered(self.start, self.end, self.job_intervals)

    def add(self, **counts) -> None:
        for k, v in counts.items():
            self.counts[k] = self.counts.get(k, 0) + v

    def record(self) -> dict:
        return {
            "name": self.name,
            "start": self.start,
            "end": self.end,
            "parent": self.parent.name if self.parent else None,
            "request_id": self.request_id,
            "jobs": [self.job_lo, self.job_hi],
            "counts": self.counts,
        }


def _covered(lo: float, hi: float, intervals) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class _NullSpan:
    def add(self, **counts) -> None:
        pass


_NULL_SPAN = _NullSpan()

STAGE_FIELDS = ("exec_run_s", "exec_cpu_s", "gc_s", "input_rows", "shuffle_write_bytes", "tasks", "stages")


class Tracer:
    """Span recorder.  Disabled, ``span()`` yields a no-op and reads no
    Spark state, so untraced code pays one branch per call.

    A traced run may switch ``enabled`` off and on; the ``spark`` layer
    (:meth:`run_layer`) covers the enabled segments only."""

    def __init__(self, spark=None, enabled: bool = False):
        self.spans: list[Span] = []
        self._local = threading.local()
        self._jsc = spark.sparkContext._jsc.sc() if (enabled and spark is not None) else None
        self._tracker = spark.sparkContext.statusTracker() if self._jsc is not None else None
        self._enabled = False
        self._segments: list[tuple[float, float]] = []
        self._seg_start = 0.0
        self._run_jobs = self._next_job = 0
        self._run_seen_stages: set[int] = set()
        self._run_intervals: list = []
        self._run_totals = dict.fromkeys(STAGE_FIELDS, 0)
        self.enabled = enabled

    @property
    def enabled(self) -> bool:
        return self._enabled

    @enabled.setter
    def enabled(self, on: bool) -> None:
        on = bool(on) and self._jsc is not None
        if on and not self._enabled:
            self._seg_start = time.time()
            self._next_job = self.next_job_id()
        elif self._enabled and not on:
            self._sweep()
            self._segments.append((self._seg_start, time.time()))
        self._enabled = on

    def next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    def _sweep(self) -> None:
        """Fold every job since the last sweep into the ``spark`` layer."""
        hi = self.next_job_id()
        intervals, stages = self._job_figures(self._next_job, hi, time.time())
        self._run_jobs += hi - self._next_job
        self._next_job = hi
        self._run_intervals += intervals
        stages -= self._run_seen_stages
        self._run_seen_stages |= stages
        since = self._segments[0][0] if self._segments else self._seg_start
        for k, v in stage_totals(self._jsc.statusStore(), stages, since=since).items():
            self._run_totals[k] += v

    def run_layer(self) -> dict:
        """The ``spark`` layer: all Spark work of the enabled segments."""
        if self._enabled:
            self.enabled = False
        wall = sum(e - s for s, e in self._segments) or 1.0
        busy = sum(_covered(s, e, self._run_intervals) for s, e in self._segments)
        t = self._run_totals
        return {
            "jobs": self._run_jobs,
            "stages": t["stages"],
            "tasks": t["tasks"],
            "exec_run_s": t["exec_run_s"],
            "exec_cpu_s": t["exec_cpu_s"],
            "gc_s": t["gc_s"],
            "shuffle_write_bytes": t["shuffle_write_bytes"],
            "driver_share": 1.0 - busy / wall,
        }

    @contextmanager
    def span(self, name: str, request_id: str | None = None):
        if not self.enabled:
            yield _NULL_SPAN
            return
        parent = getattr(self._local, "top", None)
        sp = Span(name, time.time(), parent, request_id or (parent.request_id if parent else None))
        sp.job_lo = self.next_job_id()
        self._local.top = sp
        try:
            yield sp
        finally:
            self._local.top = parent
            sp.end = time.time()
            sp.job_hi = self.next_job_id()
            self._attribute(sp)
            if parent is not None:
                parent.children.append(sp)
            self.spans.append(sp)
            if parent is None:
                self._sweep()

    def _job_figures(self, lo: int, hi: int, default_end: float):
        """(run intervals, stage ids) of jobs ``lo``..``hi - 1``."""
        store = self._jsc.statusStore()
        intervals, stage_ids = [], set()
        for jid in range(lo, hi):
            try:
                job = store.job(jid)
            except Exception:  # evicted or never registered
                continue
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined():
                end = done.get().getTime() / 1000.0 if done.isDefined() else default_end
                intervals.append((sub.get().getTime() / 1000.0, end))
            info = self._tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        return intervals, stage_ids

    def _attribute(self, sp: Span) -> None:
        """Fold the span's jobs and the stages they ran into its counts."""
        sp.job_intervals, stage_ids = self._job_figures(sp.job_lo, sp.job_hi, sp.end)
        sp.add(jobs=sp.job_hi - sp.job_lo, **stage_totals(self._jsc.statusStore(), stage_ids, since=sp.start))

    def layer_totals(self) -> dict[str, dict]:
        """Per-layer sums over spans: calls, busy_s, self_s, driver_s and
        every count the spans recorded."""
        out: dict[str, dict] = {}
        for sp in self.spans:
            agg = out.setdefault(sp.name, {"calls": 0, "busy_s": 0.0, "self_s": 0.0, "driver_s": 0.0})
            agg["calls"] += 1
            agg["busy_s"] += sp.busy_s
            agg["self_s"] += sp.self_s
            agg["driver_s"] += sp.driver_s
            for k, v in sp.counts.items():
                agg[k] = agg.get(k, 0) + v
        return out

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            json.dump([sp.record() for sp in self.spans], f)


def stage_totals(store, stage_ids, since: float) -> dict:
    """Summed executor figures of the stages in ``stage_ids`` that were
    submitted at or after ``since`` (epoch seconds).  A stage skipped
    because an earlier job already ran it is not counted again."""
    tot = dict.fromkeys(STAGE_FIELDS, 0)
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # skipped stages may have no attempt
            continue
        sub = st.submissionTime()
        if str(st.status().toString()) == "SKIPPED" or not sub.isDefined():
            continue
        if sub.get().getTime() / 1000.0 < since - 0.005:
            continue
        tot["stages"] += 1
        tot["tasks"] += int(st.numCompleteTasks())
        tot["exec_run_s"] += st.executorRunTime() / 1000.0
        tot["exec_cpu_s"] += st.executorCpuTime() / 1e9
        tot["gc_s"] += st.jvmGcTime() / 1000.0
        tot["input_rows"] += int(st.inputRecords())
        tot["shuffle_write_bytes"] += int(st.shuffleWriteBytes())
    return tot
