"""Benchmark-side tracing: spans, per-call wrappers and Spark engine counters.

Nothing here lives inside the program. Spans are recorded around the
program's public calls from the benchmark's own files; Spark counters are
read from Spark's status stores after each phase. A disabled ``Tracer``
records nothing and adds no Spark calls, so untraced runs measure the
program alone.
"""

from __future__ import annotations

import contextlib
import functools
import os
import re
import threading
import time
from dataclasses import dataclass, field

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: str | None = None
    jobs: int = 0

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Span recorder. With ``enabled=False`` it records nothing and makes
    no Spark calls."""

    enabled: bool
    spark: object = None
    spans: list[Span] = field(default_factory=list)
    catalyst: list[dict[str, float]] = field(default_factory=list)  # phase -> seconds, per query
    _stack: list[Span] = field(default_factory=list)
    bookkeeping_s: float = 0.0  # time spent in the tracer's own Spark calls
    _seen_qe: set = field(default_factory=set)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    # -------------------------------------------------------------- spans
    def _jobs_total(self) -> int:
        t = time.perf_counter()
        n = int(self.spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs())
        self.bookkeeping_s += time.perf_counter() - t
        return n

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(id=len(self.spans), name=name, start=time.perf_counter(),
                 parent=parent.id if parent else None, op=op or (parent.op if parent else None))
        self.spans.append(s)
        self._stack.append(s)
        j0 = self._jobs_total()
        try:
            yield s
        finally:
            s.jobs = self._jobs_total() - j0
            s.end = time.perf_counter()
            self._stack.pop()

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` by a span-recording wrapper (traced
        runs only), so calls the program makes through that name show up
        as spans of their own."""
        if not self.enabled:
            return
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def wrapped(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        setattr(module, attr, wrapped)

    # ---------------------------------------------------------- catalyst
    def listen_catalyst(self) -> None:
        """Register a JVM QueryExecutionListener (py4j callback) that keeps
        each query's analysis / optimization / planning times."""
        if not self.enabled:
            return
        from pyspark.java_gateway import ensure_callback_server_started  # noqa: PLC0415

        sc = self.spark.sparkContext
        ensure_callback_server_started(sc._gateway)
        tracer = self

        class Listener:
            def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 — JVM interface
                tracer._on_query(qe)

            def onFailure(self, func_name, qe, exc):  # noqa: N802
                tracer._on_query(qe)

            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

        self._listener = Listener()
        self.spark._jsparkSession.listenerManager().register(self._listener)

    def _on_query(self, qe) -> None:
        key = qe.id()
        with self._lock:
            if key in self._seen_qe:  # a reused QueryExecution planned once
                return
            self._seen_qe.add(key)
        it = qe.tracker().phases().iterator()
        phases = {}
        while it.hasNext():
            kv = it.next()
            phases[kv._1()] = kv._2().durationMs() / 1000.0
        with self._lock:
            self.catalyst.append(phases)

    def drain(self) -> None:
        """Wait until Spark's listener bus has delivered every event."""
        if self.enabled:
            self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def take_catalyst(self) -> dict[str, float]:
        self.drain()
        with self._lock:
            got, self.catalyst = self.catalyst, []
        out = {"catalyst.analysis_s": 0.0, "catalyst.optimization_s": 0.0, "catalyst.planning_s": 0.0}
        for ph in got:
            for k in ("analysis", "optimization", "planning"):
                out[f"catalyst.{k}_s"] += ph.get(k, 0.0)
        return out

    # ------------------------------------------------------ engine stats
    def engine_stats(self, groups: list[str], wall_s: float) -> dict[str, float]:
        """Jobs, stages, tasks, executor time, shuffle, spill, peak memory
        and Python-worker bytes over the jobs of ``groups``."""
        sc = self.spark.sparkContext
        self.drain()
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        jobs: set[int] = set()
        for g in groups:
            jobs.update(tracker.getJobIdsForGroup(g))
        stages: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        out = dict.fromkeys(
            ("spark.stages", "spark.tasks", "exec.executor_run_s", "exec.executor_cpu_s",
             "exec.shuffle_write_bytes", "exec.spill_bytes", "exec.peak_exec_mem_bytes"), 0.0)
        out["spark.jobs"] = float(len(jobs))
        for sid in stages:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — stage evicted or never submitted
                continue
            if st.numTasks() == 0 or str(st.status()) == "SKIPPED":
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += st.numCompleteTasks()
            out["exec.executor_run_s"] += st.executorRunTime() / 1000.0
            out["exec.executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["exec.shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["exec.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["exec.peak_exec_mem_bytes"] = max(out["exec.peak_exec_mem_bytes"], st.peakExecutionMemory())
        cores = sc.defaultParallelism
        out["exec.slot_utilization"] = out["exec.executor_run_s"] / (wall_s * cores) if wall_s > 0 else 0.0
        sent, returned = self._python_bytes(jobs)
        out["python_worker.bytes_sent"] = sent
        out["python_worker.bytes_returned"] = returned
        return out

    def _python_bytes(self, jobs: set[int]) -> tuple[float, float]:
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        sent = returned = 0.0
        for i in range(execs.size()):
            e = execs.apply(i)
            it = e.jobs().keys().iterator()
            ids = set()
            while it.hasNext():
                ids.add(int(it.next()))
            if not ids & jobs:
                continue
            wanted = {}
            ms = e.metrics()
            for k in range(ms.size()):
                m = ms.apply(k)
                name = m.name().lower()
                if "python" in name and ("sent" in name or "returned" in name or "received" in name):
                    wanted[m.accumulatorId()] = "sent" if "sent" in name else "returned"
            if not wanted:
                continue
            values = sql.executionMetrics(e.executionId())
            for acc, which in wanted.items():
                v = values.get(acc)
                n = _parse_size(str(v.get())) if v is not None and v.isDefined() else 0.0
                if which == "sent":
                    sent += n
                else:
                    returned += n
        return sent, returned

    # ------------------------------------------------------------ output
    def self_times(self, root: Span) -> dict[str, float]:
        """Self time per span name under ``root`` (children subtracted),
        with the root's own self time reported as ``unattributed``."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}

        def walk(s: Span) -> None:
            own = s.dur - sum(c.dur for c in kids.get(s.id, []))
            key = "unattributed" if s is root else s.name
            out[key] = out.get(key, 0.0) + own
            for c in kids.get(s.id, []):
                walk(c)

        walk(root)
        return out

    def phase_summary(self) -> list[dict]:
        """Per phase span: wall time, self time per layer and the
        unattributed remainder (which together add up to the wall time)."""
        out = []
        for s in self.spans:
            if s.name.startswith("phase."):
                own = self.self_times(s)
                out.append({"phase": s.name[len("phase."):], "op": s.op, "wall_s": s.dur, "self_s": own,
                            "self_plus_unattributed_s": sum(own.values())})
        return out

    def dump(self) -> list[dict]:
        return [
            {"id": s.id, "name": s.name, "start": round(s.start, 6), "end": round(s.end, 6),
             "parent": s.parent, "op": s.op, "jobs": s.jobs}
            for s in self.spans
        ]


def _parse_size(text: str) -> float:
    """First size in a Spark SQL metric string ("1.5 MiB", or the
    "total (min, med, max ...)" form whose second line leads with the total)."""
    lines = text.strip().splitlines()
    line = lines[1] if len(lines) > 1 and lines[0].startswith("total") else lines[0]
    m = re.match(r"\s*([\d.,]+)\s*([KMGT]?i?B)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS.get(m.group(2) or "B", 1)


class RssSampler:
    """Peak resident memory of the processes this one started (the Spark
    JVM and its Python workers): the sum over those processes of each
    one's kernel-recorded peak (VmHWM), polled from /proc so that workers
    which exit before the end still count. A process seen in one poll only
    is left out: a helper the JVM spawns lives for milliseconds, and until
    it execs it shares the JVM's memory and reports the JVM's VmHWM."""

    def __init__(self, period: float = 1.0) -> None:
        self.period = period
        self.peaks_kb: dict[int, int] = {}
        self.polls: dict[int, int] = {}  # pid -> number of polls it was seen in
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "RssSampler":
        self._t.start()
        return self

    def stop(self) -> float:
        """Stop polling; returns the peak in MB."""
        self._stop.set()
        self._t.join()
        self._sample()
        return sum(kb for pid, kb in self.peaks_kb.items() if self.polls[pid] > 1) / 1024.0

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self._sample()

    def _sample(self) -> None:
        todo = child_pids(os.getpid())
        while todo:
            pid = todo.pop()
            todo.extend(child_pids(pid))
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            kb = int(line.split()[1])
                            self.peaks_kb[pid] = max(self.peaks_kb.get(pid, 0), kb)
                            self.polls[pid] = self.polls.get(pid, 0) + 1
                            break
            except OSError:
                pass


def child_pids(pid: int) -> list[int]:
    """Direct children of ``pid``."""
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out
