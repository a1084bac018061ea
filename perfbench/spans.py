"""Spans, counters and Spark stage metrics for the traced run.

Spans are recorded from the benchmark's side of each layer boundary:
:class:`Tracer` wraps the public functions a pass calls into
(``run_module``, ``render_module``, the merge writer's ``prepare``),
keeps every span in memory and writes them out once, at the end of the
run. A span records the span open around it, if any, as its cause.
Spark's own per-stage metrics come from the application status store,
which keeps serving stage data with the UI disabled; each timed pass
runs under its own job group.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    trace_id: str


@dataclass
class Tracer:
    """In-memory span recorder. ``enabled`` toggles recording without
    unpatching, so traced and untraced passes alternate in one process."""

    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    trace_id: str = ""
    _stack: list[int] = field(default_factory=list)
    _patched: list[tuple[object, str, object]] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.trace_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that records span ``name``."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **kw):
            with tracer.span(name):
                return fn(*a, **kw)

        self.replace(owner, attr, traced)

    def replace(self, owner, attr: str, new) -> None:
        """Set ``owner.attr = new`` until :meth:`unpatch`."""
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def unpatch(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    def total(self, name: str, trace_id: str) -> float:
        """Summed duration of the spans ``name`` within one trace."""
        return sum(
            s.end - s.start for s in self.spans if s.name == name and s.trace_id == trace_id
        )

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)


STAGE_FIELDS = (
    "tasks", "run_s", "cpu_s", "gc_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes",
)


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def job_group_metrics(spark, group: str, wall_s: float) -> dict[str, float]:
    """Sum the stage metrics of every job in ``group``.

    ``driver_s`` is the part of ``wall_s`` no stage was running: wall
    time minus the union of the stages' submit-to-complete intervals.
    """
    store = spark.sparkContext._jsc.sc().statusStore()
    out = dict.fromkeys(STAGE_FIELDS, 0.0)
    jobs = 0
    stage_ids: set[int] = set()
    it = store.jobsList(None).iterator()
    while it.hasNext():
        job = it.next()
        grp = job.jobGroup()
        if not grp.isDefined() or grp.get() != group:
            continue
        jobs += 1
        sids = job.stageIds().iterator()
        while sids.hasNext():
            stage_ids.add(sids.next())
    intervals = []
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - stage evicted or never attempted
            continue
        if st.status().toString() != "COMPLETE":
            continue
        out["tasks"] += st.numCompleteTasks()
        out["run_s"] += st.executorRunTime() / 1e3
        out["cpu_s"] += st.executorCpuTime() / 1e9
        out["gc_s"] += st.jvmGcTime() / 1e3
        out["shuffle_read_bytes"] += st.shuffleReadBytes()
        out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        a, b = _opt_ms(st.submissionTime()), _opt_ms(st.completionTime())
        if a is not None and b is not None:
            intervals.append((a, b))
    covered, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            covered += b - max(a, end)
            end = b
    out["jobs"] = float(jobs)
    out["driver_s"] = max(0.0, wall_s - covered)
    out["noncpu_s"] = max(0.0, out["run_s"] - out["cpu_s"])
    return out


def cpu_ticks() -> tuple[int, int]:
    """Host-wide (stolen, total) CPU ticks since boot. Steal is time the
    hypervisor ran another guest while this one had work: a run that saw
    much of it is slower for reasons outside the program."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def peak_rss_mb(pid: int | str = "self") -> float:
    """VmHWM (peak resident set) of a process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
