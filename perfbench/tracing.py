"""Spans around the benchmark's calls, and a reader for Spark's event log.

A :class:`Tracer` records one span per public call the benchmark makes
(name, start, end, parent, run id). When it holds a SparkContext it also
labels the calling thread's jobs with ``bench:<span id>:<name>``, so the
event log can be joined back to the spans.

:func:`read_event_log` parses an uncompressed, non-rolling event log
(JSON lines) into jobs and per-stage task totals; :func:`attribute`
assigns every job to a span — by its ``bench:`` description when it has
one, else to the innermost span whose interval holds the job's
submission (the jobs ``run_etl`` submits from its own writer threads
carry ``etl: write <table>`` instead) — and sums the task metrics per
span.
"""

from __future__ import annotations

import json
import re
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    #: epoch seconds, the clock the event log's milliseconds use
    start: float
    end: float = 0.0
    #: duration from the monotonic clock
    wall_s: float = 0.0
    #: CPU seconds the measured processes used meanwhile (0 when the
    #: tracer has no CPU clock)
    cpu_s: float = 0.0
    #: share of the time the machine's CPUs wanted to run meanwhile that
    #: the hypervisor gave to other machines (0 without a host clock)
    stolen_frac: float = 0.0

    @property
    def effective_s(self) -> float:
        """The duration less the share the hypervisor took: the span as
        it would have run had the machine's CPUs not been stolen from."""
        return self.wall_s * (1 - self.stolen_frac)


def host_ticks() -> tuple[int, int]:
    """Clock ticks the whole machine has so far had stolen by the
    hypervisor, and spent busy (user, nice, system, irq, softirq), summed
    over its CPUs. A CPU is charged steal only while it has work to run,
    so stolen / (stolen + busy) is the share of wanted CPU time lost."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    f += [0] * (8 - len(f))
    user, nice, system, _idle, _iowait, irq, softirq, steal = f
    return steal, user + nice + system + irq + softirq


def stolen_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """The share of wanted CPU time between two host_ticks() readings
    that the hypervisor gave to other machines."""
    stolen, busy = (b - a for a, b in zip(before, after))
    return stolen / (stolen + busy) if stolen > 0 else 0.0


class Tracer:
    """In-memory span recorder; spans are read out after the run."""

    def __init__(self, run_id: str, sc=None, cpu=None, host=None):
        self.run_id = run_id
        self.sc = sc
        #: returns the CPU seconds used so far by the measured processes
        self.cpu = cpu
        #: returns the machine's (stolen, busy) ticks so far, as host_ticks
        self.host = host
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        #: id of the first span of the timed loop; earlier ones are set-up
        self.timed_from = 1

    def start_timing(self) -> None:
        self.timed_from = len(self.spans) + 1

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans) + 1, name, parent and parent.id,
                 self.run_id, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self._label(s)
        c0 = self.cpu() if self.cpu else 0.0
        h0 = self.host() if self.host else (0, 0)
        t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.wall_s = time.perf_counter() - t0
            s.cpu_s = self.cpu() - c0 if self.cpu else 0.0
            if self.host:
                s.stolen_frac = stolen_share(h0, self.host())
            s.end = time.time()
            self._stack.pop()
            self._label(parent)

    def _label(self, s: Span | None) -> None:
        if self.sc is not None:
            self.sc.setJobDescription(
                None if s is None else f"bench:{s.id}:{s.name}")

    def self_time_s(self, s: Span) -> float:
        """The span's duration minus the part its child spans cover."""
        kids = [(c.start, c.end) for c in self.spans if c.parent == s.id]
        return max(0.0, s.wall_s - union_s(kids, s.start, s.end))


@dataclass
class StageTotals:
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    bytes_written: int = 0

    def add(self, other: "StageTotals") -> None:
        for k, v in vars(other).items():
            setattr(self, k, getattr(self, k) + v)


@dataclass
class Job:
    id: int
    submit_ms: int
    end_ms: int
    description: str
    stage_ids: list[int]
    succeeded: bool = True
    totals: StageTotals = field(default_factory=StageTotals)


_BENCH_DESC = re.compile(r"^bench:(\d+):")


def read_event_log(path: str) -> list[Job]:
    """Jobs of one application with their tasks' totals."""
    jobs: dict[int, Job] = {}
    stage_jobs: dict[int, list[int]] = defaultdict(list)
    stage_totals: dict[int, StageTotals] = defaultdict(StageTotals)
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get(
                    "spark.job.description") or ""
                job = Job(ev["Job ID"], ev["Submission Time"], 0, desc,
                          list(ev["Stage IDs"]))
                jobs[job.id] = job
                for sid in job.stage_ids:
                    stage_jobs[sid].append(job.id)
            elif kind == "SparkListenerJobEnd":
                job = jobs[ev["Job ID"]]
                job.end_ms = ev["Completion Time"]
                job.succeeded = ev["Job Result"]["Result"] == "JobSucceeded"
            elif kind == "SparkListenerTaskEnd":
                stage_totals[ev["Stage ID"]].add(_task_totals(ev))
    for sid, totals in stage_totals.items():
        # a stage reused by a later job is skipped there, not re-run:
        # its tasks belong to the first job that lists it
        owners = stage_jobs.get(sid)
        if owners:
            jobs[min(owners)].totals.add(totals)
    return sorted(jobs.values(), key=lambda j: j.id)


def _task_totals(ev: dict) -> StageTotals:
    m = ev.get("Task Metrics") or {}
    info = ev.get("Task Info") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    return StageTotals(
        tasks=1,
        failed_tasks=int(bool(info.get("Failed"))),
        run_ms=m.get("Executor Run Time", 0),
        cpu_ms=m.get("Executor CPU Time", 0) / 1e6,
        gc_ms=m.get("JVM GC Time", 0),
        shuffle_read_bytes=sr.get("Remote Bytes Read", 0)
        + sr.get("Local Bytes Read", 0),
        shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
        spill_bytes=m.get("Disk Bytes Spilled", 0),
        bytes_written=(m.get("Output Metrics") or {}).get("Bytes Written", 0),
    )


@dataclass
class SpanLayers:
    """What the event log attributes to one span (its own jobs only)."""

    jobs: list[Job] = field(default_factory=list)
    totals: StageTotals = field(default_factory=StageTotals)
    #: wall time during which at least one of the span's jobs ran
    job_union_s: float = 0.0
    #: job time falling outside the span's interval (clock or
    #: attribution disagreement; 0 when the two records reconcile)
    outside_s: float = 0.0


def attribute(spans: list[Span], jobs: list[Job]) -> tuple[
        dict[int, SpanLayers], list[Job]]:
    """Assign each job to one span; returns the per-span layers and the
    jobs no span claims."""
    by_id = {s.id: s for s in spans}
    layers: dict[int, SpanLayers] = defaultdict(SpanLayers)
    orphans = []
    for job in jobs:
        m = _BENCH_DESC.match(job.description)
        owner = by_id.get(int(m.group(1))) if m else None
        if owner is None:
            t = job.submit_ms / 1000
            holding = [s for s in spans if s.start <= t <= s.end]
            owner = max(holding, key=lambda s: s.start, default=None)
        if owner is None:
            orphans.append(job)
            continue
        layer = layers[owner.id]
        layer.jobs.append(job)
        layer.totals.add(job.totals)
    for sid, layer in layers.items():
        s = by_id[sid]
        ivs = [(j.submit_ms / 1000, j.end_ms / 1000) for j in layer.jobs]
        layer.job_union_s = union_s(ivs, s.start, s.end)
        layer.outside_s = union_s(ivs, float("-inf"), float("inf")) \
            - layer.job_union_s
    return layers, orphans


def unattributed_frac(jobs: list[Job], layers: dict[int, SpanLayers],
                      orphans: list[Job]) -> float:
    """Share of all job time that no span claims or that falls outside
    the span it is attributed to."""
    total = sum(j.end_ms - j.submit_ms for j in jobs) / 1000
    lost = sum(j.end_ms - j.submit_ms for j in orphans) / 1000 + sum(
        la.outside_s for la in layers.values())
    return lost / total if total else 0.0


def subtree(spans: list[Span], root: Span) -> list[Span]:
    """``root`` and every span below it."""
    out, frontier = [root], [root.id]
    while frontier:
        kids = [s for s in spans if s.parent in frontier]
        out += kids
        frontier = [k.id for k in kids]
    return out


def rollup(spans: list[Span], layers: dict[int, SpanLayers],
           root: Span) -> SpanLayers:
    """Layers of ``root`` and all its descendants together."""
    total = SpanLayers()
    for s in subtree(spans, root):
        if s.id in layers:
            total.jobs += layers[s.id].jobs
            total.totals.add(layers[s.id].totals)
            total.outside_s += layers[s.id].outside_s
    total.job_union_s = union_s(
        [(j.submit_ms / 1000, j.end_ms / 1000) for j in total.jobs],
        root.start, root.end)
    return total


def union_s(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
