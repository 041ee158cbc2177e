"""Per-layer tracing from outside the package.

Spans are recorded by wrapping the module attributes the package calls
through (``SU.scalar_summary``, ``FQ.frequency_summary``, ...), so no file of
the package is edited. Spark work is attributed to layers afterwards: every
job and stage attempt of a run is read from Spark's status store and given to
the innermost span that was open when it was submitted.

Only the thread that created the :class:`Tracer` records spans; calls from
other threads (the package's pass-1 thread pool) pass through untraced, so
spans nest strictly and self times add up to the root span's duration.
"""

from __future__ import annotations

import functools
import importlib
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PKG = "pandas_profiling_personal_spark"

#: layer name -> the attributes that are wrapped to time it, as
#: (module under the package, attribute path). ``run`` is the benchmark's
#: own root span: the glue between the calls below.
LAYERS: dict[str, tuple[tuple[str, str], ...]] = {
    "run": (),
    "profile": (("plans.profile", "profile"),),
    "scalar_summary": (("operators.summary", "scalar_summary"),),
    "frequency_summary": (("operators.frequencies", "frequency_summary"),),
    "histogram_all": (("operators.histogram", "histogram_all"),),
    "mad_summary": (("operators.summary", "mad_summary"),),
    "duplicate_summary_hashed": (
        ("operators.duplicates", "duplicate_summary_hashed"),
    ),
    "pearson_matrix": (("operators.correlations", "pearson_matrix"),),
    "sampling": (
        ("operators.sampling", "head"),
        ("operators.sampling", "random_sample"),
        ("operators.sampling", "tail"),
    ),
    # profile.py imports compute_alerts by name, so its own binding is the
    # one that is called
    "compute_alerts": (("plans.profile", "compute_alerts"),),
    "render_html": (("report.html", "render_html"),),
    "to_json": (("plans.profile", "ProfileResult.to_json"),),
    "partial_profile": (("plans.incremental", "partial_profile"),),
    "top_k_counts": (("operators.frequencies", "top_k_counts"),),
    "merge_partials": (("plans.incremental", "merge_partials"),),
    "finalize_partial": (("plans.incremental", "finalize_partial"),),
}

LAYER_METRICS: dict[str, str] = {
    "calls": "count",
    "self_s": "s",
    "driver_s": "s",
    "jobs": "count",
    "executor_cpu_s": "s",
    "shuffle_write_bytes": "B",
    "failed_tasks": "count",
}


@dataclass
class Span:
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    children: list[int] = field(default_factory=list)


@dataclass(frozen=True)
class SparkWork:
    """One job or stage attempt, with epoch-second times."""

    submitted: float
    completed: float
    cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    failed_tasks: int = 0


class Tracer:
    def __init__(self, clock=time.time):
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._thread = threading.get_ident()

    @contextmanager
    def span(self, name: str):
        if threading.get_ident() != self._thread:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, parent, self.clock()))
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = self.clock()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def reset(self) -> None:
        self.spans = []


def _resolve(module: str, path: str):
    """(owner object, attribute name) for ``module`` + dotted ``path``."""
    owner = importlib.import_module(f"{PKG}.{module}")
    *parents, attr = path.split(".")
    for p in parents:
        owner = getattr(owner, p)
    return owner, attr


@contextmanager
def installed(tracer: Tracer):
    """Wrap every layer entry point for the duration of the block and put the
    original functions back afterwards, also when the block raises."""
    saved = []
    try:
        for name, targets in LAYERS.items():
            for module, path in targets:
                owner, attr = _resolve(module, path)
                original = owner.__dict__[attr]
                saved.append((owner, attr, original))
                setattr(owner, attr, tracer.wrap(name, original))
        yield tracer
    finally:
        for owner, attr, original in reversed(saved):
            setattr(owner, attr, original)


def _subtract(base, cuts):
    """``base`` intervals minus ``cuts`` intervals; both lists of (a, b)."""
    out = []
    for a, b in base:
        pieces = [(a, b)]
        for c, d in cuts:
            nxt = []
            for x, y in pieces:
                if d <= x or c >= y:
                    nxt.append((x, y))
                    continue
                if c > x:
                    nxt.append((x, c))
                if d < y:
                    nxt.append((d, y))
            pieces = nxt
        out.extend(pieces)
    return out


def _length(intervals) -> float:
    return sum(b - a for a, b in intervals)


def self_intervals(spans: list[Span]) -> list[list[tuple[float, float]]]:
    """Per span, the parts of its interval no child span covers."""
    return [
        _subtract(
            [(s.start, s.end)],
            sorted((spans[c].start, spans[c].end) for c in s.children),
        )
        for s in spans
    ]


def _owner(spans: list[Span], t: float) -> int:
    """Index of the innermost span open at ``t``. Times outside the root span
    (millisecond rounding of Spark's clock) belong to the root."""
    root = spans[0]
    t = min(max(t, root.start), root.end)
    idx = 0
    while True:
        for c in spans[idx].children:
            if spans[c].start <= t <= spans[c].end:
                idx = c
                break
        else:
            return idx


def layer_table(
    spans: list[Span], jobs: list[SparkWork], stages: list[SparkWork]
) -> dict[str, dict[str, float]]:
    """Per-layer metrics of one traced run whose root span is ``spans[0]``.
    Every layer of :data:`LAYERS` appears, with zeros when it was not called."""
    table = {name: {m: 0 for m in LAYER_METRICS} for name in LAYERS}
    if not spans:
        return table
    own_stages: list[list[SparkWork]] = [[] for _ in spans]
    for st in stages:
        own_stages[_owner(spans, st.submitted)].append(st)
    for job in jobs:
        table[spans[_owner(spans, job.submitted)].name]["jobs"] += 1
    for s, free, mine in zip(spans, self_intervals(spans), own_stages):
        row = table[s.name]
        row["calls"] += 1
        row["self_s"] += _length(free)
        busy = sorted((st.submitted, st.completed) for st in mine)
        row["driver_s"] += _length(_subtract(free, busy))
        for st in mine:
            row["executor_cpu_s"] += st.cpu_s
            row["shuffle_write_bytes"] += st.shuffle_write_bytes
            row["failed_tasks"] += st.failed_tasks
    return table


class StageLog:
    """Jobs and stage attempts that ran since the last :meth:`mark`, read from
    Spark's status store (which is kept with the UI disabled too)."""

    def __init__(self, sc):
        self._sc = sc
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._next_job = 0

    def _drain(self) -> None:
        # the status store is fed by the asynchronous listener bus
        self._jsc.listenerBus().waitUntilEmpty()

    def mark(self) -> None:
        self._drain()
        self._next_job = self._jsc.dagScheduler().nextJobId()

    def collect(self) -> tuple[list[SparkWork], list[SparkWork]]:
        """(jobs, stage attempts) since :meth:`mark`; advances the mark."""
        self._drain()
        end = self._jsc.dagScheduler().nextJobId()
        jobs, stage_ids = [], set()
        for j in range(self._next_job, end):
            jd = self._store.job(j)
            t = _epoch(jd.submissionTime())
            jobs.append(SparkWork(t, _epoch(jd.completionTime(), t)))
            ids = jd.stageIds().mkString(",")
            stage_ids.update(int(x) for x in ids.split(",") if x)
        self._next_job = end
        no_quantiles = self._sc._gateway.new_array(self._sc._jvm.double, 0)
        stages = []
        for sid in sorted(stage_ids):
            attempts = self._store.stageData(sid, False, [], False, no_quantiles)
            for k in range(attempts.size()):
                sd = attempts.apply(k)
                if not sd.submissionTime().isDefined():
                    continue  # skipped: its output was reused
                t = _epoch(sd.submissionTime())
                stages.append(
                    SparkWork(
                        t,
                        _epoch(sd.completionTime(), t),
                        sd.executorCpuTime() / 1e9,
                        sd.shuffleWriteBytes(),
                        sd.numFailedTasks(),
                    )
                )
        return jobs, stages


def _epoch(opt_date, default: float | None = None) -> float:
    """Seconds since the epoch of a Scala ``Option[java.util.Date]``."""
    if opt_date.isDefined():
        return opt_date.get().getTime() / 1000.0
    return default
