"""Layer spans around the engine's public entry points, and the event-log fold.

``install(tracer)`` replaces the public calls of each
``lakehouse_engine_spark`` package with wrappers that open a span; the
engine's files are not touched. Each span sets its own Spark job group,
so ``fold_event_log`` can attribute every job, stage and task in Spark's
event log to the innermost span that fired it.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from dataclasses import dataclass, field

GROUP_PREFIX = "pb-"

# per-span counters folded from the event log
EVENT_FIELDS = (
    "jobs", "job_s", "tasks", "failed_tasks", "errors", "executor_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "python_worker_s", "bytes_to_python",
)

# stage accumulable -> (field, scale)
_ACCUMS = {
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
    "time to run Python workers": ("python_worker_s", 1e-3),
    "data sent to Python workers": ("bytes_to_python", 1),
}


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0
    error: str | None = None
    counters: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. ``sc`` is a SparkContext, or None in tests."""

    def __init__(self, sc=None, clock=time.perf_counter):
        self.sc, self.clock = sc, clock
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.op: int | None = None

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{span.id}", f"{span.layer}:{span.name}", False)

    def open(self, name: str, layer: str) -> Span:
        parent = self.stack[-1].id if self.stack else None
        span = Span(len(self.spans), name, layer, parent, self.op, self.clock())
        self.spans.append(span)
        self.stack.append(span)
        self._set_group(span)
        return span

    def close(self, span: Span, error: BaseException | None = None) -> None:
        span.end = self.clock()
        if error is not None:
            span.error = type(error).__name__
        self.stack.pop()
        self._set_group(self.stack[-1] if self.stack else None)

    def call(self, name: str, layer: str, fn, *args, **kwargs):
        span = self.open(name, layer)
        try:
            out = fn(*args, **kwargs)
        except BaseException as exc:
            self.close(span, exc)
            raise
        self.close(span)
        return out


def _union(intervals) -> float:
    """Total length covered by ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    return total if cur_e is None else total + cur_e - cur_s


def self_times(spans: list) -> dict:
    """``{span id: duration minus the union of its children's intervals}``."""
    kids: dict = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        clipped = [(max(a, s.start), min(b, s.end)) for a, b in kids.get(s.id, ())]
        out[s.id] = (s.end - s.start) - _union((a, b) for a, b in clipped if b > a)
    return out


# ------------------------------------------------------------------ wrapping


def _wrap(owner, attr: str, tracer: Tracer, name: str, layer: str):
    """Replace ``owner.attr`` (a function, staticmethod or classmethod of a
    class or module) with one that runs inside a span; returns the undo."""
    orig = vars(owner)[attr]
    kind = type(orig) if isinstance(orig, (staticmethod, classmethod)) else None
    func = orig.__func__ if kind else orig

    @functools.wraps(func)
    def wrapper(*args, **kwargs):
        return tracer.call(name, layer, func, *args, **kwargs)

    setattr(owner, attr, kind(wrapper) if kind else wrapper)
    return lambda: setattr(owner, attr, orig)


def install(tracer: Tracer):
    """Wrap each package's public entry points; returns an undo callable."""
    from lakehouse_engine_spark.algorithms.data_loader import DataLoader
    from lakehouse_engine_spark.algorithms.dq_validator import DQValidator
    from lakehouse_engine_spark.algorithms.gab import GAB
    from lakehouse_engine_spark.algorithms.reconciliator import Reconciliator
    from lakehouse_engine_spark.core.exec_env import ExecEnv
    from lakehouse_engine_spark.datapipes import registry
    from lakehouse_engine_spark.dq.dq_factory import DQFactory
    from lakehouse_engine_spark.io import merge_writer
    from lakehouse_engine_spark.io.reader_factory import ReaderFactory
    from lakehouse_engine_spark.io.writer_factory import WriterFactory
    from lakehouse_engine_spark.terminators.terminator_factory import TerminatorFactory
    from lakehouse_engine_spark.transformers.transformer_factory import TransformerFactory

    undo = [
        _wrap(owner, attr, tracer, name, layer)
        for owner, attr, name, layer in (
            (ExecEnv, "get_or_create", "get_or_create", "core.exec_env"),
            (DataLoader, "__init__", "plan", "algorithms.data_loader"),
            (DataLoader, "execute", "execute", "algorithms.data_loader"),
            (GAB, "execute", "execute", "algorithms.gab"),
            (Reconciliator, "execute", "execute", "algorithms.reconciliator"),
            (DQValidator, "execute", "execute", "algorithms.dq_validator"),
            (ReaderFactory, "get_data", "get_data", "io.reader"),
            (WriterFactory, "write", "write", "io.writer"),
            (merge_writer, "merge", "merge", "io.merge"),
            (DQFactory, "run_dq_process", "run_dq_process", "dq"),
            (TerminatorFactory, "execute", "execute", "terminators"),
        )
    ]

    orig_get = TransformerFactory.get_transformer

    def get_transformer(spec, data=None):
        fn = orig_get(spec, data)
        name = spec.function
        layer = (
            "datapipes" if name in registry.SIMPLE or name in registry.CONTEXTUAL
            else "transformers"
        )
        return functools.wraps(fn)(lambda df: tracer.call(name, layer, fn, df))

    TransformerFactory.get_transformer = staticmethod(get_transformer)
    undo.append(lambda: setattr(TransformerFactory, "get_transformer", staticmethod(orig_get)))

    def uninstall():
        for u in reversed(undo):
            u()

    return uninstall


# ---------------------------------------------------------- event-log fold


def event_files(log_dir: str) -> list:
    """Event files of the rolled log, in roll order (``events_<n>_<app>``)."""
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    files += [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]

    def roll_index(p):
        parts = os.path.basename(p).split("_")
        return (os.path.dirname(p), int(parts[1]) if len(parts) > 2 and parts[1].isdigit() else 0)

    return sorted(files, key=roll_index)


def read_events(paths) -> list:
    out = []
    for p in paths:
        with open(p) as f:
            out.extend(json.loads(line) for line in f if line.strip())
    return out


def fold_event_log(events: list) -> dict:
    """``{job group: {field: value}}`` for every ``EVENT_FIELDS`` field.

    Jobs are keyed by the ``spark.jobGroup.id`` their JobStart carries
    (None for jobs outside any group). A stage belongs to the first job
    that lists it; task counts come from TaskEnd events and every other
    stage total from the StageCompleted accumulables.
    """
    job_group, job_start, job_end, stage_job = {}, {}, {}, {}
    out: dict = {}

    def rec(group):
        return out.setdefault(group, {f: 0 for f in EVENT_FIELDS})

    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            job_group[jid] = group
            job_start[jid] = e["Submission Time"]
            for sid in e.get("Stage IDs", ()):
                stage_job.setdefault(sid, jid)
            rec(group)["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            jid = e["Job ID"]
            job_end[jid] = e["Completion Time"]
            if (e.get("Job Result") or {}).get("Result") != "JobSucceeded":
                rec(job_group.get(jid))["errors"] += 1
        elif kind == "SparkListenerTaskEnd":
            r = rec(job_group.get(stage_job.get(e["Stage ID"])))
            r["tasks"] += 1
            if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                r["failed_tasks"] += 1
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            r = rec(job_group.get(stage_job.get(info["Stage ID"])))
            for acc in info.get("Accumulables", ()):
                hit = _ACCUMS.get(acc.get("Name"))
                if hit is not None:
                    r[hit[0]] += float(acc["Value"]) * hit[1]
    intervals: dict = {}
    for jid, group in job_group.items():
        if jid in job_end:
            intervals.setdefault(group, []).append((job_start[jid], job_end[jid]))
    for group, iv in intervals.items():
        rec(group)["job_s"] = _union(iv) / 1e3  # event times are in ms
    return out


def attach(tracer: Tracer, folded: dict) -> None:
    """Copy each job group's folded counters onto the span that owns it."""
    for s in tracer.spans:
        s.counters = folded.get(f"{GROUP_PREFIX}{s.id}", {f: 0 for f in EVENT_FIELDS})
