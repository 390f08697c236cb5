"""Tests of the benchmark's own logic; no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import procstat  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


# ------------------------------------------------------------- self time


def test_self_time_subtracts_nested_children():
    clock = FakeClock()
    tr = spans.Tracer(clock=clock)
    op = tr.open("op", "op")  # 0..10
    clock.t = 1.0
    loader = tr.open("execute", "algorithms.data_loader")  # 1..9
    clock.t = 2.0
    reader = tr.open("get_data", "io.reader")  # 2..3
    clock.t = 3.0
    tr.close(reader)
    clock.t = 4.0
    writer = tr.open("write", "io.writer")  # 4..8, with a merge child 5..7
    clock.t = 5.0
    merge = tr.open("merge", "io.merge")
    clock.t = 7.0
    tr.close(merge)
    clock.t = 8.0
    tr.close(writer)
    clock.t = 9.0
    tr.close(loader)
    clock.t = 10.0
    tr.close(op)

    st = spans.self_times(tr.spans)
    assert st[op.id] == pytest.approx(2.0)
    assert st[loader.id] == pytest.approx(8.0 - 1.0 - 4.0)
    assert st[reader.id] == pytest.approx(1.0)
    assert st[writer.id] == pytest.approx(2.0)
    assert st[merge.id] == pytest.approx(2.0)
    assert [s.parent for s in tr.spans] == [None, op.id, loader.id, loader.id, writer.id]
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_time_merges_overlapping_children():
    s = [spans.Span(0, "p", "x", None, 0, 0.0, 10.0),
         spans.Span(1, "a", "y", 0, 0, 1.0, 5.0),
         spans.Span(2, "b", "y", 0, 0, 3.0, 6.0)]
    assert spans.self_times(s)[0] == pytest.approx(5.0)


def test_call_records_error_and_reraises():
    tr = spans.Tracer(clock=FakeClock())

    def boom():
        raise ValueError("x")

    with pytest.raises(ValueError):
        tr.call("f", "dq", boom)
    assert tr.spans[0].error == "ValueError" and tr.stack == []


# -------------------------------------------------------- event-log fold


def test_fold_recorded_event_log():
    events = spans.read_events([os.path.join(DATA, "eventlog_small.jsonl")])
    folded = spans.fold_event_log(events)
    # the log holds jobs 0-2 in group pb1 (a mapInPandas stage), 3-4 in
    # pb2 and 5-6 outside any group
    assert {g: r["jobs"] for g, r in folded.items()} == {"pb1": 3, "pb2": 2, None: 2}
    pb1, pb2 = folded["pb1"], folded["pb2"]
    assert pb1["bytes_to_python"] == 8608
    assert pb1["python_worker_s"] == pytest.approx(5.166)
    assert pb2["python_worker_s"] == 0 and pb2["bytes_to_python"] == 0
    assert pb1["tasks"] == 5 and pb2["tasks"] == 3 and folded[None]["tasks"] == 3
    assert all(r["failed_tasks"] == 0 and r["errors"] == 0 for r in folded.values())
    assert pb1["executor_cpu_s"] == pytest.approx((293206869 + 950014247 + 56670731) / 1e9)
    assert pb1["shuffle_write_bytes"] == 6331 + 8076
    # job intervals (ms): 0: 119219-120033, 1: 120519-123860, 2: 124043-124288
    assert pb1["job_s"] == pytest.approx((814 + 3341 + 245) / 1e3)


def test_fold_counts_failed_jobs_and_tasks():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 0,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "pb-3"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task End Reason": {"Reason": "ExceptionFailure"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task End Reason": {"Reason": "Success"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500,
         "Job Result": {"Result": "JobFailed"}},
    ]
    r = spans.fold_event_log(events)["pb-3"]
    assert (r["jobs"], r["tasks"], r["failed_tasks"], r["errors"]) == (1, 2, 1, 1)
    assert r["job_s"] == pytest.approx(1.5)


def test_attach_maps_groups_to_spans():
    tr = spans.Tracer(clock=FakeClock())
    tr.close(tr.open("op", "op"))
    spans.attach(tr, {"pb-0": {"jobs": 4}})
    assert tr.spans[0].counters == {"jobs": 4}


# ------------------------------------------------------------- generator


def _files(tmp_path, seed, tag):
    base = tmp_path / tag
    target = gen.target_table(seed)
    stream = gen.CdcStream(seed, target["li_key"].to_numpy())
    tables = {"target": target, "cdc0": stream.next_batch(), "cdc1": stream.next_batch(),
              "docs": gen.corpus_table(seed, 3), "orders": gen.orders_table(seed)}
    out = []
    for name, table in tables.items():
        path = str(base / f"{name}.parquet")
        gen.write_parquet(table, path)
        with open(path, "rb") as f:
            out.append(f.read())
    return out


def test_generator_is_byte_identical_per_seed(tmp_path):
    a, b, c = _files(tmp_path, 7, "a"), _files(tmp_path, 7, "b"), _files(tmp_path, 8, "c")
    assert a == b
    assert all(x != y for x, y in zip(a, c))
    assert gen.gab_windows(7) == gen.gab_windows(7)
    assert sorted(gen.gab_windows(7)) == sorted(gen.GAB_YEARS)


def test_cdc_batch_shares():
    target = gen.target_table(3)
    stream = gen.CdcStream(3, target["li_key"].to_numpy())
    live = set(stream.live.tolist())
    batch = stream.next_batch().to_pydict()
    keys, modes, seq = batch["li_key"], batch["recordmode"], batch["change_seq"]
    newest = {}
    for k, m, s in zip(keys, modes, seq):
        if k not in newest or s > newest[k][1]:
            newest[k] = (m, s)
    final = [m for m, _ in newest.values()]
    n = gen.TARGET_ROWS
    assert final.count("D") == int(n * gen.CDC_DELETE_SHARE)
    assert final.count("X") == int(n * gen.CDC_EXCLUDED_SHARE)
    inserted = [k for k in newest if k not in live]
    assert len(inserted) == int(n * gen.CDC_INSERT_SHARE)
    assert len(newest) - len(inserted) == int(n * (gen.CDC_UPDATE_SHARE + gen.CDC_DELETE_SHARE
                                                   + gen.CDC_EXCLUDED_SHARE))
    assert len(stream.live) == n  # deletes equal inserts
    assert max(np.unique(keys, return_counts=True)[1]) <= gen.CDC_MAX_IMAGES


# ------------------------------------------------------------ statistics


def test_tail_needs_ten_samples_beyond():
    assert procstat.tail(list(range(10))) == (None, None, 10)
    p, v, n = procstat.tail([float(x) for x in range(1, 12)])
    assert (v, n) == (1.0, 11) and p == pytest.approx(100 / 11)
    p, v, n = procstat.tail([float(x) for x in range(100, 0, -1)])
    assert (p, v, n) == (90.0, 90.0, 100)
    assert sum(1 for x in range(1, 101) if x > v) == 10


def test_cpu_meter_counts_this_process_and_no_jit_without_a_jvm():
    meter = procstat.CpuMeter()
    cpu0, jit0 = meter.read()
    sum(i * i for i in range(2_000_000))  # burn some CPU
    cpu1, jit1 = meter.read()
    assert cpu1 > cpu0 and jit0 == jit1 == 0.0


# ----------------------------------------------------- failed-op accounting


class FakeWorkload:
    name = "fake"

    def __init__(self, outcomes):
        self.outcomes = outcomes  # op index -> "ok" | "raise" | "wrong"
        self.extra = {}

    def sinks(self):
        return []

    def prepare(self, i):
        return 10, 100

    def op(self, i):
        if self.outcomes[i] == "raise":
            raise RuntimeError("op failed")

    def check(self, i, written):
        return self.outcomes[i] == "ok"


def test_failed_ops_are_counted_and_excluded_from_latency():
    wl = FakeWorkload({0: "ok", 1: "raise", 2: "ok", 3: "wrong", 4: "ok"})
    counts = {"jobs": 0, "cpu_s": 0.0}
    samples = [run.run_op(wl, i, lambda: counts, None) for i in range(5)]
    samples[0]["wall_s"], samples[2]["wall_s"], samples[4]["wall_s"] = 2.0, 1.0, 3.0
    metrics, extra, attempted, failed = run.end_to_end(samples, 5.0, 100.0)
    assert (attempted, failed) == (5, 2)
    assert extra["failed_frac"] == pytest.approx(0.4)
    assert extra["acon_s_p50"] == pytest.approx(2.0)
    assert extra["rows_per_s"] == pytest.approx(30 / 6.0)


# ------------------------------------------------------------- wrapping


def test_install_spans_public_calls_and_undo_restores():
    from lakehouse_engine_spark.core.exec_env import ExecEnv
    from lakehouse_engine_spark.dq.dq_factory import DQFactory
    from lakehouse_engine_spark.io import merge_writer
    from lakehouse_engine_spark.io.reader_factory import ReaderFactory

    targets = [(ExecEnv, "get_or_create"), (ReaderFactory, "get_data"),
               (DQFactory, "run_dq_process"), (merge_writer, "merge")]
    before = [vars(o)[a] for o, a in targets]
    tr = spans.Tracer(clock=FakeClock())
    undo = spans.install(tr)
    saved, ExecEnv.SESSION = ExecEnv.SESSION, "session"
    try:
        assert [type(vars(o)[a]) for o, a in targets] == [type(b) for b in before]
        assert ExecEnv.get_or_create() == "session"
        assert [(s.name, s.layer) for s in tr.spans] == [("get_or_create", "core.exec_env")]
    finally:
        ExecEnv.SESSION = saved
        undo()
    assert [vars(o)[a] for o, a in targets] == before
