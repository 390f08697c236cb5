"""The applyInPandasWithState family of ``datapipes/stateful.py`` as one
contract: each op's one-micro-batch stream snapshot equals its batch arm,
every state and output schema is pinned (state schemas are checkpoint
format), and the one keyed-state helper is the only code that touches
the stateful API."""

from __future__ import annotations

import ast
import datetime
import inspect
import os
from pathlib import Path

import pytest
from pyspark.sql.group import GroupedData

import lakehouse_engine_spark
from lakehouse_engine_spark.core.definitions import TransformerSpec
from lakehouse_engine_spark.transformers.transformer_factory import TransformerFactory

SCHEMA = "g STRING, id BIGINT, v DOUBLE, ts TIMESTAMP, event_type STRING, text STRING"


def _ts(minute):
    return datetime.datetime(2024, 1, 1, 0, minute)


# Three groups, one of them NULL-keyed; a NULL id, a NULL value, a NULL
# event time and a NULL text among them. Values are dyadic so every sum
# is exact in any summation order (Spark's and pandas' orders differ).
ROWS = [
    ("a", 1, 1.5, _ts(0), "view", "x"),
    ("a", 2, 2.25, _ts(1), "buy", "y"),
    ("a", 3, 4.0, _ts(2), "view", "x"),
    ("a", 4, 1.5, _ts(3), "buy", "z"),
    ("b", 5, 8.0, _ts(0), "view", "y"),
    ("b", None, 0.5, _ts(1), "buy", "w"),
    ("b", 6, None, _ts(2), "view", "w"),
    ("b", 7, 3.0, None, "buy", "q"),
    (None, 8, 2.0, _ts(1), "view", "x"),
    (None, 9, 6.5, _ts(2), "buy", None),
    (None, 10, 2.0, _ts(3), "view", "r"),
]

# op -> factory args over SCHEMA: the 13 applyInPandasWithState ops
# (streaming_session_stats runs on Spark's native session windows)
CASES = {
    "streaming_running_totals": dict(on=["g"], value_col="v", budget=5.0),
    "streaming_ewma_anomaly": dict(on=["g"], value_col="v", ts_col="ts", min_periods=1),
    "streaming_approx_distinct": dict(on=["g"], value_col="id"),
    "streaming_reservoir_quantiles": dict(
        on=["g"], value_col="v", id_col="id", k=2, probs=[0.5, 1.0]
    ),
    "streaming_dedup_exact": dict(input_col="text", id_col="id"),
    "streaming_event_pattern": dict(
        on=["g"], symbols={"view": "v", "buy": "b"}, pattern="vb",
        max_span=2, tiebreak_col="id",
    ),
    "streaming_bottomk_sample": dict(on=["g"], id_col="id", k=2),
    "streaming_topk_score": dict(on=["g"], id_col="id", score_col="v", k=2),
    "streaming_quality_buckets": dict(on=["g"], score_col="v", buckets={"h": 1, "t": 1}),
    "streaming_quantile_prune": dict(on=["g"], score_col="v", keep_frac=0.5),
    "streaming_winsorize": dict(on=["g"], score_col="v", lower=0.25, upper=0.75),
    "streaming_heavy_hitters": dict(on=["g"], value_col="event_type", width=2),
    "streaming_funnel": dict(on=["g"], stage_col="event_type", stages=["view", "buy"]),
}

# the stream/batch cases: every op, plus one grouping on two keys (each
# output row must carry each key value under its own name)
STREAM_CASES = dict(
    CASES,
    **{
        "streaming_running_totals[two keys]": dict(
            on=["event_type", "g"], value_col="v"
        ),
    },
)

# Ops whose snapshot legitimately differs from the batch arm, with the
# relation that holds instead.
# streaming_heavy_hitters: the stream emits the Misra-Gries summary, a
# superset of the batch arm's guarantee set (items with count > n/width)
# whose counts are brackets; every batch row must sit in the snapshot
# with count_min <= count <= count_max and the same processed count.
EXEMPT = {"streaming_heavy_hitters"}


def t(name, **args):
    return TransformerFactory.get_transformer(TransformerSpec(name, args))


@pytest.fixture(scope="module")
def family_src(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("stateful_family") / "src")
    spark.createDataFrame(ROWS, SCHEMA).coalesce(1).write.parquet(path)
    return path


def _drain(spark, stream, name, ck):
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", ck)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None, q.exception()
    return spark.table(name)


def _key(rows, cols):
    return sorted(tuple(str(r[c]) for c in cols) for r in rows)


@pytest.mark.parametrize("case", sorted(STREAM_CASES))
def test_stream_snapshot_equals_batch_arm(spark, family_src, tmp_dir, case):
    """One micro-batch over the whole input: the stream's snapshot is the
    batch arm's answer — same columns in the same order, same rows,
    NULL-key group included."""
    op = case.split("[")[0]
    fn = t(op, **STREAM_CASES[case])
    batch = spark.read.schema(SCHEMA).parquet(family_src).transform(fn)
    got = _drain(
        spark,
        spark.readStream.schema(SCHEMA).parquet(family_src).transform(fn),
        "family_" + "".join(c if c.isalnum() else "_" for c in case),
        os.path.join(tmp_dir, "ck"),
    )
    assert got.columns == batch.columns
    want_rows, got_rows = batch.collect(), got.collect()
    if "g" in batch.columns:
        assert any(r["g"] is None for r in got_rows), "NULL-key group dropped"
    if op not in EXEMPT:
        assert _key(got_rows, batch.columns) == _key(want_rows, batch.columns)
        return
    summary = {(r["g"], r["item"]): r for r in got_rows}
    assert want_rows
    for r in want_rows:
        s = summary[(r["g"], r["item"])]
        assert s["count_min"] <= r["count_min"] <= s["count_max"]
        assert s["processed"] == r["processed"]


# (outputStructType, stateStructType, timeoutConf) of every stateful plan,
# as the ops declare them over SCHEMA. A state schema is checkpoint
# format: changing one of these strings breaks every existing checkpoint.
PINNED = {
    "streaming_running_totals": (
        "`g` string, batch_rows LONG, batch_value DOUBLE, total_rows LONG, "
        "total_value DOUBLE, budget_exceeded BOOLEAN",
        "total_rows LONG, total_value DOUBLE",
        "NoTimeout",
    ),
    "streaming_ewma_anomaly": (
        "`g` string, `ts` timestamp, `v` DOUBLE, ewma DOUBLE, z DOUBLE, "
        "is_anomaly BOOLEAN",
        "ewma DOUBLE, ewvar DOUBLE, n LONG",
        "NoTimeout",
    ),
    "streaming_approx_distinct": (
        "`g` string, batch_rows LONG, approx_distinct LONG",
        "regs ARRAY<INT>",
        "NoTimeout",
    ),
    "streaming_reservoir_quantiles": (
        "`g` string, n_seen LONG, sample_n LONG, q_50 DOUBLE, q_100 DOUBLE",
        "n LONG, pris ARRAY<LONG>, vals ARRAY<DOUBLE>",
        "NoTimeout",
    ),
    "streaming_dedup_exact": (
        "`g` string, `id` bigint, `v` double, `ts` timestamp, "
        "`event_type` string, `text` string, `content_digest` string",
        "seen TINYINT",
        "NoTimeout",
    ),
    "streaming_dedup_exact[ttl]": (
        "`g` string, `id` bigint, `v` double, `ts` timestamp, "
        "`event_type` string, `text` string, `content_digest` string",
        "seen TINYINT",
        "ProcessingTimeTimeout",
    ),
    "streaming_event_pattern": (
        "`g` string, n_new INT, n_matches BIGINT, seq_len BIGINT, "
        "first_match STRING",
        "carry STRING, n BIGINT, slen BIGINT, first STRING",
        "NoTimeout",
    ),
    "streaming_event_pattern[watermark]": (
        "`g` string, n_new INT, n_matches BIGINT, seq_len BIGINT, "
        "first_match STRING",
        "carry STRING, n BIGINT, slen BIGINT, first STRING, "
        "buf_ts ARRAY<BIGINT>, buf_tb ARRAY<bigint>, buf_sym STRING",
        "EventTimeTimeout",
    ),
    "streaming_bottomk_sample": (
        "`g` string, `id` bigint, sample_rank INT, total_seen BIGINT",
        "prios ARRAY<STRING>, ids ARRAY<STRING>, seen BIGINT",
        "NoTimeout",
    ),
    "streaming_topk_score": (
        "`g` string, `id` bigint, score DOUBLE, rank INT, total_seen BIGINT",
        "scores ARRAY<DOUBLE>, ids ARRAY<STRING>, seen BIGINT",
        "NoTimeout",
    ),
    "streaming_quality_buckets": (
        "`g` string, score DOUBLE, bucket STRING, score_count BIGINT, "
        "cum_count BIGINT, total_seen BIGINT",
        "scores ARRAY<DOUBLE>, counts ARRAY<BIGINT>",
        "NoTimeout",
    ),
    "streaming_quantile_prune": (
        "`g` string, score DOUBLE, keep BOOLEAN, score_count BIGINT, "
        "cum_count BIGINT, total_seen BIGINT",
        "scores ARRAY<DOUBLE>, counts ARRAY<BIGINT>",
        "NoTimeout",
    ),
    "streaming_winsorize": (
        "`g` string, score DOUBLE, clipped DOUBLE, lo DOUBLE, hi DOUBLE, "
        "score_count BIGINT, cum_count BIGINT, total_seen BIGINT",
        "scores ARRAY<DOUBLE>, counts ARRAY<BIGINT>",
        "NoTimeout",
    ),
    "streaming_heavy_hitters": (
        "`g` string, item STRING, count_min BIGINT, count_max BIGINT, "
        "processed BIGINT",
        "items ARRAY<STRING>, counts ARRAY<BIGINT>, processed BIGINT, decs BIGINT",
        "NoTimeout",
    ),
    "streaming_funnel": (
        "`g` string, stage1_ts timestamp, stage2_ts timestamp",
        "s1 BIGINT, s2 BIGINT",
        "NoTimeout",
    ),
}

PIN_CASES = dict(
    CASES,
    **{
        "streaming_dedup_exact[ttl]": dict(input_col="text", id_col="id", ttl_minutes=5),
        "streaming_event_pattern[watermark]": dict(
            CASES["streaming_event_pattern"], watermark_delay="10 minutes"
        ),
    },
)


def test_state_and_output_schemas_are_pinned(spark, family_src, monkeypatch):
    """Spy on applyInPandasWithState while each op builds its plan on a
    streaming frame; every op builds exactly one stateful plan, and its
    schemas and timeout equal the pinned strings."""
    real = GroupedData.applyInPandasWithState
    params = inspect.signature(real)
    calls = []

    def spy(self, *args, **kwargs):
        bound = params.bind(self, *args, **kwargs).arguments
        calls.append(
            (bound["outputStructType"], bound["stateStructType"], bound["timeoutConf"])
        )
        return real(self, *args, **kwargs)

    monkeypatch.setattr(GroupedData, "applyInPandasWithState", spy)
    stream = spark.readStream.schema(SCHEMA).parquet(family_src)
    got = {}
    for case, args in sorted(PIN_CASES.items()):
        calls.clear()
        t(case.split("[")[0], **args)(stream)
        assert len(calls) == 1, (case, calls)
        got[case] = calls[0]
    assert got == PINNED


def test_keyed_state_helper_is_the_only_stateful_api_user():
    """``applyInPandasWithState`` and ``pyspark.sql.streaming.state`` are
    reached only inside ``stateful._keyed_state``, so every op shares its
    drain, state read/write, output schema and timeout handling."""
    root = Path(lakehouse_engine_spark.__file__).parent
    helper_file = root / "datapipes" / "stateful.py"
    hits, inside = [], []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        helper = {
            line
            for fn in tree.body
            if path == helper_file
            and isinstance(fn, ast.FunctionDef)
            and fn.name == "_keyed_state"
            for line in range(fn.lineno, fn.end_lineno + 1)
        }
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute):
                found = node.attr == "applyInPandasWithState"
            elif isinstance(node, ast.ImportFrom):
                found = (node.module or "").startswith("pyspark.sql.streaming.state")
            elif isinstance(node, ast.Import):
                found = any(
                    a.name.startswith("pyspark.sql.streaming.state") for a in node.names
                )
            else:
                continue
            if found:
                where = f"{path.relative_to(root)}:{node.lineno}"
                (inside if node.lineno in helper else hits).append(where)
    assert not hits, hits
    assert len(inside) == 2, inside  # the import and the one call
