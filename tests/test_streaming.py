"""Streaming semantics: micro-batch re-planning, watermark dedup, checkpoint
incremental consumption (reference ``algorithms/data_loader.py:265-330``)."""

from __future__ import annotations

import os

import pytest

from lakehouse_engine_spark import load_data
from lakehouse_engine_spark.algorithms.data_loader import DataLoader

SCHEMA = {
    "type": "struct",
    "fields": [
        {"name": "k", "type": "integer", "nullable": True, "metadata": {}},
        {"name": "ver", "type": "integer", "nullable": True, "metadata": {}},
    ],
}


def _stage(spark, path, rows):
    spark.createDataFrame(rows, "k INT, ver INT").coalesce(1).write.mode("append").parquet(path)


def test_replan_moves_unsupported_tail_into_foreach_batch(spark, tmp_dir):
    src = os.path.join(tmp_dir, "src")
    _stage(spark, src, [(1, 1), (1, 2), (2, 1)])
    acon = {
        "input_specs": [
            {
                "spec_id": "s",
                "data_format": "parquet",
                "location": src,
                "read_type": "streaming",
                "schema": SCHEMA,
            }
        ],
        "transform_specs": [
            {
                "spec_id": "t",
                "input_id": "s",
                "transformers": [
                    {"function": "expression_filter", "args": {"exp": "k IS NOT NULL"}},
                    {"function": "group_and_rank", "args": {"group_key": ["k"], "ranking_key": ["ver"]}},
                    {"function": "with_literals", "args": {"literals": {"tagged": 1}}},
                ],
            }
        ],
        "output_specs": [
            {
                "spec_id": "o",
                "input_id": "t",
                "data_format": "dataframe",
                "options": {"checkpointLocation": os.path.join(tmp_dir, "ck")},
            }
        ],
    }
    loader = DataLoader(acon)
    # planning: the streaming-supported prefix stays; the tail moved
    tspec = loader.transform_specs[0]
    assert [t.function for t in tspec.transformers] == ["expression_filter"]
    assert [t.function for t in loader.output_specs[0].streaming_micro_batch_transformers] == [
        "group_and_rank",
        "with_literals",
    ]
    written = loader.execute()
    rows = {(r["k"], r["ver"], r["tagged"]) for r in written["o"].collect()}
    assert rows == {(1, 2, 1), (2, 1, 1)}


def test_streaming_checkpoint_consumes_only_new_files(spark, tmp_dir):
    src = os.path.join(tmp_dir, "src")
    ck = os.path.join(tmp_dir, "ck")
    acon = {
        "input_specs": [
            {
                "spec_id": "s",
                "data_format": "parquet",
                "location": src,
                "read_type": "streaming",
                "schema": SCHEMA,
            }
        ],
        "output_specs": [
            {
                "spec_id": "o",
                "input_id": "s",
                "data_format": "dataframe",
                "options": {"checkpointLocation": ck},
            }
        ],
    }
    _stage(spark, src, [(1, 1)])
    first = load_data(acon)["o"]
    assert first.count() == 1
    _stage(spark, src, [(2, 1)])
    second = load_data(acon)["o"]
    rows = {(r["k"], r["ver"]) for r in second.collect()}
    assert rows == {(2, 1)}  # only the new file


def test_streaming_restart_from_checkpoint_no_reprocessing(spark, tmp_dir):
    """Kill/restart semantics: each load_data run starts a fresh query,
    drains what's available (availableNow), and stops — a restart against
    the SAME checkpointLocation must resume from the recorded file offsets,
    never re-emitting earlier micro-batches into the sink. maxFilesPerTrigger=1
    forces multiple micro-batches per run so the checkpoint advances
    through several commits within one lifecycle, the way the reference's
    streaming feature ACONs exercise it."""
    src = os.path.join(tmp_dir, "src")
    out = os.path.join(tmp_dir, "out")
    ck = os.path.join(tmp_dir, "ck")
    acon = {
        "input_specs": [
            {
                "spec_id": "s",
                "data_format": "parquet",
                "location": src,
                "read_type": "streaming",
                "schema": SCHEMA,
                "options": {"maxFilesPerTrigger": 1},
            }
        ],
        "output_specs": [
            {
                "spec_id": "o",
                "input_id": "s",
                "data_format": "parquet",
                "location": out,
                "write_type": "append",
                "options": {"checkpointLocation": ck},
            }
        ],
    }
    # run 1: two staged files → two micro-batches drain into the sink
    _stage(spark, src, [(1, 1)])
    _stage(spark, src, [(2, 1)])
    load_data(acon)
    assert {(r["k"], r["ver"]) for r in spark.read.parquet(out).collect()} == {
        (1, 1),
        (2, 1),
    }
    # "kill": the run-1 query object is gone. Stage more data, restart from
    # the same checkpoint → only the new files flow; nothing re-emitted.
    _stage(spark, src, [(3, 1)])
    _stage(spark, src, [(4, 1)])
    load_data(acon)
    rows = [(r["k"], r["ver"]) for r in spark.read.parquet(out).collect()]
    assert sorted(rows) == [(1, 1), (2, 1), (3, 1), (4, 1)]  # no duplicates
    # restart with nothing new: sink must not change
    load_data(acon)
    assert spark.read.parquet(out).count() == 4


def test_streaming_file_sink(spark, tmp_dir):
    src = os.path.join(tmp_dir, "src")
    out = os.path.join(tmp_dir, "out")
    _stage(spark, src, [(1, 1), (2, 2)])
    load_data(
        {
            "input_specs": [
                {
                    "spec_id": "s",
                    "data_format": "parquet",
                    "location": src,
                    "read_type": "streaming",
                    "schema": SCHEMA,
                }
            ],
            "output_specs": [
                {
                    "spec_id": "o",
                    "input_id": "s",
                    "data_format": "parquet",
                    "location": out,
                    "write_type": "append",
                    "options": {"checkpointLocation": os.path.join(tmp_dir, "ck")},
                }
            ],
        }
    )
    assert spark.read.parquet(out).count() == 2


def test_streaming_dq_runs_in_micro_batch(spark, tmp_dir):
    src = os.path.join(tmp_dir, "src")
    _stage(spark, src, [(1, 1), (2, 1)])
    res = load_data(
        {
            "input_specs": [
                {
                    "spec_id": "s",
                    "data_format": "parquet",
                    "location": src,
                    "read_type": "streaming",
                    "schema": SCHEMA,
                }
            ],
            "dq_specs": [
                {
                    "spec_id": "dq",
                    "input_id": "s",
                    "dq_type": "validator",
                    "fail_on_error": True,
                    "dq_functions": [
                        {"function": "expect_column_values_to_not_be_null", "args": {"column": "k"}}
                    ],
                }
            ],
            "output_specs": [
                {
                    "spec_id": "o",
                    "input_id": "dq",
                    "data_format": "dataframe",
                    "options": {"checkpointLocation": os.path.join(tmp_dir, "ck")},
                }
            ],
        }
    )
    assert res["o"].count() == 2


def test_streaming_dq_cache_df_is_released_per_batch(spark, tmp_dir):
    """A micro-batch suite with ``cache_df`` holds its batch until the batch
    is written, then releases it: no cache entry outlives the stream."""
    src, out = os.path.join(tmp_dir, "src"), os.path.join(tmp_dir, "out")
    _stage(spark, src, [(1, 1)])
    _stage(spark, src, [(2, 1)])
    spark.catalog.clearCache()
    load_data({
        "input_specs": [{"spec_id": "s", "data_format": "parquet", "location": src,
                         "read_type": "streaming", "schema": SCHEMA,
                         "options": {"maxFilesPerTrigger": 1}}],
        "dq_specs": [{"spec_id": "dq", "input_id": "s", "cache_df": True, "dq_functions": [
            {"function": "expect_column_values_to_not_be_null", "args": {"column": "k"}}]}],
        "output_specs": [{"spec_id": "o", "input_id": "dq", "data_format": "parquet",
                          "location": out,
                          "options": {"checkpointLocation": os.path.join(tmp_dir, "ck")}}],
    })
    assert spark.read.parquet(out).count() == 2
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_streaming_dataframe_sink_accumulates_many_batches(spark, tmp_dir):
    # one file per micro-batch via maxFilesPerTrigger: 20 batches through the
    # foreachBatch dataframe sink; each batch is checkpointed once and the
    # view is a flat union — re-checkpointing the merged set every batch
    # would be O(batches^2) and stall long streams
    from lakehouse_engine_spark.io import writer_factory

    src = os.path.join(tmp_dir, "src")
    n_batches = 20
    for i in range(n_batches):
        _stage(spark, src, [(i, 1)])
    acon = {
        "input_specs": [
            {
                "spec_id": "s",
                "data_format": "parquet",
                "location": src,
                "read_type": "streaming",
                "schema": SCHEMA,
                "options": {"maxFilesPerTrigger": "1"},
            }
        ],
        "output_specs": [
            {
                "spec_id": "many",
                "input_id": "s",
                "data_format": "dataframe",
                "with_batch_id": True,
                "options": {"checkpointLocation": os.path.join(tmp_dir, "ck")},
            }
        ],
    }
    out = load_data(acon)["many"]
    rows = out.collect()
    assert {r["k"] for r in rows} == set(range(n_batches))
    assert len({r["lhe_batch_id"] for r in rows}) == n_batches  # truly 1 file/batch
    # accumulator holds one small checkpointed frame per batch, not a snowball
    assert len(writer_factory._STREAM_ACCUM["lhe_stream_many"]) == n_batches


def test_sessionize_runs_on_a_stream(spark, tmp_dir):
    # the same sessionize operator (native session_window) must run under
    # Structured Streaming with a watermark — append mode emits a session
    # once the watermark passes its close
    import datetime as dt

    from lakehouse_engine_spark.core.definitions import TransformerSpec
    from lakehouse_engine_spark.transformers.transformer_factory import TransformerFactory

    src = os.path.join(tmp_dir, "sess_src")
    rows = [
        (1, dt.datetime(2024, 1, 1, 10, 0, 0)),
        (1, dt.datetime(2024, 1, 1, 10, 10, 0)),   # same session (gap 30m)
        (1, dt.datetime(2024, 1, 1, 12, 0, 0)),    # new session
        (2, dt.datetime(2024, 1, 1, 10, 5, 0)),
    ]
    spark.createDataFrame(rows, "user_id INT, ts TIMESTAMP").coalesce(1).write.parquet(src)
    sdf = (
        spark.readStream.schema("user_id INT, ts TIMESTAMP").parquet(src)
        .withWatermark("ts", "10 minutes")
    )
    sess = sdf.transform(
        TransformerFactory.get_transformer(
            TransformerSpec("sessionize", {"on": ["user_id"], "ts_col": "ts",
                                           "gap": "30 minutes"})
        )
    )
    assert sess.isStreaming
    q = (
        sess.writeStream.format("memory").queryName("sess_stream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {(r["user_id"], r["n_events"]) for r in spark.table("sess_stream").collect()}
    # sessions closed by the watermark: user 1's first session (2 events)
    # and user 2's single-event session; the 12:00 session may remain open
    assert (1, 2) in got and (2, 1) in got


DOC_SCHEMA = {
    "type": "struct",
    "fields": [
        {"name": "doc_id", "type": "integer", "nullable": True, "metadata": {}},
        {"name": "text", "type": "string", "nullable": True, "metadata": {}},
    ],
}


def test_streaming_curation_projection_and_static_reference_join(spark, tmp_dir):
    """Corpus curation on a STREAM: text_quality_prune is a pure projection
    (streams untouched) and dedup_cross_exact in flag mode is a
    stream-static join — both must run inside the streaming plan without
    foreachBatch relocation."""
    import os as _os

    src = _os.path.join(tmp_dir, "docs_src")
    ref_path = _os.path.join(tmp_dir, "ref")
    good = "the quick brown fox jumps over the lazy dog and it is a very good day for all of us"
    spark.createDataFrame([(9, good)], "doc_id INT, text STRING").write.parquet(ref_path)
    spark.createDataFrame(
        [(1, good), (2, "x y")], "doc_id INT, text STRING"
    ).coalesce(1).write.mode("append").parquet(src)
    out = load_data(
        {
            "input_specs": [
                {
                    "spec_id": "s",
                    "data_format": "parquet",
                    "location": src,
                    "read_type": "streaming",
                    "schema": DOC_SCHEMA,
                },
                {"spec_id": "ref", "data_format": "parquet", "location": ref_path},
            ],
            "transform_specs": [
                {
                    "spec_id": "t",
                    "input_id": "s",
                    "transformers": [
                        {"function": "text_quality_prune", "args": {"min_words": 10}},
                        {
                            "function": "dedup_cross_exact_with",
                            "args": {"other": "ref", "key_cols": ["text"], "mode": "flag"},
                        },
                    ],
                }
            ],
            "output_specs": [
                {
                    "spec_id": "o",
                    "input_id": "t",
                    "data_format": "dataframe",
                    "options": {"checkpointLocation": _os.path.join(tmp_dir, "ck_cur")},
                }
            ],
        }
    )["o"]
    rows = {r["doc_id"]: (r["quality_pass"], r["in_reference"]) for r in out.collect()}
    assert rows == {1: (True, True), 2: (False, False)}


def test_replan_covers_windowed_datapipes_ops(spark, tmp_dir):
    """Batch-only datapipes operators (window functions / corpus second
    passes) are cut into foreachBatch automatically — a streaming ACON with
    trailing_window_agg must execute, with the trailing metrics computed
    per micro-batch."""
    import datetime as dt

    src = os.path.join(tmp_dir, "src_trail")
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    spark.createDataFrame(
        [("u1", t0, 1.0), ("u1", t0 + dt.timedelta(hours=1), 2.0)],
        "user_id STRING, ts TIMESTAMP, value DOUBLE",
    ).write.parquet(src)
    acon = {
        "input_specs": [
            {
                "spec_id": "s",
                "data_format": "parquet",
                "location": src,
                "read_type": "streaming",
                "schema": "user_id STRING, ts TIMESTAMP, value DOUBLE",
            }
        ],
        "transform_specs": [
            {
                "spec_id": "t",
                "input_id": "s",
                "transformers": [
                    {
                        "function": "trailing_window_agg",
                        "args": {"on": ["user_id"], "duration": "24 hours",
                                 "aggs": {"sum_t": "SUM(value)"}},
                    }
                ],
            }
        ],
        "output_specs": [
            {
                "spec_id": "o",
                "input_id": "t",
                "data_format": "dataframe",
                "options": {"checkpointLocation": os.path.join(tmp_dir, "ck_trail")},
            }
        ],
    }
    loader = DataLoader(acon)
    assert loader.transform_specs[0].transformers == []
    assert [t.function for t in loader.output_specs[0].streaming_micro_batch_transformers] == [
        "trailing_window_agg"
    ]
    written = loader.execute()
    got = {r["value"]: (r["n_trailing"], r["sum_t"]) for r in written["o"].collect()}
    assert got[2.0] == (2, 3.0)


def test_replan_covers_round4_batch_only_ops(spark, tmp_dir):
    """The round-4 batch-only operators (pivot_agg here, representative of
    quantile_summary/cluster_sample/merge_intervals/scd2_build) are
    re-planned into foreachBatch: the streaming ACON executes and the
    pivot runs per micro-batch."""
    src = os.path.join(tmp_dir, "src_pivot")
    spark.createDataFrame(
        [("u1", "view", 1.0), ("u1", "click", 2.0), ("u2", "view", 3.0)],
        "user_id STRING, event_type STRING, value DOUBLE",
    ).write.parquet(src)
    acon = {
        "input_specs": [
            {
                "spec_id": "s",
                "data_format": "parquet",
                "location": src,
                "read_type": "streaming",
                "schema": "user_id STRING, event_type STRING, value DOUBLE",
            }
        ],
        "transform_specs": [
            {
                "spec_id": "t",
                "input_id": "s",
                "transformers": [
                    {
                        "function": "pivot_agg",
                        "args": {"on": ["user_id"], "pivot_col": "event_type",
                                 "values": ["view", "click"],
                                 "aggs": {"n": "count(1)"}},
                    }
                ],
            }
        ],
        "output_specs": [
            {
                "spec_id": "o",
                "input_id": "t",
                "data_format": "dataframe",
                "options": {"checkpointLocation": os.path.join(tmp_dir, "ck_pivot")},
            }
        ],
    }
    loader = DataLoader(acon)
    assert [t.function for t in loader.output_specs[0].streaming_micro_batch_transformers] == [
        "pivot_agg"
    ]
    written = loader.execute()
    got = {r["user_id"]: (r["view_n"], r["click_n"]) for r in written["o"].collect()}
    assert got == {"u1": (1, 1), "u2": (1, None)}


def test_stateful_ops_stay_in_the_streaming_plan(spark, tmp_dir):
    """streaming_running_totals has a native stateful path, so the
    DataLoader must NOT re-plan it into foreachBatch — it runs inside the
    streaming query proper, with its state in the checkpoint."""
    src = os.path.join(tmp_dir, "src_state")
    spark.createDataFrame(
        [("web", 40), ("web", 20), ("code", 10)], "domain STRING, tokens INT"
    ).write.parquet(src)
    acon = {
        "input_specs": [
            {
                "spec_id": "s",
                "data_format": "parquet",
                "location": src,
                "read_type": "streaming",
                "schema": "domain STRING, tokens INT",
            }
        ],
        "transform_specs": [
            {
                "spec_id": "t",
                "input_id": "s",
                "transformers": [
                    {
                        "function": "streaming_running_totals",
                        "args": {"on": ["domain"], "value_col": "tokens",
                                 "budget": 50},
                    }
                ],
            }
        ],
        "output_specs": [
            {
                "spec_id": "o",
                "input_id": "t",
                "data_format": "dataframe",
                "options": {"checkpointLocation": os.path.join(tmp_dir, "ck_state")},
            }
        ],
    }
    loader = DataLoader(acon)
    # NOT relocated: the transformer list survives, foreachBatch plan empty
    assert [t.function for t in loader.transform_specs[0].transformers] == [
        "streaming_running_totals"
    ]
    assert loader.output_specs[0].streaming_micro_batch_transformers == []
    written = loader.execute()
    got = {r["domain"]: (r["total_value"], r["budget_exceeded"])
           for r in written["o"].collect()}
    assert got == {"web": (60.0, True), "code": (10.0, False)}


def test_stateful_budget_cutoff_restart_in_multi_op_acon(spark, tmp_dir):
    """End-to-end kill/restart of a multi-op streaming ACON: a plain
    transform (expression_filter) feeding streaming_running_totals with a
    budget, into a parquet file sink with a checkpoint. Run 1 drains one
    file; the 'killed' query is then restarted against the same checkpoint
    with more data staged — the per-key accumulator must RESTORE from the
    state store (run-2 totals continue from run-1, crossing the budget at
    the right cumulative point), the filter must keep running in the same
    restarted plan, and nothing is re-emitted."""
    src = os.path.join(tmp_dir, "src_bud")
    out = os.path.join(tmp_dir, "out_bud")
    ck = os.path.join(tmp_dir, "ck_bud")

    def stage(rows):
        spark.createDataFrame(
            rows, "domain STRING, tokens INT"
        ).coalesce(1).write.mode("append").parquet(src)

    acon = {
        "input_specs": [
            {
                "spec_id": "s",
                "data_format": "parquet",
                "location": src,
                "read_type": "streaming",
                "schema": "domain STRING, tokens INT",
                "options": {"maxFilesPerTrigger": 1},
            }
        ],
        "transform_specs": [
            {
                "spec_id": "t",
                "input_id": "s",
                "transformers": [
                    # drops the poison-pill rows BEFORE the stateful fold
                    {"function": "expression_filter",
                     "args": {"exp": "tokens >= 0"}},
                    {
                        "function": "streaming_running_totals",
                        "args": {"on": ["domain"], "value_col": "tokens",
                                 "budget": 50},
                    },
                ],
            }
        ],
        "output_specs": [
            {
                "spec_id": "o",
                "input_id": "t",
                "data_format": "parquet",
                "location": out,
                "write_type": "append",
                "options": {"checkpointLocation": ck},
            }
        ],
    }
    # run 1: web=30 (under budget), code=10; a tokens=-5 row is filtered
    stage([("web", 30), ("code", 10), ("web", -5)])
    load_data(acon)
    got1 = {
        (r["domain"], r["total_value"], r["budget_exceeded"])
        for r in spark.read.parquet(out).collect()
    }
    assert got1 == {("web", 30.0, False), ("code", 10.0, False)}
    # kill + restart with new data: web crosses the budget ONLY if run-1
    # state was restored (30 + 30 > 50); the filtered row again invisible
    stage([("web", 30), ("web", -100), ("code", 5)])
    load_data(acon)
    rows = sorted(
        (r["domain"], r["batch_value"], r["total_value"], r["budget_exceeded"])
        for r in spark.read.parquet(out).collect()
    )
    assert rows == [
        ("code", 5.0, 15.0, False),
        ("code", 10.0, 10.0, False),
        ("web", 30.0, 30.0, False),
        ("web", 30.0, 60.0, True),
    ]
    # idle restart: nothing new, nothing re-emitted
    load_data(acon)
    assert spark.read.parquet(out).count() == 4


def test_streaming_incremental_minhash_dedups_across_batches_and_runs(
    spark, tmp_dir
):
    """dedup_incremental_minhash in a STREAMING ACON must be re-planned
    into foreachBatch (inside which every micro-batch is a plain batch
    frame), so the persistent band-bucket digest state carries across
    micro-batches AND across stream restarts — true streaming near-dup
    dedup. A doc repeated in a later micro-batch, or in a later RUN, is
    suppressed; fresh docs flow."""
    src = os.path.join(tmp_dir, "docs_src")
    out = os.path.join(tmp_dir, "docs_out")
    state = os.path.join(tmp_dir, "mh_state")

    def stage(rows):
        spark.createDataFrame(
            rows, "doc_id LONG, text STRING"
        ).coalesce(1).write.mode("append").parquet(src)

    acon = {
        "input_specs": [
            {
                "spec_id": "s",
                "data_format": "parquet",
                "location": src,
                "read_type": "streaming",
                "schema": "doc_id LONG, text STRING",
                "options": {"maxFilesPerTrigger": 1},
            }
        ],
        "transform_specs": [
            {
                "spec_id": "t",
                "input_id": "s",
                "transformers": [
                    {
                        "function": "dedup_incremental_minhash",
                        "args": {
                            "state_location": state,
                            "text_col": "text",
                            "id_col": "doc_id",
                            "num_hashes": 12,
                            "bands": 4,
                            "shingle_size": 3,
                        },
                    }
                ],
            }
        ],
        "output_specs": [
            {
                "spec_id": "o",
                "input_id": "t",
                "data_format": "parquet",
                "location": out,
                "write_type": "append",
                "options": {
                    "checkpointLocation": os.path.join(tmp_dir, "ck_mh")
                },
            }
        ],
    }
    base = "the quick brown fox jumps over the lazy dog again and again "
    # batch 1: two fresh docs; batch 2: an exact near-dup of doc 1 (all
    # bands collide) + one fresh doc
    stage([(1, base * 3), (2, "completely different second document text")])
    stage([(10, base * 3), (11, "a third novel document body entirely")])
    loader = DataLoader(acon)
    # re-planned: the transformer list moved into foreachBatch
    assert loader.transform_specs[0].transformers == []
    assert [
        t.function
        for t in loader.output_specs[0].streaming_micro_batch_transformers
    ] == ["dedup_incremental_minhash"]
    loader.execute()
    texts = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert 1 in texts or 10 in texts
    assert not (1 in texts and 10 in texts)  # the near-dup was suppressed
    assert 2 in texts and 11 in texts and len(texts) == 3
    # cross-RUN: a restarted stream (same state) still suppresses
    stage([(20, base * 3), (21, "yet another brand new document wording")])
    load_data(acon)
    after = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert 20 not in after and 21 in after and len(after) == 4


def test_streaming_incremental_embedding_dedups_across_batches_and_runs(
    spark, tmp_dir
):
    """dedup_incremental_embedding in a STREAMING ACON must be re-planned
    into foreachBatch, so the hyperplane bucket-hash state carries across
    micro-batches AND across stream restarts — the dense-representation
    sibling of the minhash test. A vector repeated (near-identically) in
    a later micro-batch, or in a later RUN, is suppressed; orthogonal
    vectors flow; zero-norm vectors always survive."""
    src = os.path.join(tmp_dir, "emb_src")
    out = os.path.join(tmp_dir, "emb_out")
    state = os.path.join(tmp_dir, "emb_state")

    def stage(rows):
        spark.createDataFrame(
            rows, "vec_id LONG, embedding ARRAY<DOUBLE>"
        ).coalesce(1).write.mode("append").parquet(src)

    acon = {
        "input_specs": [
            {
                "spec_id": "s",
                "data_format": "parquet",
                "location": src,
                "read_type": "streaming",
                "schema": "vec_id LONG, embedding ARRAY<DOUBLE>",
                "options": {"maxFilesPerTrigger": 1},
            }
        ],
        "transform_specs": [
            {
                "spec_id": "t",
                "input_id": "s",
                "transformers": [
                    {
                        "function": "dedup_incremental_embedding",
                        "args": {
                            "state_location": state,
                            "embedding_col": "embedding",
                            "id_col": "vec_id",
                            "threshold": 0.98,
                            "num_planes": 8,
                            "num_tables": 3,
                            "dim": 6,
                        },
                    }
                ],
            }
        ],
        "output_specs": [
            {
                "spec_id": "o",
                "input_id": "t",
                "data_format": "parquet",
                "location": out,
                "write_type": "append",
                "options": {
                    "checkpointLocation": os.path.join(tmp_dir, "ck_emb")
                },
            }
        ],
    }
    a = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]
    a_near = [1.001, 2.0, 3.0, 4.0, 5.0, 6.0]  # cosine ~ 1.0 with a
    b = [6.0, -5.0, 4.0, -3.0, 2.0, -1.0]  # far from a
    c = [-1.0, 7.0, -2.0, 5.0, 0.5, 3.0]
    zero = [0.0] * 6
    # batch 1: a + b fresh; batch 2: near-dup of a + fresh c + a zero vec
    stage([(1, a), (2, b)])
    stage([(10, a_near), (11, c), (12, zero)])
    loader = DataLoader(acon)
    assert loader.transform_specs[0].transformers == []
    assert [
        t.function
        for t in loader.output_specs[0].streaming_micro_batch_transformers
    ] == ["dedup_incremental_embedding"]
    loader.execute()
    ids = sorted(r["vec_id"] for r in spark.read.parquet(out).collect())
    assert 1 in ids or 10 in ids
    assert not (1 in ids and 10 in ids)  # the near-dup was suppressed
    assert 2 in ids and 11 in ids and 12 in ids and len(ids) == 4
    # cross-RUN: a restarted stream (same state) still suppresses
    stage([(20, a), (21, [2.0, -6.0, -1.0, 5.0, -3.0, 0.5])])
    load_data(acon)
    after = sorted(r["vec_id"] for r in spark.read.parquet(out).collect())
    assert 20 not in after and 21 in after and len(after) == 5


def test_incremental_embedding_batch_contract_and_compaction(spark, tmp_path):
    """Batch-mode contract of dedup_incremental_embedding: first run
    dedupes in-batch with the exact-cosine verify (bucket collision alone
    is NOT enough in-batch), later runs drop history bucket collisions,
    update_state=False dry-runs, and repeated appends compact the state
    parts like the exact/minhash arms."""
    from lakehouse_engine_spark.core.definitions import TransformerSpec
    from lakehouse_engine_spark.transformers.transformer_factory import (
        TransformerFactory,
    )

    def t(name, **args):
        return TransformerFactory.get_transformer(TransformerSpec(name, args))

    state = str(tmp_path / "st")
    a = [1.0, 2.0, 3.0, 4.0]
    a_near = [1.0005, 2.0, 3.0, 4.0]
    b = [4.0, -3.0, 2.0, -1.0]
    df1 = spark.createDataFrame(
        [(1, a), (2, a_near), (3, b)], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    op = lambda **kw: t(  # noqa: E731
        "dedup_incremental_embedding",
        state_location=state, threshold=0.98, num_planes=8, num_tables=3,
        dim=4, compact_after_files=2, **kw,
    )
    got1 = sorted(r["vec_id"] for r in df1.transform(op()).collect())
    assert got1 == [1, 3]  # 2 verified near-dup of 1 in-batch
    # dry-run: nothing dropped against itself, state unchanged
    df2 = spark.createDataFrame(
        [(10, a), (11, [0.0, 0.0, 0.0, 0.0])],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    dry = sorted(
        r["vec_id"] for r in df2.transform(op(update_state=False)).collect()
    )
    assert dry == [11]  # 10 collides with history; zero-norm survives
    # real run: same outcome, state grows only by nothing new (10 dropped)
    got2 = sorted(r["vec_id"] for r in df2.transform(op()).collect())
    assert got2 == [11]
    # a few more runs to force compaction; state parts stay bounded
    for i in range(4):
        dfn = spark.createDataFrame(
            [(100 + i, [float(i + 2), 1.0, -float(i), 0.5])],
            "vec_id LONG, embedding ARRAY<DOUBLE>",
        )
        dfn.transform(op()).collect()
    parts = [
        p for p in (tmp_path / "st").iterdir() if p.name.startswith("part-")
    ]
    assert len(parts) <= 3, [p.name for p in parts]
    # streaming frames are rejected outside foreachBatch
    import pytest as _pt

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    )
    with _pt.raises(ValueError):
        op()(stream)


def test_streaming_curation_chain_end_to_end_with_restart(spark, tmp_dir):
    """The q31 curation chain's STREAMING arm: file stream -> gopher
    quality rules -> cross-batch incremental near-dup dedup ->
    8-gram decontamination against a STATIC batch benchmark — all
    through one streaming ACON. The stateless stages (gopher,
    decontaminate) and the stateful dedup are re-planned into
    foreachBatch automatically; the persistent digest state carries
    across micro-batches AND a stream restart."""
    src = os.path.join(tmp_dir, "cur_src")
    bench_loc = os.path.join(tmp_dir, "cur_bench")
    out = os.path.join(tmp_dir, "cur_out")
    state = os.path.join(tmp_dir, "cur_state")

    good = (
        "the quick brown fox jumps over the lazy dog and then keeps "
        "running across the wide green field toward a distant quiet barn "
    )
    contaminated = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi "
    )
    spark.createDataFrame(
        [(900, contaminated)], "doc_id LONG, text STRING"
    ).write.parquet(bench_loc)

    def stage(rows):
        spark.createDataFrame(
            rows, "doc_id LONG, text STRING"
        ).coalesce(1).write.mode("append").parquet(src)

    acon = {
        "input_specs": [
            {
                "spec_id": "stream",
                "data_format": "parquet",
                "location": src,
                "read_type": "streaming",
                "schema": "doc_id LONG, text STRING",
                "options": {"maxFilesPerTrigger": 1},
            },
            {
                "spec_id": "bench",
                "data_format": "parquet",
                "location": bench_loc,
                "read_type": "batch",
            },
        ],
        "transform_specs": [
            {
                "spec_id": "curated",
                "input_id": "stream",
                "transformers": [
                    {
                        "function": "text_gopher_rules",
                        "args": {"min_words": 10, "stopwords": ["the"],
                                 "min_stopword_hits": 0},
                    },
                    {"function": "expression_filter",
                     "args": {"exp": "gopher_keep"}},
                    {
                        "function": "dedup_incremental_minhash",
                        "args": {"state_location": state, "text_col": "text",
                                 "id_col": "doc_id", "num_hashes": 12,
                                 "bands": 4, "shingle_size": 3},
                    },
                    {
                        "function": "text_decontaminate_with",
                        "args": {"benchmark_with": "bench", "ngram": 8,
                                 "mode": "drop"},
                    },
                ],
            }
        ],
        "output_specs": [
            {
                "spec_id": "o",
                "input_id": "curated",
                "data_format": "parquet",
                "location": out,
                "write_type": "append",
                "options": {
                    "checkpointLocation": os.path.join(tmp_dir, "cur_ck")
                },
            }
        ],
    }

    # batch 1: one clean doc + one too-short (gopher drop) + one
    # contaminated (8-gram overlap with the benchmark -> drop)
    stage([(1, good * 2), (2, "too short"), (3, contaminated * 2)])
    # batch 2: a near-dup of doc 1 (cross-BATCH suppression) + one fresh
    stage([(10, good * 2), (11, "an entirely different second body of "
                                "writing with plenty of fresh words to "
                                "pass the quality gate just fine the")])
    loader = DataLoader(acon)
    # stream-capable stages (gopher, filter) STAY in the streaming plan;
    # the tail from the first streaming-unsupported op onward relocates
    # into foreachBatch
    assert [t.function for t in loader.transform_specs[0].transformers] == [
        "text_gopher_rules", "expression_filter",
    ]
    assert [
        t.function
        for t in loader.output_specs[0].streaming_micro_batch_transformers
    ] == ["dedup_incremental_minhash", "text_decontaminate_with"]
    loader.execute()
    ids = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert 2 not in ids and 3 not in ids  # gopher + decontamination
    assert (1 in ids) != (10 in ids)  # near-dup suppressed across batches
    assert 11 in ids and len(ids) == 2

    # RESTART: same state + checkpoint — a near-dup arriving in a new run
    # is still suppressed; fresh clean docs flow
    stage([(20, good * 2), (21, "yet another brand new clean document "
                                "with enough unique words to pass the "
                                "gopher filter easily and cleanly the")])
    load_data(acon)
    after = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert 20 not in after and 21 in after and len(after) == 3


def test_incremental_embedding_empty_and_null_edge_cases(spark, tmp_path):
    """Degenerate inputs: an all-null/zero-norm delivery keeps every row
    and appends no state; an EMPTY delivery survives the run (no crash,
    no state rows); a following real delivery still dedups in-batch."""
    from lakehouse_engine_spark.core.definitions import TransformerSpec
    from lakehouse_engine_spark.transformers.transformer_factory import (
        TransformerFactory,
    )

    def t(name, **args):
        return TransformerFactory.get_transformer(TransformerSpec(name, args))

    state = str(tmp_path / "st")
    op = lambda: t(  # noqa: E731
        "dedup_incremental_embedding", state_location=state, threshold=0.98,
        num_planes=6, num_tables=2, dim=4,
    )
    nulls = spark.createDataFrame(
        [(1, None), (2, [0.0, 0.0, 0.0, 0.0])],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    assert sorted(r["vec_id"] for r in nulls.transform(op()).collect()) == [1, 2]
    import os as _os

    state_rows = spark.read.parquet(state).count() if _os.path.isdir(state) else 0
    assert state_rows == 0  # no cosine direction -> nothing persisted
    empty = spark.createDataFrame([], "vec_id LONG, embedding ARRAY<DOUBLE>")
    assert empty.transform(op()).count() == 0
    real = spark.createDataFrame(
        [(10, [1.0, 2.0, 3.0, 4.0]), (11, [1.0005, 2.0, 3.0, 4.0])],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    assert sorted(r["vec_id"] for r in real.transform(op()).collect()) == [10]


def test_r13_screens_run_inside_the_streaming_plan(spark, tmp_dir):
    """text_c4_rules, text_script_mix, and embedding_sanitize are pure
    projections — a streaming ACON must run them IN the stream (no
    foreachBatch relocation), and the flags must match the batch arm."""
    import os as _os

    src = _os.path.join(tmp_dir, "screen_src")
    rows = [
        (1, "one two three here.\nshort"),
        (2, "привет мир и всем хороший день ok"),
    ]
    spark.createDataFrame(rows, "doc_id INT, text STRING").coalesce(
        1
    ).write.mode("append").parquet(src)
    acon = {
        "input_specs": [
            {
                "spec_id": "s",
                "data_format": "parquet",
                "location": src,
                "read_type": "streaming",
                "schema": DOC_SCHEMA,
            }
        ],
        "transform_specs": [
            {
                "spec_id": "t",
                "input_id": "s",
                "transformers": [
                    {"function": "text_c4_rules",
                     "args": {"min_sentences": 1}},
                    {"function": "text_script_mix", "args": {}},
                ],
            }
        ],
        "output_specs": [
            {"spec_id": "o", "input_id": "t", "data_format": "dataframe"}
        ],
    }
    got = {r["doc_id"]: r for r in load_data(acon)["o"].collect()}
    assert got[1]["n_lines_kept"] == 1 and got[1]["c4_keep"]
    assert got[2]["n_lines_kept"] == 0 and not got[2]["c4_keep"]
    assert got[2]["script_dominant"] == "cyrillic"
    assert got[1]["script_dominant"] == "latin"


@pytest.mark.parametrize("trigger", [{}, {"streaming_once": True}])
def test_processing_time_timeout_refused_under_draining_trigger(spark, tmp_dir, trigger):
    """A processing-time state timeout keeps Spark running no-data
    micro-batches, so an availableNow (default) or once drain would never
    end: the writer raises before start(), and starts no query."""
    src = os.path.join(tmp_dir, "src")
    _stage(spark, src, [(1, 1), (2, 1)])
    acon = {
        "input_specs": [
            {
                "spec_id": "s",
                "data_format": "parquet",
                "location": src,
                "read_type": "streaming",
                "schema": SCHEMA,
            }
        ],
        "transform_specs": [
            {
                "spec_id": "t",
                "input_id": "s",
                "transformers": [
                    {
                        "function": "streaming_dedup_exact",
                        "args": {"key_cols": ["k"], "id_col": "ver", "ttl_minutes": 5},
                    }
                ],
            }
        ],
        "output_specs": [
            {
                "spec_id": "o",
                "input_id": "t",
                "data_format": "parquet",
                "location": os.path.join(tmp_dir, "out"),
                "options": {"checkpointLocation": os.path.join(tmp_dir, "ck")},
                **trigger,
            }
        ],
    }
    active = len(spark.streams.active)
    draining = "once" if trigger else "availableNow"
    with pytest.raises(ValueError, match=rf"ProcessingTimeTimeout.*{draining} trigger"):
        load_data(acon)
    assert len(spark.streams.active) == active


def test_processing_time_timeout_allowed_under_processing_time_trigger(spark, tmp_dir):
    from lakehouse_engine_spark.core.definitions import OutputSpec, TransformerSpec
    from lakehouse_engine_spark.io.writer_factory import _refuse_undrainable
    from lakehouse_engine_spark.transformers.transformer_factory import (
        TransformerFactory,
    )

    src = os.path.join(tmp_dir, "src")
    _stage(spark, src, [(1, 1)])
    op = TransformerFactory.get_transformer(
        TransformerSpec("streaming_dedup_exact", {"key_cols": ["k"], "ttl_minutes": 5})
    )
    stream = spark.readStream.schema("k INT, ver INT").parquet(src).transform(op)
    spec = OutputSpec(spec_id="o", input_id="t", data_format="parquet")
    _refuse_undrainable(stream, spec, {"processingTime": "1 second"})
    with pytest.raises(ValueError, match="availableNow"):
        _refuse_undrainable(stream, spec, {"availableNow": True})
