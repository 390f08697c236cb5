"""Native DQ engine: expectations, failure policies, source tagging, result
sink (reference ``dq_processors/dq_factory.py`` semantics without GE)."""

from __future__ import annotations

import os

import pytest

from lakehouse_engine_spark import execute_dq_validation, load_data
from lakehouse_engine_spark.core.definitions import (
    DQFunctionSpec,
    DQSpec,
    DQValidationsFailedException,
)
from lakehouse_engine_spark.dq.dq_factory import DQFactory


@pytest.fixture()
def df(spark):
    return spark.createDataFrame(
        [(1, "a", 5), (2, "b", 50), (3, None, 500), (3, "d", -1)],
        "id INT, name STRING, score INT",
    )


def run(spark, df, functions, critical=(), **kw):
    spec = DQSpec(
        spec_id="dq",
        input_id="in",
        dq_functions=[DQFunctionSpec(f, a) for f, a in functions],
        critical_functions=[DQFunctionSpec(f, a) for f, a in critical],
        **kw,
    )
    return DQFactory.run_dq_process(spark, spec, df)


def test_passing_suite_returns_df(spark, df):
    out = run(
        spark,
        df,
        [
            ("expect_column_values_to_be_between", {"column": "score", "min_value": -10, "max_value": 1000}),
            ("expect_table_row_count_to_be_between", {"min_value": 1, "max_value": 10}),
        ],
    )
    assert out.count() == 4


def test_fail_on_error(spark, df):
    with pytest.raises(DQValidationsFailedException):
        run(spark, df, [("expect_column_values_to_not_be_null", {"column": "name"})])


def test_fail_on_error_false_logs_only(spark, df):
    out = run(
        spark,
        df,
        [("expect_column_values_to_not_be_null", {"column": "name"})],
        fail_on_error=False,
    )
    assert out.count() == 4


def test_critical_functions_raise_even_with_fail_on_error_false(spark, df):
    with pytest.raises(DQValidationsFailedException, match="Critical"):
        run(
            spark,
            df,
            [],
            critical=[("expect_column_values_to_not_be_null", {"column": "name"})],
            fail_on_error=False,
        )


def test_max_percentage_failure(spark, df):
    # 1 of 2 functions fails = 50%; threshold 60 tolerates it
    out = run(
        spark,
        df,
        [
            ("expect_column_values_to_not_be_null", {"column": "name"}),
            ("expect_column_values_to_not_be_null", {"column": "id"}),
        ],
        max_percentage_failure=60.0,
    )
    assert out.count() == 4
    with pytest.raises(DQValidationsFailedException):
        run(
            spark,
            df,
            [
                ("expect_column_values_to_not_be_null", {"column": "name"}),
                ("expect_column_values_to_not_be_null", {"column": "id"}),
            ],
            max_percentage_failure=40.0,
        )


def test_uniqueness(spark, df):
    with pytest.raises(DQValidationsFailedException):
        run(spark, df, [("expect_column_values_to_be_unique", {"column": "id"})])


def test_tag_source_data(spark, df):
    out = run(
        spark,
        df,
        [("expect_column_values_to_not_be_null", {"column": "name"})],
        tag_source_data=True,
        fail_on_error=False,
    )
    tagged = {r["id"]: r["dq_validations"]["run_row_success"] for r in out.collect() if r["name"] is None}
    assert tagged == {3: False}
    ok = out.filter("name IS NOT NULL").first()["dq_validations"]
    assert ok["run_row_success"] is True and ok["dq_failure_details"] is None


def test_result_sink(spark, df, tmp_dir):
    sink = os.path.join(tmp_dir, "sink")
    run(
        spark,
        df,
        [("expect_column_values_to_not_be_null", {"column": "id"})],
        result_sink_location=sink,
        result_sink_format="parquet",
    )
    rows = spark.read.parquet(sink).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["expectation_type"] == "expect_column_values_to_not_be_null"
    assert r["expectation_success"] is True
    assert r["element_count"] == 4 and r["unexpected_count"] == 0


def test_pair_expectations(spark):
    df = spark.createDataFrame([(1, 2), (5, 3)], "a INT, b INT")
    with pytest.raises(DQValidationsFailedException):
        DQFactory.run_dq_process(
            spark,
            DQSpec(
                spec_id="dq",
                input_id="in",
                dq_functions=[
                    DQFunctionSpec(
                        "expect_column_pair_a_to_be_smaller_or_equal_than_b",
                        {"column_A": "a", "column_B": "b"},
                    )
                ],
            ),
            df,
        )


def test_dq_via_load_data(spark, tmp_dir):
    src = os.path.join(tmp_dir, "src")
    spark.createDataFrame([(1, "x")], "id INT, v STRING").write.parquet(src)
    res = load_data(
        {
            "input_specs": [{"spec_id": "in", "data_format": "parquet", "location": src}],
            "dq_specs": [
                {
                    "spec_id": "dq",
                    "input_id": "in",
                    "dq_functions": [
                        {"function": "expect_column_values_to_not_be_null", "args": {"column": "id"}}
                    ],
                }
            ],
            "output_specs": [{"spec_id": "o", "input_id": "dq", "data_format": "dataframe"}],
        }
    )
    assert res["o"].count() == 1


def test_dq_validation_entrypoint_restores_nothing_on_pass(spark, tmp_dir):
    src = os.path.join(tmp_dir, "src")
    spark.createDataFrame([(1,)], "id INT").write.parquet(src)
    execute_dq_validation(
        {
            "input_spec": {"spec_id": "i", "data_format": "parquet", "location": src},
            "dq_spec": {
                "spec_id": "dq",
                "input_id": "i",
                "dq_functions": [
                    {"function": "expect_column_values_to_not_be_null", "args": {"column": "id"}}
                ],
            },
        }
    )


# ---------------------------------------------------------------- PRISMA

PRISMA_RULE_COLS = (
    "arguments STRING, dq_tech_function STRING, dq_rule_id STRING, "
    "execution_point STRING, filters STRING, schema STRING, table STRING, "
    "column STRING, dimension STRING"
)


def _rules_df(spark, rows):
    return spark.createDataFrame(rows, PRISMA_RULE_COLS)


def test_prisma_rules_import_from_table(spark, tmp_dir):
    """dq_type=prisma resolves rules from a governance table and runs them
    (reference utils/dq_utils.py:166-240)."""
    src = os.path.join(tmp_dir, "src")
    spark.createDataFrame(
        [(1, "a"), (2, None)], "id INT, name STRING"
    ).write.parquet(src)
    _rules_df(
        spark,
        [
            ('{"column": "id"}', "expect_column_values_to_not_be_null",
             "r1", "at_rest", None, None, "my_table", "id", "completeness"),
            # duplicate row must be dropped
            ('{"column": "id"}', "expect_column_values_to_not_be_null",
             "r1", "at_rest", None, None, "my_table", "id", "completeness"),
            # other table's rule must be filtered out
            ('{"column": "nope"}', "expect_column_values_to_not_be_null",
             "r9", "at_rest", None, None, "other_table", "nope", "completeness"),
        ],
    ).createOrReplaceTempView("dq_rules")

    result = execute_dq_validation(
        {
            "input_spec": {"spec_id": "i", "data_format": "parquet", "location": src},
            "dq_spec": {
                "spec_id": "dq_prisma",
                "input_id": "i",
                "dq_type": "prisma",
                "dq_db_table": "dq_rules",
                "dq_table_table_filter": "my_table",
                "data_product_name": "dp1",
                "unexpected_rows_pk": ["id"],
            },
        }
    )
    assert result is not None  # id has no nulls → passes


def test_prisma_requires_pk_and_product_name(spark, tmp_dir):
    from lakehouse_engine_spark.core.definitions import DQSpecMalformedException
    from lakehouse_engine_spark.utils.dq_utils import build_prisma_dq_spec

    with pytest.raises(DQSpecMalformedException):
        build_prisma_dq_spec(spark, {"dq_table_table_filter": "t"}, "at_rest")
    with pytest.raises(DQSpecMalformedException):
        build_prisma_dq_spec(
            spark,
            {"dq_functions": [{"function": "f",
                               "args": {"meta": {c: "x" for c in (
                                   "dq_rule_id", "execution_point", "filters",
                                   "schema", "table", "column", "dimension")}}}],
             "unexpected_rows_pk": ["id"]},
            "",
        )  # missing data_product_name


def test_prisma_meta_contract_validation(spark):
    from lakehouse_engine_spark.core.definitions import DQSpecMalformedException
    from lakehouse_engine_spark.utils.dq_utils import validate_dq_functions

    with pytest.raises(DQSpecMalformedException):
        validate_dq_functions(
            {"dq_functions": [{"function": "f", "args": {}}]},
            "at_rest",
            ["dq_rule_id"],
        )
    # complete meta passes
    validate_dq_functions(
        {"dq_functions": [{"function": "f",
                           "args": {"meta": {"dq_rule_id": "1",
                                             "execution_point": "at_rest"}}}]},
        "at_rest",
        ["dq_rule_id", "execution_point"],
    )


# ------------------------------------------- uniqueness in the row pass

_ROW_SUITE = [
    ("expect_column_values_to_not_be_null", {"column": "name"}),
    ("expect_column_values_to_be_between", {"column": "score", "min_value": 0, "max_value": 100}),
]


def _results(spark, df, functions, tmp_dir, **kw):
    """Per-expectation ``(type, column, success, unexpected, elements)``
    from the run's file-store artifact (no Spark job to read it back)."""
    import glob
    import json

    run(spark, df, functions, fail_on_error=False, local_fs_root_dir=tmp_dir, **kw)
    (path,) = glob.glob(os.path.join(tmp_dir, "*", "validation_result.json"))
    with open(path) as fh:
        payload = json.load(fh)
    os.remove(path)
    return [
        (
            e["expectation_type"],
            e["kwargs"].get("column"),
            e["success"],
            e["unexpected_count"],
            e["element_count"],
        )
        for e in payload["expectations"]
    ]


def _unique_ref(df, column):
    from lakehouse_engine_spark.dq.expectations import eval_unique

    u, total = eval_unique(df, column)
    return ("expect_column_values_to_be_unique", column, u == 0, u, total)


_UNIQUE_ID = ("expect_column_values_to_be_unique", {"column": "id"})
_UNIQUE_NAME = ("expect_column_values_to_be_unique", {"column": "name"})


@pytest.mark.parametrize(
    "rows",
    [
        # several NULL keys count as duplicates of each other
        [(None, "a", 5), (None, "b", 50), (None, None, 500), (1, "d", -1), (2, "d", 7), (2, "e", 8)],
        [],
    ],
    ids=["null_keys", "empty"],
)
def test_fused_uniqueness_matches_eval_unique(spark, tmp_dir, rows):
    """Uniqueness on the grouped column (twice) and on a second column: the
    counts equal ``eval_unique``'s, and the row expectations report what
    the same suite reports without any uniqueness expectation."""
    frame = spark.createDataFrame(rows, "id INT, name STRING, score INT").localCheckpoint()
    got = _results(spark, frame, _ROW_SUITE + [_UNIQUE_ID, _UNIQUE_ID, _UNIQUE_NAME], tmp_dir)
    rows_only = _results(spark, frame, _ROW_SUITE, tmp_dir)
    assert got[:2] == rows_only
    assert got[2:] == [_unique_ref(frame, "id")] * 2 + [_unique_ref(frame, "name")]
    if rows:
        assert got[2][2:] == (False, 5, 6) and got[4][2:] == (False, 2, 6)
    else:
        assert [r[2:] for r in got] == [(True, 0, 0)] * 5


def test_uniqueness_alone_matches_eval_unique(spark, df, tmp_dir):
    assert _results(spark, df, [_UNIQUE_ID], tmp_dir) == [_unique_ref(df, "id")]


def test_failure_policies_with_fused_uniqueness(spark, df):
    # critical uniqueness still raises on its own
    with pytest.raises(DQValidationsFailedException, match="Critical"):
        run(spark, df, [], critical=[_UNIQUE_ID], fail_on_error=False)
    # 1 of 2 fails (50%): 60 tolerates it, 40 does not
    passing = ("expect_column_values_to_not_be_null", {"column": "id"})
    assert run(spark, df, [passing, _UNIQUE_ID], max_percentage_failure=60.0).count() == 4
    with pytest.raises(DQValidationsFailedException, match="max_percentage_failure"):
        run(spark, df, [passing, _UNIQUE_ID], max_percentage_failure=40.0)


def test_tag_source_data_with_fused_uniqueness(spark, df):
    """Rows are tagged by the row expectations only; the failed uniqueness
    shows in ``run_success``."""
    out = run(
        spark, df, _ROW_SUITE + [_UNIQUE_ID], tag_source_data=True, fail_on_error=False
    )
    tags = sorted(
        (r["id"], r["score"], r["dq_validations"]["run_row_success"],
         r["dq_validations"]["run_success"])
        for r in out.collect()
    )
    assert tags == [(1, 5, True, False), (2, 50, True, False),
                    (3, -1, False, False), (3, 500, False, False)]


def _jobs(spark, fn):
    import uuid

    sc = spark.sparkContext
    group = f"dq-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_uniqueness_adds_no_pass_over_the_input(spark):
    """Load-independent guard against a second pass for uniqueness, by
    Spark job count. On input already partitioned by the key (what the
    in-motion DQ sees after a CDC condense) the suite with uniqueness fires
    exactly as many jobs as the suite without it. On input that is not,
    the grouping adds its one shuffle stage: the suite then fires exactly
    as many jobs as the uniqueness check on its own."""
    from lakehouse_engine_spark.dq.expectations import eval_unique

    base = spark.createDataFrame(
        [(i % 40, f"n{i}", i) for i in range(200)], "id INT, name STRING, score INT"
    ).localCheckpoint()

    def suite(frame, *functions):
        return lambda: run(spark, frame, functions, fail_on_error=False)

    keyed = base.repartition(4, "id")
    assert _jobs(spark, suite(keyed, *_ROW_SUITE, _UNIQUE_ID)) == _jobs(
        spark, suite(keyed, *_ROW_SUITE)
    )
    assert _jobs(spark, suite(base, *_ROW_SUITE, _UNIQUE_ID)) == _jobs(
        spark, lambda: eval_unique(base, "id")
    )
