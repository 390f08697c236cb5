"""Native DQ engine: expectations, failure policies, source tagging, result
sink (reference ``dq_processors/dq_factory.py`` semantics without GE)."""

from __future__ import annotations

import contextlib
import os

import pytest

from lakehouse_engine_spark import execute_dq_validation, load_data
from lakehouse_engine_spark.core.definitions import (
    DQFunctionSpec,
    DQSpec,
    DQValidationsFailedException,
)
from lakehouse_engine_spark.dq.dq_factory import DQFactory
from tests.conftest import assert_exact_statistics, spark_jobs, table_statistics


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
    assert spark_jobs(spark, suite(keyed, *_ROW_SUITE, _UNIQUE_ID)) == spark_jobs(
        spark, suite(keyed, *_ROW_SUITE)
    )
    assert spark_jobs(spark, suite(base, *_ROW_SUITE, _UNIQUE_ID)) == spark_jobs(
        spark, lambda: eval_unique(base, "id")
    )


# ------------------------------------------------- suite observed in the merge

_CDC_TARGET = [(k, 1, 10 + k) for k in range(8)]
# condensed: keys 1 (update), 2 (delete), 8 and 9 (inserts) and one NULL key;
# key 3's newest image has the excluded mode X, so the key drops out
_CDC_BATCH = [
    (1, 2, "N", 20), (1, 3, "", 21), (2, 2, "D", 0), (3, 1, "N", 5), (3, 2, "X", 6),
    (8, 1, "N", 30), (9, 1, "N", 31), (9, 2, "", 60), (None, 1, "N", 7),
]
_CDC_CONDENSED_ROWS = 5
_IN_SET = ("expect_column_values_to_be_in_set",
           {"column": "recordmode", "value_set": ["", "N", "D"]})
_UNIQUE_KEY = ("expect_column_values_to_be_unique", {"column": "li_key"})
_KEY_NOT_NULL = ("expect_column_values_to_not_be_null", {"column": "li_key"})


def _fns(functions):
    return [{"function": f, "args": a} for f, a in functions]


def _cdc_acon(spark, root, table, batch, dq, *, create=True, first_output=False):
    """A CDC-shaped ACON: condense the batch, run the suite ``dq``
    (``dq_functions``/``critical_functions`` as (name, args) pairs, other DQ
    spec keys as they are; None for no suite), merge into the parquet
    catalog table ``table``, created from ``_CDC_TARGET`` when ``create``."""
    batch_path = os.path.join(root, "batch")
    spark.createDataFrame(
        batch, "li_key INT, change_seq INT, recordmode STRING, qty INT"
    ).write.mode("overwrite").parquet(batch_path)
    if create:
        spark.createDataFrame(
            _CDC_TARGET, "li_key INT, change_seq INT, qty INT"
        ).write.format("parquet").saveAsTable(table)
    dq_specs = [] if dq is None else [{
        "spec_id": "checked", "input_id": "condensed", "dq_type": "validator",
        "result_sink_location": os.path.join(root, "dq_results"),
        "result_sink_format": "parquet",
        **{k: _fns(v) if k.endswith("functions") else v for k, v in dq.items()},
    }]
    outputs = [{
        "spec_id": "silver", "input_id": "condensed" if dq is None else "checked",
        "write_type": "merge", "data_format": "parquet", "db_table": table,
        "merge_opts": {
            "merge_predicate": "current.li_key = new.li_key",
            "update_predicate": "new.change_seq > current.change_seq",
            "delete_predicate": "new.recordmode = 'D'",
            "insert_predicate": "new.recordmode <> 'D'",
        },
    }]
    if first_output:
        outputs.insert(0, {"spec_id": "raw", "input_id": "cdc", "data_format": "dataframe"})
    return {
        "input_specs": [{"spec_id": "cdc", "data_format": "parquet", "location": batch_path}],
        "transform_specs": [{
            "spec_id": "condensed", "input_id": "cdc",
            "transformers": [{"function": "condense_record_mode_cdc", "args": {
                "business_key": ["li_key"], "ranking_key_desc": ["change_seq"],
                "valid_record_modes": ["", "N", "D"]}}],
        }],
        "dq_specs": dq_specs,
        "output_specs": outputs,
    }


def _cdc_load(spark, root, table, batch, dq, **kw):
    """Run :func:`_cdc_acon`'s load. Returns the DQ error's message (or
    None), the target's rows, the DQ result rows without the run's name and
    time, and whether a staged dir was left beside the table."""
    from lakehouse_engine_spark.io.merge_writer import catalog_location

    error = None
    try:
        load_data(_cdc_acon(spark, root, table, batch, dq, **kw))
    except DQValidationsFailedException as exc:
        error = str(exc)
    target = (
        sorted((tuple(r) for r in spark.table(table).collect()), key=str)
        if spark.catalog.tableExists(table) else None
    )
    dropped = ("run_name", "run_time", "run_time_year", "run_time_month", "run_time_day")
    results = sorted(
        (r.asDict() for r in spark.read.parquet(os.path.join(root, "dq_results"))
         .drop(*dropped).collect()), key=str
    )
    location = catalog_location(spark, table)[1] or f"file:{root}/none"
    staged = os.path.exists(location.replace("file:", "", 1).rstrip("/") + "__staging")
    return error, target, results, staged


def _load_both_ways(spark, tmp_dir, monkeypatch, case, batch, dq, **kw):
    """``{path: (error, target, results, staged, suite passes)}`` of the same
    load on the pre-write path (observation switched off) and the observed
    path. ``suite passes`` counts the suite's own aggregate passes."""
    real = vars(DQFactory)["_suite_stats"].__func__
    out = {}
    db = f"dq_observed_{case}"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    spark.sql(f"CREATE DATABASE {db} LOCATION '{os.path.join(tmp_dir, 'warehouse')}'")
    for path in ("pre_write", "observed"):
        passes = []

        def spy(cls, df, suite):
            passes.append(1)
            return real(cls, df, suite)

        with monkeypatch.context() as m:
            m.setattr(DQFactory, "_suite_stats", classmethod(spy))
            if path == "pre_write":
                m.setattr(DQFactory, "observable", classmethod(lambda cls, spec: False))
            root = os.path.join(tmp_dir, path)
            out[path] = _cdc_load(spark, root, f"{db}.{path}", batch, dq, **kw) + (len(passes),)
    spark.sql(f"DROP DATABASE {db} CASCADE")
    return out


def _element_counts(results):
    return {r["element_count"] for r in results}


_PASSING = {"dq_functions": [_IN_SET, _UNIQUE_KEY,
                             ("expect_column_values_to_be_between",
                              {"column": "change_seq", "min_value": 1, "max_value": 10})]}


@pytest.mark.parametrize(
    "case, dq, fails",
    [
        ("pass", _PASSING, False),
        ("critical", {"dq_functions": [_IN_SET, _UNIQUE_KEY],
                      "critical_functions": [_KEY_NOT_NULL]}, True),
        ("max_pct", {"dq_functions": [_KEY_NOT_NULL, _UNIQUE_KEY, _IN_SET],
                     "max_percentage_failure": 20.0}, True),
        # quantity 60 is out of range, and the condensed change_seq values
        # repeat: the window of that uniqueness check is not the condense's
        ("no_fail", {"dq_functions": [
            ("expect_column_values_to_be_between",
             {"column": "qty", "min_value": 1, "max_value": 50}),
            ("expect_column_values_to_be_unique", {"column": "change_seq"})],
            "fail_on_error": False}, False),
    ],
)
def test_observed_suite_matches_the_pre_write_pass(spark, tmp_dir, monkeypatch, case, dq, fails):
    """The suite observed during the staged merge gives the DQ result rows
    and the target of the pre-write pass; a refused suite leaves the target
    as it was and no staged dir. The observed path runs no pass of its own,
    and its element count is the condensed batch's row count."""
    out = _load_both_ways(spark, tmp_dir, monkeypatch, case, _CDC_BATCH, dq)
    pre, obs = out["pre_write"], out["observed"]
    assert (pre[0] is None, obs[0] is None) == (not fails, not fails)
    assert obs[1:3] == pre[1:3] and obs[2]
    if fails:
        assert obs[1] == sorted(_CDC_TARGET, key=str)
    else:
        assert obs[1] != sorted(_CDC_TARGET, key=str)
    assert not obs[3] and not pre[3]
    assert (pre[4], obs[4]) == (1, 0)
    assert _element_counts(obs[2]) == {_CDC_CONDENSED_ROWS}


def _assert_all_excluded_batch(spark, tmp_dir, monkeypatch, case, dq, passes):
    """Every key's newest image is excluded, so the merge's source is
    empty: both paths leave the target as it was and report 0 elements,
    the observed one after ``passes`` passes of the suite's own."""
    batch = [(k, 2, "X", 5) for k in range(4)]
    out = _load_both_ways(spark, tmp_dir, monkeypatch, case, batch, dq)
    pre, obs = out["pre_write"], out["observed"]
    assert pre[:4] == obs[:4]
    assert obs[0] is None and obs[1] == sorted(_CDC_TARGET, key=str) and not obs[3]
    assert (pre[4], obs[4]) == (1, passes)
    assert _element_counts(obs[2]) == {0}


def test_observed_suite_on_an_all_excluded_batch(spark, tmp_dir, monkeypatch):
    """Unique on the condensed key, the observed rows feed the merge join
    with no shuffle between, so the empty source is seen in the join's own
    stage and the observation arrives: the decision reads it."""
    _assert_all_excluded_batch(spark, tmp_dir, monkeypatch, "excluded", _PASSING, 0)


def test_pruned_observation_runs_the_suites_own_pass(spark, tmp_dir, monkeypatch):
    """Unique on a column the condense does not partition by, the observed
    rows sit below the merge's shuffle on the merge key: adaptive execution
    drops that empty stage from the final plan, its observation with it,
    and the decision runs the suite's own pass."""
    dq = {"dq_functions": [_IN_SET, ("expect_column_values_to_be_unique",
                                     {"column": "change_seq"})]}
    _assert_all_excluded_batch(spark, tmp_dir, monkeypatch, "pruned", dq, 1)


@pytest.mark.parametrize("suite, fails", [(_PASSING, False),
                                          ({"critical_functions": [_KEY_NOT_NULL]}, True)])
def test_observed_suite_on_the_first_load_of_a_catalog_table(
    spark, tmp_dir, monkeypatch, suite, fails
):
    """A missing catalog table is created by ``saveAsTable``, unstaged: the
    suite is decided by its own pass before the table is created."""
    case = f"first_{int(fails)}"
    out = _load_both_ways(spark, tmp_dir, monkeypatch, case, _CDC_BATCH, suite, create=False)
    pre, obs = out["pre_write"], out["observed"]
    assert pre[:4] == obs[:4] and (obs[0] is not None) == fails
    assert (obs[1] is None) == fails
    assert (pre[4], obs[4]) == (1, 1)
    assert _element_counts(obs[2]) == {_CDC_CONDENSED_ROWS}


def test_suite_feeding_a_later_output_runs_before_the_writes(spark, tmp_dir, monkeypatch):
    """When the merge is not the ACON's first output spec, the suite keeps
    its pre-write pass: a failing suite stops the earlier write too."""
    dq = {"critical_functions": [_KEY_NOT_NULL]}
    out = _load_both_ways(spark, tmp_dir, monkeypatch, "later", _CDC_BATCH, dq, first_output=True)
    pre, obs = out["pre_write"], out["observed"]
    assert pre[:4] == obs[:4] and obs[0] is not None
    assert (pre[4], obs[4]) == (1, 1)


# jobs of the CDC-shaped load below: the batch read's parquet schema job and
# the merge's own 3; a suite pass of its own before the merge fired 3 more
CDC_LOAD_JOBS = 4


def test_observed_suite_adds_no_job_to_the_merge(spark, tmp_dir):
    """The suite with uniqueness rides the merge: the load fires exactly the
    jobs of the same load with no suite."""
    db = "dq_observed_jobs"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    spark.sql(f"CREATE DATABASE {db} LOCATION '{os.path.join(tmp_dir, 'warehouse')}'")
    jobs = {}
    # the result sink's append is a job of its own: the suite writes its
    # file-store artifact instead, as perfbench's cdc_merge does
    suite = {**_PASSING, "result_sink_location": None, "store_backend": "file_system",
             "local_fs_root_dir": os.path.join(tmp_dir, "dq_store")}
    for name, dq in (("suite", suite), ("bare", None)):
        acon = _cdc_acon(spark, os.path.join(tmp_dir, name), f"{db}.{name}", _CDC_BATCH, dq)
        jobs[name] = spark_jobs(spark, lambda: load_data(acon))
    spark.sql(f"DROP DATABASE {db} CASCADE")
    assert jobs == {"suite": CDC_LOAD_JOBS, "bare": CDC_LOAD_JOBS}


def _analyzed_cdc_load(spark, root, table):
    """:func:`_cdc_acon`'s load without a suite, closed by an
    ``optimize_dataset`` terminator."""
    return {**_cdc_acon(spark, root, table, _CDC_BATCH, None), "terminate_specs": [
        {"function": "optimize_dataset", "args": {"db_table": table, "vacuum": False}}]}


def test_analyze_after_the_merge_adds_no_job(spark, tmp_dir):
    """The merge leaves exact statistics, so the load's ANALYZE terminator
    runs no count scan: the load fires exactly ``CDC_LOAD_JOBS`` jobs."""
    db = "dq_analyzed_jobs"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    spark.sql(f"CREATE DATABASE {db} LOCATION '{os.path.join(tmp_dir, 'warehouse')}'")
    try:
        acon = _analyzed_cdc_load(spark, tmp_dir, f"{db}.silver")
        assert spark_jobs(spark, lambda: load_data(acon)) == CDC_LOAD_JOBS
        assert_exact_statistics(spark, f"{db}.silver")
    finally:
        spark.sql(f"DROP DATABASE {db} CASCADE")


def test_table_changed_outside_the_engine_is_recounted(spark, tmp_dir):
    """A plain Spark INSERT after the merge leaves statistics the merge did
    not record: the terminator runs the full ANALYZE (its count jobs) and
    the table ends with the statistics a full ANALYZE gives."""
    from lakehouse_engine_spark.terminators.terminator_factory import optimize_dataset

    db = "dq_recounted"
    table = f"{db}.silver"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    spark.sql(f"CREATE DATABASE {db} LOCATION '{os.path.join(tmp_dir, 'warehouse')}'")
    try:
        load_data(_analyzed_cdc_load(spark, tmp_dir, table))
        spark.sql(f"INSERT INTO {table} VALUES (100, 1, 1)")
        assert spark_jobs(spark, lambda: optimize_dataset(spark, db_table=table)) > 0
        assert_exact_statistics(spark, table)
    finally:
        spark.sql(f"DROP DATABASE {db} CASCADE")


@pytest.mark.parametrize("fallback", ["absent", "refused"])
def test_statistics_fall_back_to_cleared(spark, tmp_dir, monkeypatch, fallback):
    """With no row count observed, or the catalog API refusing the new
    statistics, the merge clears them as Spark's own overwrite does and
    records nothing; the terminator then runs the full ANALYZE and the
    table gets the statistics of a load that observed its rows."""
    from py4j.protocol import Py4JError

    from lakehouse_engine_spark.io import merge_writer
    from lakehouse_engine_spark.terminators.terminator_factory import optimize_dataset

    db = f"dq_fallback_{fallback}"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    spark.sql(f"CREATE DATABASE {db} LOCATION '{os.path.join(tmp_dir, 'warehouse')}'")
    try:
        stats = {}
        for name in ("observed", fallback):
            table = f"{db}.{name}"
            with monkeypatch.context() as m:
                if name == "absent":
                    m.setattr(merge_writer, "observed_row", lambda observation: None)
                elif name == "refused":
                    def refuse(*args):
                        raise Py4JError("refused")

                    m.setattr(merge_writer, "_with_row_count", refuse)
                load_data(_cdc_acon(spark, os.path.join(tmp_dir, name), table, _CDC_BATCH, None))
            after_load = table_statistics(spark, table)
            jobs = spark_jobs(spark, lambda: optimize_dataset(spark, db_table=table))
            stats[name] = after_load, jobs > 0, table_statistics(spark, table)
            assert_exact_statistics(spark, table)
        assert f"spark_catalog.{db}.{fallback}" not in merge_writer._REWRITE_STATS
        assert stats[fallback][:2] == (None, True)
        assert stats["observed"][1:] == (False, stats["observed"][0])
        rows = {s[2].rsplit(", ", 1)[1] for s in stats.values()}
        assert len(rows) == 1
    finally:
        spark.sql(f"DROP DATABASE {db} CASCADE")


@pytest.mark.parametrize("fails", [False, True])
def test_cache_df_is_released(spark, tmp_dir, fails):
    """``cache_df`` caches the suite's input only while the suite (and, in
    ``load_data``, the writes after it) run: no cache entry is left, on
    success or failure; a frame the caller cached stays cached."""
    src = os.path.join(tmp_dir, "src")
    spark.createDataFrame([(1, "x"), (2, None)], "id INT, v STRING").write.parquet(src)
    dq = {"spec_id": "dq", "input_id": "in", "cache_df": True, "dq_functions": [
        {"function": "expect_column_values_to_not_be_null", "args": {"column": "v" if fails else "id"}}
    ]}
    read = {"spec_id": "in", "data_format": "parquet", "location": src}
    outcome = (
        (lambda: pytest.raises(DQValidationsFailedException)) if fails else contextlib.nullcontext
    )
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    out = os.path.join(tmp_dir, "out")
    for run_it in (
        lambda: load_data({"input_specs": [read], "dq_specs": [dq], "output_specs": [
            {"spec_id": "o", "input_id": "dq", "data_format": "parquet", "location": out}]}),
        lambda: execute_dq_validation({"input_spec": read, "dq_spec": dq}),
    ):
        with outcome():
            run_it()
        assert cache.isEmpty()
    assert os.path.exists(out) != fails
    caller = spark.read.parquet(src).cache()
    with outcome():
        execute_dq_validation({"input_spec": read, "dq_spec": dq})
    assert caller.storageLevel.useMemory
    caller.unpersist()
