"""Reconciliator, Sensor, managers — the driver-side composite algorithms."""

from __future__ import annotations

import os
import re

import pytest

from lakehouse_engine_spark import (
    execute_reconciliation,
    execute_sensor,
    manage_files,
    manage_table,
)
from lakehouse_engine_spark.algorithms.reconciliator import EMPTY_DF_MSG
from lakehouse_engine_spark.algorithms.sensor import update_sensor_status
from lakehouse_engine_spark.core.definitions import (
    NoNewDataException,
    ReconciliationFailedException,
)
from lakehouse_engine_spark.utils.sql_parser import split_sql_statements


# ----------------------------------------------------------- reconciliator
@pytest.fixture()
def truth_current(spark, tmp_dir):
    truth = os.path.join(tmp_dir, "truth")
    spark.createDataFrame(
        [("a", 100.0), ("b", 200.0), ("c", 300.0)], "k STRING, amount DOUBLE"
    ).write.parquet(truth)
    return truth


def _recon(truth, current_df, metrics, **kw):
    return execute_reconciliation(
        {
            "truth_input_spec": {"spec_id": "t", "data_format": "parquet", "location": truth},
            "current_input_spec": {"spec_id": "c", "data_format": "dataframe", "df_name": current_df},
            "metrics": metrics,
            **kw,
        }
    )


def test_reconciliation_green(spark, truth_current):
    current = spark.read.parquet(truth_current)
    status = _recon(
        truth_current,
        current,
        [{"metric": "amount", "type": "percentage", "aggregation": "avg", "yellow": 0.01, "red": 0.1}],
    )
    assert status["overall"] == "green"
    # reference result naming: {metric}_{type}_diff_{aggregation}
    assert status["metrics"]["amount_percentage_diff_avg"] == 0.0


def test_reconciliation_redlines(spark, truth_current):
    perturbed = spark.read.parquet(truth_current).selectExpr("k", "amount * 2 AS amount")
    with pytest.raises(ReconciliationFailedException):
        _recon(
            truth_current,
            perturbed,
            [{"metric": "amount", "type": "percentage", "aggregation": "avg", "yellow": 0.01, "red": 0.5}],
        )


def test_reconciliation_abs_type(spark, truth_current):
    shifted = spark.read.parquet(truth_current).selectExpr("k", "amount + 1 AS amount")
    with pytest.raises(ReconciliationFailedException):
        _recon(
            truth_current,
            shifted,
            [{"metric": "amount", "type": "abs", "aggregation": "max", "yellow": 0.5, "red": 2.0}],
        )


def test_reconciliation_preprocess_query(spark, truth_current):
    current = spark.read.parquet(truth_current)
    status = _recon(
        truth_current,
        current,
        [{"metric": "amount", "type": "percentage", "aggregation": "avg", "yellow": 0.5, "red": 0.9}],
        truth_preprocess_query="SELECT k, amount FROM truth WHERE k <> 'c'",
        current_preprocess_query="SELECT k, amount FROM current WHERE k <> 'c'",
    )
    assert status["overall"] == "green"


AMOUNT_PCT_AVG = {"metric": "amount", "type": "percentage", "aggregation": "avg",
                  "yellow": 0.01, "red": 0.1}


@pytest.mark.parametrize(
    "truth_empty, current_empty, ignore_empty_df",
    [(True, False, False), (False, True, False), (True, True, False),
     (True, False, True), (False, True, True)],
)
def test_reconciliation_empty_side_fails(spark, truth_current, tmp_dir,
                                         truth_empty, current_empty, ignore_empty_df):
    """Either side empty fails with the reference's message, unless both
    are and ``ignore_empty_df`` is set."""
    empty = os.path.join(tmp_dir, "empty")
    spark.read.parquet(truth_current).limit(0).write.parquet(empty)
    current = spark.read.parquet(empty if current_empty else truth_current)
    with pytest.raises(ReconciliationFailedException, match=re.escape(EMPTY_DF_MSG)):
        _recon(empty if truth_empty else truth_current, current, [AMOUNT_PCT_AVG],
               ignore_empty_df=ignore_empty_df)


def test_reconciliation_both_empty_ignored(spark, truth_current, tmp_dir):
    empty = os.path.join(tmp_dir, "empty")
    spark.read.parquet(truth_current).limit(0).write.parquet(empty)
    status = _recon(empty, spark.read.parquet(empty), [AMOUNT_PCT_AVG], ignore_empty_df=True)
    assert status == {"overall": "green", "metrics": {}, "ignored_empty": True}


def test_reconciliation_schemaless_empty_side_fails(spark, truth_current, tmp_dir):
    """An empty JSON file infers no columns, so the diff aggregate cannot be
    planned; the emptiness decision still comes first."""
    empty = os.path.join(tmp_dir, "empty.json")
    with open(empty, "w") as f:
        f.write("[]")
    with pytest.raises(ReconciliationFailedException, match=re.escape(EMPTY_DF_MSG)):
        execute_reconciliation({
            "truth_input_spec": {"spec_id": "t", "data_format": "json",
                                 "options": {"multiline": "true"}, "location": empty},
            "current_input_spec": {"spec_id": "c", "data_format": "dataframe",
                                   "df_name": spark.read.parquet(truth_current)},
            "metrics": [AMOUNT_PCT_AVG],
        })


def test_reconciliation_metrics_sharing_a_column(spark, truth_current):
    """Two metrics on one column project it once and report one diff each;
    the row counts that guard emptiness are not among them."""
    shifted = spark.read.parquet(truth_current).selectExpr("k", "amount + 1 AS amount")
    status = _recon(
        truth_current,
        shifted,
        [AMOUNT_PCT_AVG | {"yellow": 0.5, "red": 0.9},
         {"metric": "amount", "type": "absolute", "aggregation": "sum", "yellow": 4.0, "red": 5.0}],
    )
    assert status["metrics"] == {
        "amount_percentage_diff_avg": pytest.approx((1 / 100 + 1 / 200 + 1 / 300) / 3),
        "amount_absolute_diff_sum": 3.0,
    }


# jobs a reconciliation of the fixture fires: the truth read's parquet
# schema inference, then the one aggregate, whose join shuffles and final
# stage adaptive execution runs as 3 jobs. Probing each side for emptiness
# and caching both sides by default fired 9
RECON_JOBS = 4


def test_reconciliation_reads_each_side_once(spark, truth_current):
    sc = spark.sparkContext
    current = spark.read.parquet(truth_current)
    sc.setJobGroup("recon_jobs", "one reconciliation")
    try:
        _recon(truth_current, current, [AMOUNT_PCT_AVG])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup("recon_jobs")) == RECON_JOBS


def test_reconciliation_leaves_no_cache_and_no_views(spark, truth_current):
    """An explicit persist is released once the aggregate ran, a frame the
    caller had cached stays cached, and the preprocess queries' temp views
    are dropped."""
    spark.catalog.clearCache()
    current = spark.read.parquet(truth_current).cache()
    status = _recon(
        truth_current,
        current,
        [AMOUNT_PCT_AVG],
        truth_preprocess_query="SELECT k, amount FROM truth WHERE k <> 'z'",
        truth_preprocess_query_args=[{"function": "persist",
                                      "args": {"storage_level": "MEMORY_AND_DISK"}}],
        current_preprocess_query="SELECT k, amount FROM current",
        current_preprocess_query_args=[{"function": "cache"}],
    )
    assert status["overall"] == "green"
    assert not spark.catalog.tableExists("truth")
    assert not spark.catalog.tableExists("current")
    assert current.storageLevel.useMemory
    current.unpersist()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


# ------------------------------------------------------------------ sensor
def test_sensor_acquires_then_no_new_data(spark, tmp_dir):
    upstream = os.path.join(tmp_dir, "upstream")
    control = os.path.join(tmp_dir, "control")
    ck_base = os.path.join(tmp_dir, "ck")
    spark.createDataFrame([(1,)], "id INT").coalesce(1).write.mode("append").parquet(upstream)

    acon = {
        "sensor_id": "s1",
        "assets": ["asset1"],
        "control_db_table_name": control,
        "input_spec": {
            "spec_id": "up",
            "data_format": "parquet",
            "location": upstream,
            "read_type": "streaming",
            "schema": {
                "type": "struct",
                "fields": [{"name": "id", "type": "integer", "nullable": True, "metadata": {}}],
            },
        },
        "base_checkpoint_location": ck_base,
    }
    assert execute_sensor(acon) is True
    state = spark.read.parquet(control).filter("sensor_id = 's1'").first()
    assert state["status"] == "ACQUIRED_NEW_DATA"

    # no new files → NoNewDataException
    with pytest.raises(NoNewDataException):
        execute_sensor(acon)

    # new file arrives → acquires again
    spark.createDataFrame([(2,)], "id INT").coalesce(1).write.mode("append").parquet(upstream)
    assert execute_sensor(acon) is True

    update_sensor_status("s1", control)
    state = spark.read.parquet(control).filter("sensor_id = 's1'").first()
    assert state["status"] == "PROCESSED_NEW_DATA"


def test_sensor_batch_with_preprocess(spark, tmp_dir):
    upstream = os.path.join(tmp_dir, "upstream")
    control = os.path.join(tmp_dir, "control")
    spark.createDataFrame([(1, "old"), (2, "new")], "id INT, tag STRING").write.parquet(upstream)
    acon = {
        "sensor_id": "s2",
        "assets": [],
        "control_db_table_name": control,
        "input_spec": {"spec_id": "up", "data_format": "parquet", "location": upstream},
        "preprocess_query": "SELECT * FROM sensor_new_data WHERE tag = 'new'",
        "fail_on_empty_result": False,
    }
    assert execute_sensor(acon) is True
    acon["preprocess_query"] = "SELECT * FROM sensor_new_data WHERE tag = 'absent'"
    assert execute_sensor(acon) is False


# ---------------------------------------------------------------- managers
def test_sql_parser_splits_respecting_quotes_and_comments():
    sql = """
    -- leading comment; with semicolon
    CREATE TABLE a (x INT); -- trailing
    INSERT INTO a VALUES (1) /* block; comment */;
    SELECT 'semi;colon literal' FROM a;
    """
    stmts = split_sql_statements(sql)
    assert len(stmts) == 3
    assert "semi;colon literal" in stmts[2]


def test_table_manager_lifecycle(spark, tmp_dir):
    manage_table(
        {
            "function": "execute_sql",
            "sql": (
                "CREATE TABLE tm_test (id INT, v STRING) USING PARQUET "
                "TBLPROPERTIES ('lakehouse.primary_key' = 'id');"
                "INSERT INTO tm_test VALUES (1, 'a'), (2, 'b');"
            ),
        }
    )
    try:
        assert manage_table({"function": "get_tbl_pk", "table_or_view": "tm_test"}) == ["id"]
        desc = manage_table({"function": "describe", "table_or_view": "tm_test"})
        assert {r["col_name"] for r in desc.collect()} >= {"id", "v"}
        manage_table({"function": "compute_table_statistics", "table_or_view": "tm_test"})
        manage_table({"function": "truncate", "table_or_view": "tm_test"})
        assert spark.table("tm_test").count() == 0
    finally:
        manage_table({"function": "drop_table", "table_or_view": "tm_test"})
        assert not spark.catalog.tableExists("tm_test")


def test_file_manager_local_ops(tmp_dir):
    src = os.path.join(tmp_dir, "a.txt")
    with open(src, "w", encoding="utf-8") as fh:
        fh.write("data")
    manage_files(
        {"function": "copy_objects", "source": src, "destination": os.path.join(tmp_dir, "b.txt")}
    )
    assert os.path.exists(os.path.join(tmp_dir, "b.txt"))
    manage_files(
        {"function": "move_objects", "source": os.path.join(tmp_dir, "b.txt"),
         "destination": os.path.join(tmp_dir, "c.txt")}
    )
    assert not os.path.exists(os.path.join(tmp_dir, "b.txt"))
    manage_files({"function": "delete_objects", "bucket_or_path": tmp_dir, "object_paths": "c.txt"})
    assert not os.path.exists(os.path.join(tmp_dir, "c.txt"))


def test_sensor_corrupt_control_table_fails_loudly(spark, tmp_dir):
    """A corrupt control-table path must PROPAGATE, not read as an empty
    control table — presenting a transient read failure as 'no sensors
    ever fired' would re-trigger the whole fleet. Only a genuinely
    missing path means first run."""
    from lakehouse_engine_spark.algorithms.sensor import SensorControlTable

    control = os.path.join(tmp_dir, "control")
    os.makedirs(control)
    with open(os.path.join(control, "part-00000.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    table = SensorControlTable(spark, control)
    with pytest.raises(Exception) as exc:
        table.status_of("s1")
    assert "PATH_NOT_FOUND" not in str(exc.value)  # it exists — real error
    # and a genuinely missing path still reads as empty (first run)
    missing = SensorControlTable(spark, os.path.join(tmp_dir, "nope"))
    assert missing.status_of("s1") is None
