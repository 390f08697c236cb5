"""Heartbeat — control-table-driven fleet of sensors + job triggering.

Reference parity: ``algorithms/sensors/heartbeat.py:42-832``. A heartbeat
control table holds one row per (sensor_source, sensor_id, trigger_job_id):
which upstream to watch, which downstream job to trigger, dependency flags,
and run-state timestamps. ``execute()`` runs a Sensor per active row and
marks rows with fresh upstream data NEW_EVENT_AVAILABLE;
``trigger_jobs()`` resolves cross-sensor dependencies and calls a job
runner for each satisfied job, marking it IN_PROGRESS; completion flows
back via :meth:`Heartbeat.update_completion_status`.

Spark-first notes:

* the control table is tiny (O(#sensors)) — all status transitions are
  single-shuffle DataFrame ops + a keyed merge through
  :func:`lakehouse_engine_spark.io.merge_writer.merge` (Delta MERGE when
  available, join-rewrite on parquet);
* the reference triggers Databricks Jobs over REST
  (``core/sensor_manager.py:416-451``); that transport isn't portable, so
  the job runner is an injectable callable (``job_runner(job_id) ->
  (run_id, error)``) with a no-op default — the dependency-resolution and
  state-machine semantics are fully implemented and tested.
"""

from __future__ import annotations

import re
from typing import Callable, List, Optional, Tuple

from pyspark.sql import DataFrame, Row, Window
from pyspark.sql import functions as F

from lakehouse_engine_spark.core.definitions import (
    HeartbeatConfigSpec,
    HeartbeatStatus,
    MergeOptions,
)
from lakehouse_engine_spark.core.exec_env import ExecEnv
from lakehouse_engine_spark.io import merge_writer

HEARTBEAT_MERGE_PREDICATE = (
    "current.sensor_source = new.sensor_source AND "
    "current.sensor_id = new.sensor_id AND "
    "current.trigger_job_id = new.trigger_job_id"
)

JobRunner = Callable[[str], Tuple[Optional[str], Optional[Exception]]]


def _noop_job_runner(job_id: str) -> Tuple[Optional[str], Optional[Exception]]:
    """Default runner: pretend-trigger (the reference calls the Databricks
    jobs REST API here, ``core/sensor_manager.py:416-451``)."""
    return f"run-{job_id}", None


def unique_sensor_id(main: str, suffix) -> str:
    """Append the trigger job id; sanitize chars unsafe in checkpoint paths
    (reference ``heartbeat.py:114-128``)."""
    return f"{re.sub(r'[ :.]', '_', str(main))}_{suffix}"


class Heartbeat:
    """Heartbeat sensor fleet (reference ``heartbeat.py:42-832``)."""

    def __init__(self, acon: dict, job_runner: Optional[JobRunner] = None):
        self.spec = HeartbeatConfigSpec(
            sensor_source=acon["sensor_source"],
            data_format=acon["data_format"],
            heartbeat_sensor_db_table=acon["heartbeat_sensor_db_table"],
            lakehouse_engine_sensor_db_table=acon["lakehouse_engine_sensor_db_table"],
            options=acon.get("options") or {},
            jdbc_db_table=acon.get("jdbc_db_table"),
            base_checkpoint_location=acon.get("base_checkpoint_location"),
            base_trigger_file_location=acon.get("base_trigger_file_location"),
            schema_dict=acon.get("schema_dict"),
        )
        self.spark = ExecEnv.get_or_create()
        self.job_runner = job_runner or _noop_job_runner

    # ------------------------------------------------------------- sensing
    def _control_df(self) -> DataFrame:
        # refresh-at-read: the control table is rewritten by saveAsTable
        # overwrite between calls (the parquet fallback is not
        # transactional like the reference's Delta), and long-lived
        # sessions can otherwise resolve deleted part files from cached
        # listings (Spark's KD001 remedy). Control-plane table — the
        # refresh is a metadata no-op in the common case.
        self.spark.sql(
            f"REFRESH TABLE {self.spec.heartbeat_sensor_db_table}"
        )
        return self.spark.read.table(self.spec.heartbeat_sensor_db_table)

    def _active_jobs(self) -> DataFrame:
        """UNPAUSED rows with NULL/COMPLETED status for this source
        (reference ``heartbeat.py:91-112``)."""
        return self._control_df().filter(
            (F.lower(F.col("sensor_source")) == self.spec.sensor_source.lower())
            & (F.col("job_state") == "UNPAUSED")
            & (F.col("status").isNull() | (F.col("status") == HeartbeatStatus.COMPLETED.value))
        )

    def _sensor_acon(self, row: Row) -> dict:
        """Per-row sensor ACON (reference ``heartbeat.py:129-271``)."""
        sensor_id = unique_sensor_id(row["sensor_id"], row["trigger_job_id"])
        location = None
        db_table = None
        if self.spec.base_trigger_file_location:
            location = (
                self.spec.base_trigger_file_location.rstrip("/") + "/" + row["sensor_id"]
            )
        elif self.spec.data_format in ("delta", "parquet") and "/" in str(row["sensor_id"]):
            location = row["sensor_id"]
        elif self.spec.data_format == "jdbc":
            db_table = self.spec.jdbc_db_table or row["sensor_id"]
        else:
            db_table = row["sensor_id"]
        input_spec = {
            "spec_id": "sensor_upstream",
            "read_type": row["sensor_read_type"] or "batch",
            "data_format": self.spec.data_format,
            "db_table": db_table,
            "location": location,
            "options": dict(self.spec.options),
            "schema": self.spec.schema_dict,
        }
        return {
            "sensor_id": sensor_id,
            "assets": [unique_sensor_id(row["asset_description"], row["trigger_job_id"])],
            "control_db_table_name": self.spec.lakehouse_engine_sensor_db_table,
            "input_spec": input_spec,
            "preprocess_query": row["preprocess_query"],
            "base_checkpoint_location": self.spec.base_checkpoint_location,
            "fail_on_empty_result": False,
        }

    def execute(self) -> List[str]:
        """Run each active sensor; mark new-data rows NEW_EVENT_AVAILABLE.

        Returns the sensor_ids that acquired new data (reference
        ``heartbeat.py:55-89, 340-443``).
        """
        from lakehouse_engine_spark.algorithms.sensor import Sensor

        active = self._active_jobs()
        rows = active.collect()
        with_new_data: List[Row] = []
        for row in rows:
            if Sensor(self._sensor_acon(row)).execute():
                with_new_data.append(row)
        if with_new_data:
            updates = (
                self.spark.createDataFrame(with_new_data, active.schema)
                .withColumn("status", F.lit(HeartbeatStatus.NEW_EVENT_AVAILABLE.value))
                .withColumn("status_change_timestamp", F.current_timestamp())
                .withColumn("latest_event_fetched_timestamp", F.current_timestamp())
            )
            self._merge_control(updates)
        return [r["sensor_id"] for r in with_new_data]

    # ------------------------------------------------------------ triggering
    def jobs_to_trigger(self) -> List[str]:
        """Jobs whose dependencies are all satisfied.

        Reference ``heartbeat.py:447-546``: a job with dependency rows
        (dependency_flag=TRUE) fires only when every dependent row shares a
        single status (all NEW_EVENT_AVAILABLE); independent jobs fire on
        their own row's NEW_EVENT_AVAILABLE.
        """
        control = self._control_df().filter(
            (F.lower(F.col("sensor_source")) == self.spec.sensor_source.lower())
            & (F.col("job_state") == "UNPAUSED")
        )
        new_events = (
            control.filter(F.col("status") == HeartbeatStatus.NEW_EVENT_AVAILABLE.value)
            .select("trigger_job_id")
            .distinct()
        )
        full = (
            self._control_df()
            .select(
                "trigger_job_id",
                "status",
                F.trim(F.upper(F.col("dependency_flag"))).alias("dependency_flag"),
            )
            .distinct()
        )
        candidates = full.join(F.broadcast(new_events), "trigger_job_id")

        dep = candidates.filter(F.col("dependency_flag") == "TRUE")
        # >1 distinct status among dependency rows of a job ⇒ unsatisfied
        unsatisfied = (
            dep.groupBy("trigger_job_id").agg(F.count("*").alias("n")).filter("n > 1")
        )
        dep_ok = (
            dep.join(unsatisfied, "trigger_job_id", "left_anti")
            .select("trigger_job_id")
            .distinct()
        )
        independent = (
            candidates.filter(
                (F.col("dependency_flag") != "TRUE")
                & (F.col("status") == HeartbeatStatus.NEW_EVENT_AVAILABLE.value)
            )
            .join(dep.select("trigger_job_id").distinct(), "trigger_job_id", "left_anti")
            .select("trigger_job_id")
            .distinct()
        )
        return [r["trigger_job_id"] for r in dep_ok.unionByName(independent).collect()]

    def _anchor_record(self, job_id: str) -> DataFrame:
        """Latest-status row of a job, restricted to this source — the single
        row allowed to fire the trigger (reference ``heartbeat.py:546-586``)."""
        w = Window.partitionBy("trigger_job_id").orderBy(
            F.col("status_change_timestamp").desc(), F.col("sensor_id").asc()
        )
        return (
            self._control_df()
            .filter(F.col("trigger_job_id") == job_id)
            .withColumn("row_no", F.row_number().over(w))
            .filter(
                (F.col("row_no") == 1)
                & (F.lower(F.col("sensor_source")) == self.spec.sensor_source.lower())
            )
            .drop("row_no")
        )

    def trigger_jobs(self) -> List[str]:
        """Fire satisfied jobs via the job runner; mark rows IN_PROGRESS
        (reference ``heartbeat.py:587-645``). Returns triggered job ids."""
        triggered: List[str] = []
        for job_id in self.jobs_to_trigger():
            if not self._anchor_record(job_id).take(1):
                continue
            run_id, error = self.job_runner(job_id)
            if error is None and run_id is not None:
                updates = (
                    self._control_df()
                    .filter(F.col("trigger_job_id") == job_id)
                    .withColumn("status", F.lit(HeartbeatStatus.IN_PROGRESS.value))
                    .withColumn("status_change_timestamp", F.current_timestamp())
                    .withColumn("job_start_timestamp", F.current_timestamp())
                )
                self._merge_control(updates)
                triggered.append(job_id)
        return triggered

    # ------------------------------------------------------------ completion
    def update_completion_status(self, job_id: str) -> None:
        """COMPLETED + job_end_timestamp on the heartbeat rows; mark the
        corresponding engine sensors PROCESSED_NEW_DATA (reference
        ``heartbeat.py:748-832``)."""
        from lakehouse_engine_spark.algorithms.sensor import update_sensor_status
        from lakehouse_engine_spark.core.definitions import SensorStatus

        rows = (
            self._control_df().filter(F.col("trigger_job_id") == job_id).collect()
        )
        for row in rows:
            update_sensor_status(
                sensor_id=unique_sensor_id(row["sensor_id"], row["trigger_job_id"]),
                control_db_table_name=self.spec.lakehouse_engine_sensor_db_table,
                status=SensorStatus.PROCESSED_NEW_DATA.value,
            )
        updates = (
            self._control_df()
            .filter(F.col("trigger_job_id") == job_id)
            .withColumn("status", F.lit(HeartbeatStatus.COMPLETED.value))
            .withColumn("status_change_timestamp", F.current_timestamp())
            .withColumn("job_end_timestamp", F.current_timestamp())
        )
        self._merge_control(updates)

    # ------------------------------------------------- table-name entrypoints
    @classmethod
    def _for_tables(cls, control_table: str, sensor_table: str = "") -> "Heartbeat":
        """Minimal instance bound to the two control tables only — the
        table-name-driven public entry points (reference ``engine.py:284-324``)
        don't carry a full heartbeat ACON."""
        return cls(
            {
                "sensor_source": "",
                "data_format": "delta",
                "heartbeat_sensor_db_table": control_table,
                "lakehouse_engine_sensor_db_table": sensor_table,
            }
        )

    @classmethod
    def heartbeat_sensor_control_table_data_feed(
        cls, csv_path: str, control_table: str
    ) -> None:
        """Upsert control-table rows from a CSV feed
        (reference ``heartbeat.py:646-747`` via ``engine.py:284-300``)."""
        cls._for_tables(control_table).data_feed(csv_path)

    @classmethod
    def update_heartbeat_sensor_completion_status(
        cls, control_table: str, sensor_table: str, job_id: str
    ) -> None:
        """COMPLETED on heartbeat rows + PROCESSED_NEW_DATA on engine sensors
        for ``job_id`` (reference ``heartbeat.py:748-832`` via
        ``engine.py:303-323``)."""
        cls._for_tables(control_table, sensor_table).update_completion_status(job_id)

    # ------------------------------------------------------------- data feed
    def data_feed(self, csv_path: str) -> None:
        """Upsert control-table rows from a CSV feed (reference
        ``heartbeat.py:646-747``)."""
        feed = self.spark.read.option("header", True).csv(csv_path)
        target_schema = self._control_df().schema
        cast_cols = [
            F.col(f.name).cast(f.dataType).alias(f.name)
            if f.name in feed.columns
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in target_schema.fields
        ]
        self._merge_control(feed.select(*cast_cols))

    def _merge_control(self, updates: DataFrame) -> None:
        merge_writer.merge(
            self.spark,
            updates,
            MergeOptions(merge_predicate=HEARTBEAT_MERGE_PREDICATE),
            location=None,
            db_table=self.spec.heartbeat_sensor_db_table,
            data_format=ExecEnv.default_output_format(),
        )
