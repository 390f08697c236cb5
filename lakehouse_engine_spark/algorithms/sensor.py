"""Sensor — "has the upstream produced new data?" with a control table.

Reference parity: ``algorithms/sensors/sensor.py:44-164`` +
``core/sensor_manager.py:24-223``. A sensor reads its upstream (streaming
with a per-sensor checkpoint, so the checkpoint IS the dedup cursor, or batch
with an explicit filter), optionally preprocesses via SQL over the
``sensor_new_data`` view, tests presence with ``first()``, and upserts
ACQUIRED_NEW_DATA into a control table.

Control-table storage: the upsert is a merge on ``sensor_id`` through
:func:`lakehouse_engine_spark.io.merge_writer.merge` — a Delta MERGE when
available, the merge writer's locked rewrite otherwise (the table is
O(#sensors), so rewriting it is cheap at any scale).
"""

from __future__ import annotations

import datetime
from typing import Optional

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lakehouse_engine_spark.core.definitions import (
    MergeOptions,
    NoNewDataException,
    SensorSpec,
    SensorStatus,
)
from lakehouse_engine_spark.core.exec_env import ExecEnv
from lakehouse_engine_spark.io import merge_writer
from lakehouse_engine_spark.io.reader_factory import ReaderFactory
from lakehouse_engine_spark.utils.acon_utils import parse_input_spec
from lakehouse_engine_spark.utils.sql_parser import query_over

SENSOR_SCHEMA = T.StructType(
    [
        T.StructField("sensor_id", T.StringType(), False),
        T.StructField("assets", T.ArrayType(T.StringType())),
        T.StructField("status", T.StringType()),
        T.StructField("status_change_timestamp", T.TimestampType()),
        T.StructField("checkpoint_location", T.StringType()),
        T.StructField("upstream_key", T.StringType()),
        T.StructField("upstream_value", T.StringType()),
    ]
)


class SensorControlTable:
    """Upsert/read sensor state (reference ``core/sensor_manager.py:24-125``)."""

    def __init__(self, spark: SparkSession, name_or_location: str):
        self.spark = spark
        self.target = name_or_location
        self.is_path = "/" in name_or_location

    def _read(self) -> DataFrame:
        # Empty-on-missing via an explicit existence check — NOT a bare
        # except around the read: a transient read failure presented as
        # "no control table" would make every sensor look never-fired and
        # re-trigger the whole fleet. Real read errors propagate.
        if self.is_path:
            from lakehouse_engine_spark.utils.fs_utils import path_exists

            if not path_exists(self.spark, self.target):
                return self.spark.createDataFrame([], SENSOR_SCHEMA)
            return self.spark.read.format(ExecEnv.default_output_format()).load(self.target)
        if not self.spark.catalog.tableExists(self.target):
            return self.spark.createDataFrame([], SENSOR_SCHEMA)
        return self.spark.read.table(self.target)

    def status_of(self, sensor_id: str) -> Optional[Row]:
        return self._read().filter(F.col("sensor_id") == sensor_id).first()

    def upsert(self, spec: SensorSpec, status: str, upstream_key=None, upstream_value=None) -> None:
        """Reference merge-set semantics (core/definitions.py
        SENSOR_UPDATE_SET + _get_sensor_update_set): only sensor_id/status/
        status_change_timestamp always update; assets, checkpoint_location
        and upstream key/value update ONLY when provided — an existing row
        keeps its values otherwise (a status-only update must not wipe the
        sensor's identity fields). One merge with column sets, so the kept
        values are read inside the merge, under its writer lock."""
        now = datetime.datetime.now(datetime.timezone.utc)
        given = {
            "assets": list(spec.assets) if spec.assets else None,
            "checkpoint_location": spec.checkpoint_location,
            "upstream_key": None if upstream_key is None else str(upstream_key),
            "upstream_value": None if upstream_value is None else str(upstream_value),
        }
        # reference insert artifact (_convert_sensor_to_data applies str()
        # unconditionally): a brand-new row with no upstream stores the
        # literal "None" strings
        new_row = self.spark.createDataFrame(
            [
                (
                    spec.sensor_id,
                    given["assets"],
                    status,
                    now,
                    given["checkpoint_location"],
                    str(given["upstream_key"]),
                    str(given["upstream_value"]),
                )
            ],
            SENSOR_SCHEMA,
        )
        cols = SENSOR_SCHEMA.fieldNames()
        merge_writer.merge(
            self.spark,
            new_row,
            MergeOptions(
                merge_predicate="current.sensor_id = new.sensor_id",
                update_column_set={
                    c: f"new.{c}" for c in cols if c not in given or given[c] is not None
                },
                insert_column_set={c: f"new.{c}" for c in cols},
            ),
            location=self.target if self.is_path else None,
            db_table=None if self.is_path else self.target,
            data_format=ExecEnv.default_output_format(),
        )


class Sensor:
    """Executes a sensor ACON; returns True when new data was acquired."""

    def __init__(self, acon: dict):
        self.spark = ExecEnv.get_or_create(config=acon.get("exec_env"))
        self.spec = SensorSpec(
            sensor_id=acon["sensor_id"],
            assets=acon.get("assets", []),
            control_db_table_name=acon["control_db_table_name"],
            input_spec=parse_input_spec(acon["input_spec"]),
            preprocess_query=acon.get("preprocess_query"),
            checkpoint_location=acon.get("base_checkpoint_location")
            and f"{acon['base_checkpoint_location'].rstrip('/')}/sensors/{acon['sensor_id']}",
            fail_on_empty_result=acon.get("fail_on_empty_result", True),
        )
        self.control = SensorControlTable(self.spark, self.spec.control_db_table_name)

    def execute(self) -> bool:
        upstream = ReaderFactory.get_data(self.spark, self.spec.input_spec)
        has_new = (
            self._check_streaming(upstream)
            if upstream.isStreaming
            else self._check_batch(upstream)
        )
        if has_new:
            self.control.upsert(self.spec, SensorStatus.ACQUIRED_NEW_DATA.value)
        elif self.spec.fail_on_empty_result:
            raise NoNewDataException(f"Sensor {self.spec.sensor_id}: no new data")
        return has_new

    def _preprocess(self, df: DataFrame) -> DataFrame:
        if self.spec.preprocess_query:
            return query_over(df, "sensor_new_data", self.spec.preprocess_query)
        return df

    def _check_batch(self, df: DataFrame) -> bool:
        return self._preprocess(df).first() is not None

    def _check_streaming(self, df: DataFrame) -> bool:
        """availableNow + checkpoint: only unseen files/offsets surface, so the
        checkpoint acts as the new-data cursor (reference ``sensor.py:44-164``)."""
        found = {"new": False}

        def _probe(batch_df: DataFrame, _):
            if self._preprocess(batch_df).first() is not None:
                found["new"] = True

        writer = df.writeStream.trigger(availableNow=True).foreachBatch(_probe)
        if self.spec.checkpoint_location:
            writer = writer.option("checkpointLocation", self.spec.checkpoint_location)
        writer.start().awaitTermination()
        return found["new"]


def generate_filter_exp_query(
    sensor_id: str,
    filter_exp: str,
    control_db_table_name: Optional[str] = None,
    upstream_key: Optional[str] = None,
    upstream_value: Optional[str] = None,
    upstream_table_name: Optional[str] = None,
) -> str:
    """Generate a sensor preprocess query from a filter expression.

    Reference ``core/sensor_manager.py:232-304``: the ``?upstream_key`` /
    ``?upstream_value`` placeholders resolve to the control table's last
    recorded watermark for this sensor (default ``-2147483647`` on first
    run), and when a control table is given the query also projects
    ``UPSTREAM_KEY``/``UPSTREAM_VALUE`` so the sensor can persist the new
    cursor. The ``HAVING COUNT(1) > 0`` makes "no new data" an empty result.
    """
    source_table = upstream_table_name or "sensor_new_data"
    select_exp = "SELECT COUNT(1) as count"
    if control_db_table_name:
        if not upstream_key:
            raise ValueError(
                "If control_db_table_name is defined, upstream_key should "
                "also be defined!"
            )
        trigger_value = upstream_value if upstream_value is not None else "-2147483647"
        spark = ExecEnv.get_or_create()
        row = SensorControlTable(spark, control_db_table_name).status_of(sensor_id)
        if row is not None and row["upstream_value"]:
            trigger_value = row["upstream_value"]
        filter_exp = filter_exp.replace("?upstream_key", upstream_key).replace(
            "?upstream_value", str(trigger_value)
        )
        select_exp = (
            f"SELECT COUNT(1) as count, '{upstream_key}' as UPSTREAM_KEY, "
            f"max({upstream_key}) as UPSTREAM_VALUE"
        )
    return (
        f"{select_exp} "
        f"FROM {source_table} "
        f"WHERE {filter_exp} "
        f"HAVING COUNT(1) > 0"
    )


def generate_sensor_table_preprocess_query(sensor_id: str) -> str:
    """Query for a sensor whose upstream is another sensor's control table —
    CDF-style new-row detection (reference ``core/sensor_manager.py:306-328``)."""
    return (
        "SELECT * "
        "FROM sensor_new_data "
        "WHERE"
        " _change_type in ('insert', 'update_postimage')"
        f" and sensor_id = '{sensor_id}'"
        f" and status = '{SensorStatus.PROCESSED_NEW_DATA.value}'"
    )


def generate_sensor_sap_logchain_query(
    chain_id: str,
    dbtable: str = "SAPPHA.RSPCLOGCHAIN",
    status: str = "G",
    engine_table_name: str = "sensor_new_data",
) -> str:
    """CTE over the SAP BW process-chain log table, filtering finished (green)
    runs of one chain (reference ``core/sensor_manager.py:364-408``)."""
    if not chain_id:
        raise ValueError(
            "To query on log chain SAP table the chain id should be defined!"
        )
    select_exp = "SELECT CHAIN_ID, CONCAT(DATUM, ZEIT) AS LOAD_DATE, ANALYZED_STATUS"
    filter_exp = (
        f"UPPER(CHAIN_ID) = UPPER('{chain_id}') "
        f"AND UPPER(ANALYZED_STATUS) = UPPER('{status}')"
    )
    return (
        f"WITH {engine_table_name} AS ("
        f"{select_exp} "
        f"FROM {dbtable} "
        f"WHERE {filter_exp}"
        ")"
    )


def update_sensor_status(
    sensor_id: str,
    control_db_table_name: str,
    status: str = SensorStatus.PROCESSED_NEW_DATA.value,
    assets: Optional[list] = None,
) -> None:
    """Mark a sensor processed (reference ``engine.py:220-243``)."""
    spark = ExecEnv.get_or_create()
    control = SensorControlTable(spark, control_db_table_name)
    spec = SensorSpec(
        sensor_id=sensor_id,
        assets=assets,
        control_db_table_name=control_db_table_name,
        input_spec=None,  # type: ignore[arg-type] — status-only update
    )
    control.upsert(spec, status)
