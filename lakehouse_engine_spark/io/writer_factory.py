"""Writers — batch + streaming sinks dispatched by OutputSpec.

Reference parity: ``io/writer_factory.py:29-83`` + ``io/writers/*``:
table/file/console/dataframe/jdbc/kafka/noop/merge sinks; streaming trigger
matrix (availableNow default, once, processingTime, continuous); foreachBatch
execution of micro-batch transformers, DQ processors and merges.
"""

from __future__ import annotations

from typing import Callable, Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession

from lakehouse_engine_spark.core.definitions import (
    FILE_OUTPUT_FORMATS,
    OutputFormat,
    OutputSpec,
    WriteType,
    WrongArgumentsError,
)
from lakehouse_engine_spark.io import merge_writer

MicroBatchFn = Callable[[DataFrame, int], DataFrame]

# per-view checkpointed micro-batch frames for the streaming `dataframe`
# sink — lets the accumulated view be a flat union instead of a
# re-checkpointed snowball (see _write_streaming)
_STREAM_ACCUM: dict = {}


class WriterFactory:
    """Dispatch an OutputSpec to the right Spark sink."""

    @staticmethod
    def write(
        spark: SparkSession,
        df: DataFrame,
        spec: OutputSpec,
        micro_batch_fn: Optional[MicroBatchFn] = None,
    ) -> Optional[DataFrame]:
        """Write ``df``; returns a DataFrame only for the ``dataframe`` sink."""
        if df.isStreaming:
            return _write_streaming(spark, df, spec, micro_batch_fn)
        if micro_batch_fn is not None:
            df = micro_batch_fn(df, -1)
        return _write_batch(spark, df, spec)


def _write_batch(spark: SparkSession, df: DataFrame, spec: OutputSpec) -> Optional[DataFrame]:
    fmt, options = spec.data_format, dict(spec.options or {})
    if spec.write_type == WriteType.MERGE.value:
        if not spec.merge_opts:
            raise WrongArgumentsError(f"OutputSpec {spec.spec_id}: merge requires merge_opts")
        merge_writer.merge(spark, df, spec.merge_opts, spec.location, spec.db_table, fmt)
        return None
    if fmt == OutputFormat.CONSOLE.value:
        df.show(int(options.get("limit", 20)), truncate=options.get("truncate", True))
        return None
    if fmt == OutputFormat.DATAFRAME.value:
        return df
    if fmt == OutputFormat.NOOP.value:
        df.write.format("noop").mode("overwrite").save()
        return None
    if fmt == OutputFormat.REST_API.value:
        from lakehouse_engine_spark.io.rest_api_writer import write_rest_api

        write_rest_api(df, options)
        return None
    if fmt == OutputFormat.SHAREPOINT.value:
        from lakehouse_engine_spark.io.sharepoint import write_sharepoint

        write_sharepoint(df, spec)
        return None
    if fmt in (OutputFormat.KAFKA.value, OutputFormat.JDBC.value):
        df.write.format(_physical_format(fmt)).options(**options).mode(
            spec.write_type
        ).save()
        return None

    mode = spec.write_type
    if mode in (WriteType.COMPLETE.value, WriteType.UPDATE.value):
        mode = "overwrite"  # batch equivalents of streaming output modes
    writer = df.write.format(_physical_format(fmt)).mode(mode).options(**options)
    if spec.partitions:
        writer = writer.partitionBy(*spec.partitions)
    if spec.bucket_cols:
        # bucketBy pre-shuffles ONCE at write; subsequent joins/aggs on the
        # bucket key across bucketed tables run shuffle-free
        if not spec.db_table:
            raise WrongArgumentsError(
                f"OutputSpec {spec.spec_id}: bucketed writes need db_table "
                "(Spark bucketing is a catalog-table feature)"
            )
        writer = writer.bucketBy(int(spec.bucket_num or 8), *spec.bucket_cols)
        if spec.sort_cols:
            writer = writer.sortBy(*spec.sort_cols)
    if spec.db_table and fmt != OutputFormat.FILE.value:
        if spec.location:
            writer = writer.option("path", spec.location)
        writer.saveAsTable(spec.db_table)
    else:
        writer.save(spec.location)
    _record_degraded_delta_commit(spark, spec, fmt, mode)
    return None


def _record_degraded_delta_commit(
    spark: SparkSession, spec: OutputSpec, fmt: str, mode: str
) -> None:
    """Degraded-delta writes (``delta`` format, no delta-spark) keep a
    sidecar commit log so the parquet CDF emulation can stamp one
    ``_commit_version`` PER APPEND, as the real Delta log would —
    reference ``terminators/cdf_processor.py:59-87``. Streaming
    foreachBatch appends route through ``_write_batch`` per micro-batch,
    so each micro-batch is its own commit, matching Delta."""
    from lakehouse_engine_spark.core.exec_env import ExecEnv

    if fmt != OutputFormat.DELTA.value or ExecEnv.delta_available():
        return
    if mode not in ("append", "overwrite"):
        return
    location = spec.location
    if not location and spec.db_table:
        _, location = merge_writer.catalog_location(spark, spec.db_table)
    if location:
        from lakehouse_engine_spark.io import cdf_commit_log

        cdf_commit_log.record_commit(spark, location, mode)


def _physical_format(fmt: str) -> str:
    """Resolve logical formats to on-disk formats; delta degrades to parquet
    when delta-spark is absent (this container)."""
    from lakehouse_engine_spark.core.exec_env import ExecEnv

    if fmt in (OutputFormat.TABLE.value, OutputFormat.FILE.value):
        return ExecEnv.default_output_format()
    if fmt == OutputFormat.DELTA.value and not ExecEnv.delta_available():
        return "parquet"
    if fmt == OutputFormat.KAFKA.value:
        from lakehouse_engine_spark.io import kafka_format

        return kafka_format.kafka_format()
    return fmt


def _trigger_kwargs(spec: OutputSpec) -> dict:
    if spec.streaming_processing_time:
        return {"processingTime": spec.streaming_processing_time}
    if spec.streaming_continuous:
        return {"continuous": spec.streaming_continuous}
    if spec.streaming_once:
        return {"once": True}
    if spec.streaming_available_now:
        return {"availableNow": True}
    return {}


def _output_mode(spec: OutputSpec) -> str:
    return {
        WriteType.COMPLETE.value: "complete",
        WriteType.UPDATE.value: "update",
    }.get(spec.write_type, "append")


def _needs_foreach_batch(spec: OutputSpec, micro_batch_fn: Optional[MicroBatchFn]) -> bool:
    return (
        micro_batch_fn is not None
        or spec.write_type == WriteType.MERGE.value
        or spec.data_format
        in (
            OutputFormat.JDBC.value,
            OutputFormat.DATAFRAME.value,
            OutputFormat.CONSOLE.value,
            OutputFormat.REST_API.value,
        )
    )


def _write_streaming(
    spark: SparkSession,
    df: DataFrame,
    spec: OutputSpec,
    micro_batch_fn: Optional[MicroBatchFn],
) -> Optional[DataFrame]:
    options = dict(spec.options or {})
    fmt = spec.data_format

    if fmt == OutputFormat.SHAREPOINT.value:
        from lakehouse_engine_spark.core.definitions import NotSupportedException

        raise NotSupportedException("Sharepoint writer doesn't support streaming!")

    if _needs_foreach_batch(spec, micro_batch_fn):
        view = f"lhe_stream_{spec.spec_id}"
        if spec.data_format == OutputFormat.DATAFRAME.value:
            # Fresh accumulation per query run — the view must not leak rows
            # from a previous load_data() in the same session.
            spark.sql(f"DROP VIEW IF EXISTS global_temp.{view}")
            _STREAM_ACCUM.pop(view, None)

        def _process(batch_df: DataFrame, batch_id: int) -> None:
            out = micro_batch_fn(batch_df, batch_id) if micro_batch_fn else batch_df
            if spec.with_batch_id:
                from pyspark.sql import functions as F

                out = out.withColumn("lhe_batch_id", F.lit(batch_id))
            if spec.data_format == OutputFormat.DATAFRAME.value:
                # Accumulate micro-batches into a global temp view
                # (reference ``io/writers/dataframe_writer.py:33-205``).
                # Each batch is checkpointed ONCE (lineage cut, O(batch)
                # work) and the view is a flat lazy union of the batch
                # frames — re-checkpointing the merged set every batch
                # would be O(batches x total-rows), quadratic over a
                # long-running stream. Plan size grows O(n_batches); rows
                # live in executor block storage, so the sink remains a
                # debug/summary tool, not a durable one — use a file/table
                # sink for unbounded streams.
                from functools import reduce

                batches = _STREAM_ACCUM.setdefault(view, [])
                batches.append(out.localCheckpoint(eager=True))
                reduce(
                    lambda a, b: a.unionByName(b), batches
                ).createOrReplaceGlobalTempView(view)
            else:
                _write_batch(out.sparkSession, out, spec)

        writer = df.writeStream.foreachBatch(_process).outputMode(_output_mode(spec))
    else:
        writer = (
            df.writeStream.format(_physical_format(fmt))
            .outputMode(_output_mode(spec))
            .options(**options)
        )
        if spec.partitions:
            writer = writer.partitionBy(*spec.partitions)

    if "checkpointLocation" in options:
        writer = writer.option("checkpointLocation", options["checkpointLocation"])
    writer = writer.trigger(**_trigger_kwargs(spec)) if _trigger_kwargs(spec) else writer

    if _needs_foreach_batch(spec, micro_batch_fn) or fmt in (
        OutputFormat.NOOP.value,
        OutputFormat.CONSOLE.value,
    ):
        query = writer.start()
    elif spec.db_table:
        if spec.location:
            # db_table + location = EXTERNAL table at the path (the batch
            # writer's contract; reference table writers behave the same)
            writer = writer.option("path", spec.location)
        query = writer.toTable(spec.db_table)
    else:
        query = writer.start(spec.location)

    if spec.streaming_await_termination:
        query.awaitTermination(spec.streaming_await_termination_timeout)
    if spec.data_format == OutputFormat.DATAFRAME.value:
        view = f"lhe_stream_{spec.spec_id}"
        if spark.catalog.tableExists(f"global_temp.{view}"):
            return spark.table(f"global_temp.{view}")
        return spark.createDataFrame([], df.schema)
    return None
