"""Terminator dispatch (reference ``terminators/terminator_factory.py:19-52``)."""

from __future__ import annotations

import logging
from typing import Dict, Optional

from pyspark.sql import DataFrame, SparkSession

from lakehouse_engine_spark.core.definitions import TerminatorSpec
from lakehouse_engine_spark.core.exec_env import ExecEnv
from lakehouse_engine_spark.io.merge_writer import (
    analyze_table,
    catalog_location,
    replace_where,
)
from lakehouse_engine_spark.utils import fs_utils

_LOGGER = logging.getLogger(__name__)


class TerminatorFactory:
    """Executes one TerminatorSpec after writes complete."""

    @staticmethod
    def execute(
        spark: SparkSession, spec: TerminatorSpec, data: Optional[Dict[str, DataFrame]] = None
    ) -> None:
        fn = spec.function
        args = dict(spec.args or {})
        if fn == "optimize_dataset":
            optimize_dataset(spark, **args)
        elif fn == "notify":
            from lakehouse_engine_spark.terminators.notifiers import NotifierFactory

            notifier = NotifierFactory.get_notifier(spec)
            notifier.create_notification()
            notifier.send_notification()
        elif fn == "terminate_spark":
            spark.stop()
        elif fn == "expose_cdf":
            expose_cdf(spark, **args)
        else:
            raise ValueError(f"Unknown terminator: {fn}")


def optimize_dataset(
    spark: SparkSession,
    db_table: Optional[str] = None,
    location: Optional[str] = None,
    compute_table_stats: bool = True,
    vacuum: bool = True,
    vacuum_hours: int = 720,
    optimize_where: Optional[str] = None,
    optimize_zorder_col_list: Optional[list] = None,
    debug: bool = False,
) -> None:
    """OPTIMIZE (+ZORDER/WHERE) → VACUUM → ANALYZE combo
    (reference ``terminators/dataset_optimizer.py:18-138``).

    OPTIMIZE/VACUUM are Delta operations; on non-Delta runtimes only the
    ANALYZE statistics step applies (feeds Catalyst's CBO join reordering).
    It is :func:`~lakehouse_engine_spark.io.merge_writer.analyze_table`:
    after an engine rewrite of the table the statistics are already exact
    and no count scan runs.
    """
    tgt = db_table or (f"delta.`{location}`" if location else None)
    if tgt is None:
        raise ValueError("optimize_dataset needs db_table or location")
    if ExecEnv.delta_available():
        zorder = f" ZORDER BY ({', '.join(optimize_zorder_col_list)})" if optimize_zorder_col_list else ""
        where = f" WHERE {optimize_where}" if optimize_where else ""
        spark.sql(f"OPTIMIZE {tgt}{where}{zorder}")
        if vacuum:
            spark.sql(f"VACUUM {tgt} RETAIN {vacuum_hours} HOURS")
    if compute_table_stats and db_table:
        analyze_table(spark, db_table)


def expose_cdf(
    spark: SparkSession,
    db_table: Optional[str] = None,
    location: Optional[str] = None,
    materialized_cdf_location: Optional[str] = None,
    materialized_cdf_options: Optional[dict] = None,
    materialized_cdf_num_partitions: Optional[int] = None,
    db_table_options: Optional[dict] = None,
    data_format: Optional[str] = None,
    clean_cdf: bool = True,
    vacuum_cdf: bool = False,
    days_to_keep: int = 30,
    vacuum_hours: int = 168,
    read_cdf=None,
    write_cdf=None,
    now=None,
) -> None:
    """Materialize a Delta table's Change Data Feed to an external location
    (reference ``terminators/cdf_processor.py:30-144``).

    Reads the CDF (``readChangeFeed``) as a stream, stamps
    ``_commit_timestamp`` to ``yyyyMMddHHmmss`` (string — partition-friendly
    and lexicographically ordered), partitions the materialization by it,
    appends to ``materialized_cdf_location``, then applies retention:
    ``clean_cdf`` deletes partitions older than ``days_to_keep`` and
    ``vacuum_cdf`` reclaims the files (delta) — on parquet runtimes the
    clean step is a filtered rewrite and vacuum is a no-op (the rewrite
    already dropped the data files).

    ``read_cdf``/``write_cdf``/``now`` are injectable seams: the CDF source
    requires a delta runtime, but everything downstream (stamping,
    partitioning, retention math) is plain Spark — tests drive it with a
    static frame. Scale note: the materialization appends
    per-commit-timestamp partitions and retention prunes on the partition
    column, so both sides stay partition-local — no full-table rewrite on
    a delta runtime.
    """
    import datetime as _dt

    from pyspark.sql import functions as F

    if materialized_cdf_location is None:
        raise ValueError("expose_cdf needs materialized_cdf_location")
    fmt = data_format or ExecEnv.default_output_format()

    if read_cdf is None:
        if not ExecEnv.delta_available():
            df = _emulated_cdf_stream(
                spark, db_table, location, materialized_cdf_location
            )
        else:
            reader = spark.readStream.format("delta").option("readChangeFeed", "true")
            for k, v in (db_table_options or {}).items():
                reader = reader.option(k, str(v))
            df = reader.table(db_table) if db_table else reader.load(location)
    else:
        df = read_cdf()
    _LOGGER.info("Writing CDF to external table...")

    df = df.withColumn(
        "_commit_timestamp", F.date_format(F.col("_commit_timestamp"), "yyyyMMddHHmmss")
    )
    df = (
        df.repartition(materialized_cdf_num_partitions)
        if materialized_cdf_num_partitions
        else df.repartition(F.col("_commit_timestamp"))
    )

    if write_cdf is not None:
        write_cdf(df)
    elif df.isStreaming:
        if fmt == "delta" and ExecEnv.delta_available():
            q = (
                df.writeStream.format(fmt)
                .outputMode("append")
                .partitionBy("_commit_timestamp")
                .options(**(materialized_cdf_options or {}))
                .trigger(availableNow=True)
                .start(materialized_cdf_location)
            )
        else:
            # parquet fallback: append per micro-batch via foreachBatch
            # instead of the direct file sink — the sink's _spark_metadata
            # log goes permanently stale the moment retention rewrites
            # the materialization (reads then resolve deleted files).
            # Batch appends keep reads listing-based and
            # retention-consistent; exactly-once degrades to the same
            # at-least-once contract as every foreachBatch path here.
            def _append(batch_df: DataFrame, _: int) -> None:
                (
                    batch_df.write.format(fmt)
                    .mode("append")
                    .partitionBy("_commit_timestamp")
                    .save(materialized_cdf_location)
                )

            q = (
                df.writeStream.foreachBatch(_append)
                .options(**(materialized_cdf_options or {}))
                .trigger(availableNow=True)
                .start()
            )
        q.awaitTermination()
    else:
        (
            df.write.format(fmt)
            .mode("append")
            .partitionBy("_commit_timestamp")
            .options(**(materialized_cdf_options or {}))
            .save(materialized_cdf_location)
        )

    if clean_cdf:
        _LOGGER.info("Cleaning CDF table...")
        # the stream sink just mutated the location — drop any cached
        # file listing before re-reading it
        spark.catalog.refreshByPath(materialized_cdf_location)
        limit = ((now or _dt.datetime.today()) - _dt.timedelta(days=days_to_keep)).strftime(
            "%Y%m%d%H%M%S"
        )
        # retention must follow the MATERIALIZATION format — a parquet
        # materialization on a delta-enabled runtime is not a Delta table;
        # the cast keeps the comparison lexicographic-on-string when
        # partition-value inference read the stamp as a long
        replace_where(
            spark,
            f"CAST(_commit_timestamp AS STRING) < '{limit}'",
            location=materialized_cdf_location,
            data_format=fmt,
        )

    if vacuum_cdf:
        _LOGGER.info("Vacuuming CDF table...")
        if fmt == "delta" and ExecEnv.delta_available():
            from delta.tables import DeltaTable

            DeltaTable.forPath(spark, materialized_cdf_location).vacuum(vacuum_hours)
        else:
            # parquet fallback: the clean rewrite above already dropped
            # the data files — there is no tombstoned-file backlog to
            # reclaim, so vacuum is complete by construction
            _LOGGER.info(
                "parquet materialization has no tombstoned files; "
                "vacuum is a no-op"
            )


def _emulated_cdf_stream(
    spark: SparkSession,
    db_table: Optional[str],
    location: Optional[str],
    materialized_cdf_location: str,
):
    """APPEND-ONLY Change-Data-Feed emulation for runtimes without
    delta-spark (this engine degrades delta tables to parquet, so there
    is no ``_delta_log`` to read a real CDF from).

    A file stream over the table's storage location with the CDF
    checkpoint is exactly "the files appended since the last
    materialization" — for append-only tables (the reference's
    streaming-ingest CDF scenario, ``tests/feature/test_materialize_cdf.py``)
    that IS the insert CDF. Each ``expose_cdf`` invocation is stamped as
    one commit: ``_change_type='insert'``, ``_commit_version`` from a
    tiny sidecar counter next to the materialization (starts at 1 —
    table creation is version 0, mirroring Delta's numbering for the
    create→append→expose flow), ``_commit_timestamp`` = processing time.
    Update/delete capture requires a real Delta log — the merge/overwrite
    writers on parquet rewrite files, which a file stream would
    double-count — so this emulation is documented append-only.

    Scale: the file-stream source lists only NEW files per run (Spark's
    file-source checkpoint index), so each materialization touches the
    increment, not the table.
    """
    from pyspark.sql import functions as F

    if db_table:
        schema = spark.table(db_table).schema
        _, src_loc = catalog_location(spark, db_table)
        if not src_loc:
            raise ValueError(
                f"expose_cdf emulation: no storage location for {db_table}"
            )
    else:
        if not location:
            raise ValueError("expose_cdf needs db_table or location")
        schema = spark.read.parquet(location).schema
        src_loc = location
    # stream over the partition dirs only (basePath-anchored glob): table
    # locations routinely hold non-data dirs — streaming checkpoints,
    # _spark_metadata sink logs — that break partition inference if the
    # listing starts at the root
    stream_path = _partition_glob(spark, src_loc)
    stream = (
        spark.readStream.schema(schema)
        .option("basePath", src_loc)
        .parquet(stream_path)
        .withColumn("_change_type", F.lit("insert"))
    )

    from lakehouse_engine_spark.io import cdf_commit_log

    entries = cdf_commit_log.read_log(spark, src_loc)
    if entries:
        # PER-APPEND versions: engine writes to this degraded-delta
        # location recorded one sidecar commit entry per append, so two
        # appends between materializations get two _commit_versions —
        # Delta-log semantics (reference cdf_processor.py:59-87). The
        # file→version map is a small static frame broadcast against the
        # stream's _metadata.file_path — both URI-encoded, compared in one
        # form (cdf_commit_log.file_id); files no entry claims (foreign
        # writes, pre-log history) stamp version 0 = table creation.
        rows = [
            (f, int(e["version"]), int(e["ts_ms"]))
            for e in entries
            for f in e.get("files", [])
        ]
        vmap = spark.createDataFrame(rows, "__fp STRING, __ver LONG, __vms LONG")
        return (
            stream.withColumn(
                "__fp",
                F.regexp_replace("_metadata.file_path", cdf_commit_log.LOCAL_SCHEME, "/"),
            )
            .join(F.broadcast(vmap), "__fp", "left")
            .withColumn(
                "_commit_version", F.coalesce(F.col("__ver"), F.lit(0)).cast("long")
            )
            .withColumn(
                "_commit_timestamp",
                F.coalesce(F.timestamp_millis("__vms"), F.current_timestamp()),
            )
            .drop("__fp", "__ver", "__vms")
        )

    version = _bump_cdf_version(spark, materialized_cdf_location)
    return stream.withColumn(
        "_commit_version", F.lit(version).cast("long")
    ).withColumn("_commit_timestamp", F.current_timestamp())


def _partition_glob(spark: SparkSession, src_loc: str) -> str:
    """``<loc>/<key>=*`` when the location's first level is Hive-style
    partition dirs; ``<loc>/*.parquet`` when an UNPARTITIONED location
    shares its root with non-data directories (streaming checkpoints,
    exports — a root listing would feed those to partition inference);
    else the location itself. One control-plane listing."""
    fs, p = fs_utils._fs(spark, src_loc)
    try:
        statuses = fs.listStatus(p)
    except Exception:
        return src_loc
    keys = set()
    stray_dirs: list = []
    root_parquet = False
    for st in statuses:
        name = st.getPath().getName()
        if not st.isDirectory():
            root_parquet = root_parquet or name.endswith(".parquet")
            continue
        if fs_utils.is_hidden(name):
            continue  # Spark-ignored metadata/hidden dirs
        if "=" in name:
            keys.add(name.split("=", 1)[0])
        else:
            stray_dirs.append(name)
    if len(keys) == 1:
        return f"{src_loc.rstrip('/')}/{keys.pop()}=*"
    if not keys and stray_dirs and root_parquet:
        # unpartitioned data files sharing the root with non-data dirs:
        # glob the leaves. Only when root data files EXIST — a nested
        # non-hive layout (loc/batch-N/part.parquet) must keep the
        # recursive root listing or the stream silently reads nothing.
        # MIXED layouts (root parquet AND nested data dirs) under-read
        # with this glob — make the exclusion visible, never silent.
        _LOGGER.warning(
            "expose_cdf: location %s has root-level parquet files next to "
            "non-hive directories %s; streaming the root *.parquet glob and "
            "EXCLUDING those directories. If they contain data files, "
            "restructure the location (hive partition dirs or data-only "
            "root) — a mixed layout cannot be read as one stream source.",
            src_loc,
            stray_dirs,
        )
        return f"{src_loc.rstrip('/')}/*.parquet"
    return src_loc


def _bump_cdf_version(spark: SparkSession, materialized_cdf_location: str) -> int:
    """Read-increment-write the emulated commit counter: the sidecar file
    ``<materialization>__cdf_version``, NEXT TO the materialization (inside
    it, the clean rewrite's swap would drop it), committed through
    ``fs_utils.write_text`` so a failed write leaves the old count or the
    new one, never an empty file.

    Unlike the writer-side control files (commit log, merge fallback —
    both WriterLock-guarded), this counter is bumped by the
    CDF *materialization* consumer: one stream per materialized
    location is the documented contract (two concurrent expose_cdf
    materializations of one location already race the data rewrite
    itself, which no sidecar lock can repair — serialize the consumers)."""
    path = materialized_cdf_location.rstrip("/") + "__cdf_version"
    version = int(fs_utils.read_text(spark, path) or 0) + 1
    fs_utils.write_text(spark, path, str(version))
    return version
