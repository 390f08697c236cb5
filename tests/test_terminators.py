"""expose_cdf terminator: stamping, partitioned materialization, retention.

The CDF *source* needs a delta runtime (readChangeFeed), so tests inject a
static changes frame through the ``read_cdf`` seam and verify everything
downstream — the ``_commit_timestamp`` reformat, partitioned append, and
the retention rewrite — against real parquet on disk.
"""

import datetime as dt

import pytest

from lakehouse_engine_spark.core.definitions import TerminatorSpec
from lakehouse_engine_spark.terminators.terminator_factory import (
    TerminatorFactory,
    expose_cdf,
)

NOW = dt.datetime(2024, 6, 15, 12, 0, 0)


@pytest.fixture()
def changes(spark):
    rows = [
        (1, "insert", dt.datetime(2024, 6, 14, 10, 30, 0)),
        (2, "update_postimage", dt.datetime(2024, 6, 1, 9, 0, 0)),
        (3, "delete", dt.datetime(2024, 4, 1, 8, 0, 0)),  # beyond 30d retention
    ]
    return spark.createDataFrame(
        rows, "id INT, _change_type STRING, _commit_timestamp TIMESTAMP"
    )


def test_expose_cdf_stamps_partitions_and_cleans(spark, changes, tmp_path):
    loc = str(tmp_path / "cdf")
    expose_cdf(
        spark,
        materialized_cdf_location=loc,
        read_cdf=lambda: changes,
        data_format="parquet",
        clean_cdf=True,
        days_to_keep=30,
        now=NOW,
    )
    out = spark.read.parquet(loc)
    # partition-value inference may surface the stamp as long — stringify
    got = {r["id"]: str(r["_commit_timestamp"]) for r in out.collect()}
    # row 3 (Apr 1) fell outside the 30-day window; stamps are yyyyMMddHHmmss
    assert got == {1: "20240614103000", 2: "20240601090000"}
    # materialization is partitioned by the stamped commit timestamp
    assert any("_commit_timestamp=" in str(p) for p in (tmp_path / "cdf").iterdir())


def test_expose_cdf_append_accumulates_without_clean(spark, changes, tmp_path):
    loc = str(tmp_path / "cdf2")
    for _ in range(2):
        expose_cdf(
            spark,
            materialized_cdf_location=loc,
            read_cdf=lambda: changes,
            data_format="parquet",
            clean_cdf=False,
        )
    assert spark.read.parquet(loc).count() == 6


def test_expose_cdf_via_terminator_factory(spark, changes, tmp_path):
    loc = str(tmp_path / "cdf3")
    captured = {}
    spec = TerminatorSpec(
        function="expose_cdf",
        args={
            "materialized_cdf_location": loc,
            "read_cdf": lambda: changes,
            "write_cdf": lambda df: captured.update(n=df.count()),
            "clean_cdf": False,
        },
    )
    TerminatorFactory.execute(spark, spec)
    assert captured["n"] == 3


def test_expose_cdf_requires_location(spark):
    with pytest.raises(ValueError, match="materialized_cdf_location"):
        expose_cdf(spark)


def test_expose_cdf_without_delta_emulates_append_only_cdf(spark, tmp_path):
    """Without delta-spark, expose_cdf runs the APPEND-ONLY CDF
    emulation: a checkpointed file stream over the table location,
    stamped _change_type='insert' with a monotonically bumped
    _commit_version per invocation (1, 2, ... — table creation is
    version 0). Incremental: run 2 materializes only run 2's appends."""
    from lakehouse_engine_spark.core.exec_env import ExecEnv

    if ExecEnv.delta_available():
        pytest.skip("delta present: the real readChangeFeed path applies")
    loc = str(tmp_path / "tbl")
    cdf = str(tmp_path / "cdf")
    ckpt = str(tmp_path / "ckpt")
    spark.sql("CREATE DATABASE IF NOT EXISTS test_db")
    spark.sql("DROP TABLE IF EXISTS test_db.cdf_emu")
    spark.sql(
        f"CREATE TABLE test_db.cdf_emu (id INT, v STRING) USING parquet "
        f"LOCATION '{loc}'"
    )
    spark.createDataFrame([(1, "a"), (2, "b")], "id INT, v STRING").write.mode(
        "append"
    ).parquet(loc)
    expose_cdf(
        spark,
        db_table="test_db.cdf_emu",
        materialized_cdf_location=cdf,
        materialized_cdf_options={"checkpointLocation": ckpt},
        clean_cdf=False,
    )
    got = spark.read.parquet(cdf)
    assert got.count() == 2
    assert set(r["_change_type"] for r in got.collect()) == {"insert"}
    assert set(r["_commit_version"] for r in got.collect()) == {1}
    # append more rows; the next materialization ships ONLY the increment
    spark.createDataFrame([(3, "c")], "id INT, v STRING").write.mode(
        "append"
    ).parquet(loc)
    expose_cdf(
        spark,
        db_table="test_db.cdf_emu",
        materialized_cdf_location=cdf,
        materialized_cdf_options={"checkpointLocation": ckpt},
        clean_cdf=False,
    )
    spark.catalog.refreshByPath(cdf)
    after = spark.read.parquet(cdf)
    assert after.count() == 3
    assert sorted(
        r["_commit_version"] for r in after.collect()
    ) == [1, 1, 2]
    spark.sql("DROP TABLE IF EXISTS test_db.cdf_emu")


@pytest.mark.parametrize("name", ["tbl", "my tbl"])
def test_expose_cdf_per_append_versions_from_commit_log(spark, tmp_path, name):
    """TWO engine appends between materializations yield TWO
    _commit_versions (Delta-log semantics, reference
    cdf_processor.py:59-87): degraded-delta writes record a sidecar
    commit entry per append, and the emulation stamps each file with
    its append's version and timestamp instead of collapsing the whole
    increment into one materialization-counter version. A location with a
    space in it names its files percent-encoded on both sides of the
    join."""
    from lakehouse_engine_spark.core.definitions import OutputSpec
    from lakehouse_engine_spark.core.exec_env import ExecEnv
    from lakehouse_engine_spark.io.writer_factory import WriterFactory

    if ExecEnv.delta_available():
        pytest.skip("delta present: the real readChangeFeed path applies")
    loc = str(tmp_path / name)
    cdf = str(tmp_path / "cdf")
    ckpt = str(tmp_path / "ckpt")

    def append(rows):
        df = spark.createDataFrame(rows, "id INT, v STRING")
        WriterFactory.write(
            spark,
            df,
            OutputSpec(
                spec_id="o",
                input_id="i",
                data_format="delta",
                location=loc,
                write_type="append",
            ),
        )

    append([(1, "a"), (2, "b")])
    append([(3, "c")])
    expose_cdf(
        spark,
        location=loc,
        materialized_cdf_location=cdf,
        materialized_cdf_options={"checkpointLocation": ckpt},
        clean_cdf=False,
    )
    got = {r["id"]: r["_commit_version"] for r in spark.read.parquet(cdf).collect()}
    assert got == {1: 1, 2: 1, 3: 2}

    # a third append after the materialization continues the numbering
    append([(4, "d")])
    expose_cdf(
        spark,
        location=loc,
        materialized_cdf_location=cdf,
        materialized_cdf_options={"checkpointLocation": ckpt},
        clean_cdf=False,
    )
    spark.catalog.refreshByPath(cdf)
    after = {r["id"]: r["_commit_version"] for r in spark.read.parquet(cdf).collect()}
    assert after == {1: 1, 2: 1, 3: 2, 4: 3}


def test_cdf_commit_log_records_underscore_partition_dirs(spark, tmp_path):
    """A ``_col=value`` directory is a partition, not a hidden name (Spark
    skips ``_`` names only when they hold no ``=``): two appends to a
    degraded-delta table partitioned by ``_p`` record two commit entries,
    and expose_cdf stamps each append with its own version."""
    from lakehouse_engine_spark.core.definitions import OutputSpec
    from lakehouse_engine_spark.core.exec_env import ExecEnv
    from lakehouse_engine_spark.io import cdf_commit_log
    from lakehouse_engine_spark.io.writer_factory import WriterFactory

    if ExecEnv.delta_available():
        pytest.skip("delta present: the Delta log numbers the commits")
    loc = str(tmp_path / "tbl")
    cdf = str(tmp_path / "cdf")

    for rows in ([(1, "a"), (2, "b")], [(3, "a")]):
        WriterFactory.write(
            spark,
            spark.createDataFrame(rows, "id INT, _p STRING"),
            OutputSpec(
                spec_id="o", input_id="i", data_format="delta", location=loc,
                write_type="append", partitions=["_p"],
            ),
        )
    assert [e["version"] for e in cdf_commit_log.read_log(spark, loc)] == [1, 2]
    expose_cdf(
        spark,
        location=loc,
        materialized_cdf_location=cdf,
        materialized_cdf_options={"checkpointLocation": str(tmp_path / "ckpt")},
        clean_cdf=False,
    )
    got = {r["id"]: r["_commit_version"] for r in spark.read.parquet(cdf).collect()}
    assert got == {1: 1, 2: 1, 3: 2}


def test_cdf_commit_log_numbering_survives_overwrite_and_merge(spark, tmp_path):
    """The commit log sits beside the table dir, so neither an overwrite
    (which deletes what the dir holds) nor a merge (whose commit swap
    replaces the dir) resets the version counter: append, append,
    overwrite, merge, append leave the entries of versions 3 and 4 — the
    overwrite restarted the file history, the merge recorded nothing, and
    the last append's entry claims the files the merge left."""
    from lakehouse_engine_spark.core.definitions import MergeOptions, OutputSpec
    from lakehouse_engine_spark.core.exec_env import ExecEnv
    from lakehouse_engine_spark.io import cdf_commit_log
    from lakehouse_engine_spark.io.writer_factory import WriterFactory

    if ExecEnv.delta_available():
        pytest.skip("delta present: the Delta log numbers the commits")
    loc = str(tmp_path / "tbl")

    def write(rows, write_type, **kwargs):
        WriterFactory.write(
            spark,
            spark.createDataFrame(rows, "id INT, v STRING"),
            OutputSpec(
                spec_id="o", input_id="i", data_format="delta", location=loc,
                write_type=write_type, **kwargs,
            ),
        )

    write([(1, "a")], "append")
    write([(2, "b")], "append")
    write([(3, "c")], "overwrite")
    write([(3, "C"), (4, "d")], "merge",
          merge_opts=MergeOptions(merge_predicate="current.id = new.id"))
    write([(5, "e")], "append")
    entries = cdf_commit_log.read_log(spark, loc)
    assert [e["version"] for e in entries] == [3, 4]
    assert sorted(entries[1]["files"]) == sorted(cdf_commit_log._list_data_files(spark, loc))


def test_partition_glob_isolates_data_from_stray_dirs(spark, tmp_path):
    """_partition_glob: Hive-partitioned roots glob the partition dirs;
    clean unpartitioned roots stream as-is; an unpartitioned root that
    also holds a non-data directory (a streaming checkpoint, an export)
    must glob the leaf parquet files only — feeding the stray dir to
    the file stream breaks partition inference (round-11 ADVICE #1)."""
    from lakehouse_engine_spark.terminators.terminator_factory import (
        _partition_glob,
    )

    part = tmp_path / "part"
    (part / "ds=2024-01-01").mkdir(parents=True)
    (part / "ds=2024-01-01" / "f.parquet").write_bytes(b"x")
    assert _partition_glob(spark, str(part)).endswith("/ds=*")

    clean = tmp_path / "clean"
    clean.mkdir()
    (clean / "part-0.parquet").write_bytes(b"x")
    assert _partition_glob(spark, str(clean)) == str(clean)

    mixed = tmp_path / "mixed"
    (mixed / "checkpoint" / "offsets").mkdir(parents=True)
    (mixed / "part-0.parquet").write_bytes(b"x")
    assert _partition_glob(spark, str(mixed)).endswith("/*.parquet")

    # nested NON-hive layout with no root data files: the leaf glob
    # would silently match nothing — must keep the recursive root
    nested = tmp_path / "nested"
    (nested / "batch-0").mkdir(parents=True)
    (nested / "batch-0" / "part-0.parquet").write_bytes(b"x")
    assert _partition_glob(spark, str(nested)) == str(nested)
