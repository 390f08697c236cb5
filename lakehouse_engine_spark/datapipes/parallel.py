"""The one partition guard of the datapipes operators.

Small inputs (one parquet file, a filtered dimension) arrive as a single
partition; any O(n·signature) or O(pairs) stage built on them would then run
as ONE task regardless of cluster size — broadcast joins inherit the stream
side's partitioning. :func:`ensure_parallelism` raises such an input to
``defaultParallelism`` partitions; at 100 TB inputs arrive well-partitioned
and it is a no-op. The target is the cluster's parallelism, never a
per-operator option, so every caller passes the frame alone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _static_num_partitions(df: DataFrame) -> int:
    """Partition count of the STATIC physical plan — ``df.rdd`` with
    adaptive execution temporarily off.

    Under AQE, ``df.rdd`` finalizes the adaptive plan, which
    MATERIALIZES every upstream shuffle stage — real Spark jobs fired
    at plan-construction time (measured: 2 jobs / 4 s for one shuffled
    frame; q31 paid ~10 such jobs per build through its two
    ensure_parallelism call sites). The static plan builds the RDD DAG
    lazily — zero jobs for an unpersisted frame — and its count is the
    right signal for this gate. A PERSISTED input whose cached plan has
    exchanges is the exception: ``df.rdd`` builds the cache's RDD, and
    its shuffle stages run at plan-construction time. Those are jobs the
    first action would fire anyway, moved earlier rather than added (a
    cached groupBy over ``range(1000)``: 1 probe job + 1 collect job,
    against 3 collect jobs unprobed). A starved SOURCE (one small
    file, a collapsed dimension) shows its true split count, while any
    plan with an upstream exchange reports >= spark.sql.shuffle.partitions
    and skips the repartition it never needed. The conf flip is
    driver-side and momentary; engine composition is single-threaded by
    contract (the same assumption ExecEnv's session mutation already
    makes).
    """
    spark = df.sparkSession
    old = spark.conf.get("spark.sql.adaptive.enabled", "true")
    if (old or "true").lower() == "false":
        return df.rdd.getNumPartitions()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return df.rdd.getNumPartitions()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Repartition ``df`` up to ``sparkContext.defaultParallelism`` —
    never down. A streaming frame is returned unprobed: its micro-batch
    sizing belongs to the source (``maxFilesPerTrigger`` /
    ``maxBytesPerTrigger``), and it has no static plan to count."""
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if _static_num_partitions(df) < target:
        return df.repartition(target)
    return df
