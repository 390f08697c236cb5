"""Execution environment — SparkSession singleton with scale-aware defaults.

Reference: ``core/exec_env.py:55-146``. Ours differs in being OSS-only:
Databricks-specific confs are filtered, delta-spark is optional (detected at
runtime), and defaults are tuned for AQE-driven execution so the same code
runs on ``local[*]`` and on a 1000-executor cluster.
"""

from __future__ import annotations

import logging
import os
from typing import Optional

from pyspark.sql import SparkSession

from lakehouse_engine_spark.core.definitions import EngineConfig

_LOGGER = logging.getLogger(__name__)

# Conf prefixes that only exist on proprietary runtimes — set best-effort.
_BEST_EFFORT_PREFIXES = ("spark.databricks.",)


class ExecEnv:
    """Provides and configures the SparkSession for all algorithms.

    The session is created once and reused (``getActiveSession`` first), so a
    user-provided session — e.g. one wired to a real cluster master — always
    wins over our local default.
    """

    SESSION: Optional[SparkSession] = None

    # Engine-level (non-Spark) configuration — reference
    # ``core/exec_env.py`` loads this from engine.yaml; here it defaults
    # empty and deployments replace it via ``set_engine_config`` (e.g.
    # the disallowed-SMTP-server list the notifier gate checks).
    ENGINE_CONFIG: EngineConfig = EngineConfig()

    @classmethod
    def set_engine_config(cls, **fields) -> None:
        cls.ENGINE_CONFIG = EngineConfig(**fields)

    DEFAULT_CONFS = {
        # AQE re-plans shuffles at runtime: coalesces small partitions,
        # converts to broadcast joins, splits skewed partitions. This is the
        # primary scale knob — correct at sf0.001 and at 100 TB.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Arrow for any pandas_udf / toPandas path.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Cut mapInPandas/mapInArrow input batches by BYTES (Spark 4):
        # bounds per-batch Python memory for binary decode stages at any
        # scale — the knob that lets the multimodal family run map-only
        # on the scan partitioning instead of probe+repartition (see
        # the datapipes/multimodal module docstring). 128 MB = the
        # family's documented per-stage decode budget.
        "spark.sql.execution.arrow.maxBytesPerBatch": str(128 * 1024 * 1024),
        "spark.sql.session.timeZone": "UTC",
        # Don't error on legacy datetime rebasing in parquet.
        "spark.sql.parquet.datetimeRebaseModeInRead": "CORRECTED",
        "spark.sql.parquet.int96RebaseModeInRead": "CORRECTED",
        # Read TIMESTAMP(NANOS) parquet columns as long (Spark has no nanos
        # type); utils.tables.load_table converts them to micros timestamps.
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # Object-store-first posture: there is no HDFS block locality to
        # wait for on parquet-over-S3 (and none in local mode), but the
        # default 3s delay-scheduling wait DOES apply to persisted RDD
        # blocks — profiling dp28 showed stages sitting at 0 running
        # tasks for multiples of 3s whenever a stage read a cached
        # frame, turning a stable 3.5s query into a 4-18s lottery.
        "spark.locality.wait": "0s",
    }

    @classmethod
    def get_or_create(
        cls,
        session: Optional[SparkSession] = None,
        app_name: str = "lakehouse_engine_spark",
        config: Optional[dict] = None,
    ) -> SparkSession:
        """Get or create the engine SparkSession.

        Order of precedence: explicit ``session`` arg → already-active session
        → new local session sized from ``SPARK_GRAFT_CPUS`` (default all cores).
        """
        if session is not None:
            cls.SESSION = session
            cls._set_confs_best_effort(session, config or {})
            return session

        active = SparkSession.getActiveSession()
        if active is not None:
            cls.SESSION = active
            cls._set_confs_best_effort(active, config or {})
            return active

        if cls.SESSION is not None:
            return cls.SESSION

        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
        confs = dict(cls.DEFAULT_CONFS)
        # Local mode: shuffle partitions ≈ cores. On a real cluster users
        # should leave AQE to coalesce from a higher initial number.
        n = os.cpu_count() or 8 if cpus == "*" else int(cpus)
        confs.setdefault("spark.sql.shuffle.partitions", str(max(n, 8)))
        confs.setdefault("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        confs.setdefault("spark.ui.enabled", "false")
        confs.update(config or {})
        for k, v in confs.items():
            builder = builder.config(k, v)
        # Enable Delta Lake if delta-spark is importable (optional dep).
        if cls.delta_available():
            builder = (
                builder.config(
                    "spark.sql.extensions", "io.delta.sql.DeltaSparkSessionExtension"
                ).config(
                    "spark.sql.catalog.spark_catalog",
                    "org.apache.spark.sql.delta.catalog.DeltaCatalog",
                )
            )
        cls.SESSION = builder.getOrCreate()
        cls.SESSION.sparkContext.setLogLevel("WARN")
        return cls.SESSION

    @staticmethod
    def delta_available() -> bool:
        """True when the optional delta-spark package is importable."""
        try:
            import delta  # noqa: F401

            return True
        except ImportError:
            return False

    @staticmethod
    def _set_confs_best_effort(session: SparkSession, confs: dict) -> None:
        """Set runtime confs, skipping ones the runtime rejects.

        Mirrors the reference's graceful skip of Databricks-only keys
        (reference ``core/exec_env.py:117-146``).
        """
        for k, v in confs.items():
            try:
                session.conf.set(k, v)
            except Exception as e:  # noqa: BLE001 — static/unknown confs vary by runtime
                if k.startswith(_BEST_EFFORT_PREFIXES):
                    _LOGGER.debug("Skipping runtime-specific conf %s: %s", k, e)
                else:
                    _LOGGER.warning("Could not set conf %s=%s: %s", k, v, e)

    @classmethod
    def default_output_format(cls) -> str:
        """Delta when available, parquet otherwise (OSS-container fallback)."""
        return "delta" if cls.delta_available() else "parquet"
