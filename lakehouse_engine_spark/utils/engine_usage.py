"""Engine usage statistics — record each public-function invocation.

Reference parity: ``utils/engine_usage_stats.py`` +
``utils/configs/config_utils.py:remove_sensitive_info``. Each enabled call
writes ONE JSON document — the acon with sensitive values masked, the
resolved spark-conf tags (dp_name/environment/job ids; empty strings
outside a tagged cluster), the function name, engine version and start
timestamp — under ``<engine_usage_path>/<dp_name>/<year>/<month>/``.

Collection is strictly best-effort: any failure is logged and swallowed
(usage telemetry must never fail a load). Driver-side control plane only.
"""

from __future__ import annotations

import json
import logging
import os
from datetime import datetime
from typing import Optional
from urllib.parse import urlparse

from lakehouse_engine_spark.utils import fs_utils

_LOGGER = logging.getLogger(__name__)

ENGINE_VERSION = "0.11.0"

# reference ``config_utils.py:17-26`` — keys masked anywhere in the acon
SENSITIVE_INFO = [
    "kafka.ssl.keystore.password",
    "kafka.ssl.truststore.password",
    "password",
    "secret",
    "credential",
    "credentials",
    "pass",
    "key",
]

_CLUSTER_USAGE_TAGS = "spark.databricks.clusterUsageTags"
# reference ``core/definitions.py:90-97`` — a ``#`` marks a JSON-array tag
DEF_SPARK_CONFS = {
    "dp_name": f"{_CLUSTER_USAGE_TAGS}.clusterAllTags#accountName",
    "environment": f"{_CLUSTER_USAGE_TAGS}.clusterAllTags#environment",
    "workspace_id": f"{_CLUSTER_USAGE_TAGS}.orgId",
    "job_id": f"{_CLUSTER_USAGE_TAGS}.clusterAllTags#JobId",
    "job_name": f"{_CLUSTER_USAGE_TAGS}.clusterAllTags#RunName",
    "run_id": f"{_CLUSTER_USAGE_TAGS}.clusterAllTags#ClusterName",
}


def remove_sensitive_info(obj):
    """Mask sensitive values recursively (reference ``config_utils.py:123-140``)."""
    if isinstance(obj, list):
        return [remove_sensitive_info(v) for v in obj]
    if isinstance(obj, dict):
        return {
            k: "******" if k in SENSITIVE_INFO else remove_sensitive_info(v)
            for k, v in obj.items()
        }
    return obj


def _conf_value(spark, conf: str) -> str:
    if "#" not in conf:
        return spark.conf.get(conf, "") or ""
    base, tag = conf.split("#", 1)
    raw = spark.conf.get(base, "") or ""
    try:
        for item in json.loads(raw):
            if item.get("key") == tag:
                return item.get("value", "")
    except (ValueError, TypeError, AttributeError):
        pass
    return ""


def store_engine_usage(
    acon: dict,
    func_name: str,
    collect_engine_usage: Optional[str] = None,
    spark_confs: Optional[dict] = None,
) -> None:
    """Collect + persist one usage record (reference
    ``engine_usage_stats.py:21-110``)."""
    from lakehouse_engine_spark.core.definitions import CollectEngineUsage
    from lakehouse_engine_spark.core.exec_env import ExecEnv

    enabled = collect_engine_usage in (
        CollectEngineUsage.ENABLED.value,
        CollectEngineUsage.PROD_ONLY.value,
    ) or ExecEnv.ENGINE_CONFIG.collect_engine_usage == CollectEngineUsage.ENABLED.value
    if not enabled:
        return
    try:
        spark = ExecEnv.get_or_create(config=(acon or {}).get("exec_env"))
        start_timestamp = datetime.now()
        usage_stats = {"acon": remove_sensitive_info(acon)}
        mapping = (
            DEF_SPARK_CONFS
            if spark_confs is None
            else {**DEF_SPARK_CONFS, **spark_confs}
        )
        for key, conf in mapping.items():
            usage_stats[key] = _conf_value(spark, conf)
        if usage_stats.get("environment") == "prod":
            engine_usage_path = ExecEnv.ENGINE_CONFIG.engine_usage_path
        elif collect_engine_usage != CollectEngineUsage.PROD_ONLY.value:
            engine_usage_path = getattr(
                ExecEnv.ENGINE_CONFIG, "engine_dev_usage_path", None
            ) or ExecEnv.ENGINE_CONFIG.engine_usage_path
        else:
            engine_usage_path = None
        if not engine_usage_path:
            return
        usage_stats["function"] = func_name
        usage_stats["engine_version"] = ENGINE_VERSION
        usage_stats["start_timestamp"] = start_timestamp
        usage_stats["year"] = start_timestamp.year
        usage_stats["month"] = start_timestamp.month
        payload = json.dumps(usage_stats, default=str)
        target = (
            f"{engine_usage_path}/{usage_stats['dp_name']}/"
            f"{start_timestamp.year}/{start_timestamp.month}/"
            f"eng_usage_{func_name}_{start_timestamp:%Y%m%d%H%M%S}.json"
        )
        url = urlparse(target, allow_fragments=False)
        if url.scheme in ("", "file"):
            path = url.path
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w") as fh:
                fh.write(payload)
        else:
            # object-store targets go through the Hadoop FS API so s3a://
            # etc. work on a real cluster without extra deps
            fs_utils.write_text(spark, target, payload)
        _LOGGER.info("Storing Lakehouse Engine usage statistics")
    except Exception as e:  # noqa: BLE001 — telemetry must never fail a load
        _LOGGER.error(
            "Failed while collecting the lakehouse engine stats: "
            f"Unexpected {e=}, {type(e)=}."
        )
