"""Reconciliator — truth vs current dataset comparison.

Reference parity: ``algorithms/reconciliator.py:27-312``: full outer join on
all non-metric columns, per-metric absolute or percentage diffs (null-safe;
division-by-zero counts as a 100% difference, and a null on exactly one side
counts as 1.0, never 0), one aggregation of every metric named
``{metric}_{type}_diff_{aggregation}``, threshold walk on the driver
(``yellow <= diff < red`` -> yellow, ``diff >= red`` -> red, red wins).

The comparison is one aggregate over one full join, so it reads each side
once. The emptiness guard rides that aggregate: each side projects a marker
column and the aggregate counts it. Adaptive execution runs each shuffle
stage of the aggregate as its own Spark job (4 on the gold_gab benchmark
refresh). No side is cached by default; a cache or persist asked for in
``*_preprocess_query_args`` is applied and released once the aggregate
returns or raises. The ``truth``/``current`` temp views that the preprocess
queries read are dropped once the frames are built.
"""

from __future__ import annotations

from typing import Iterable, List, Optional, Tuple

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import FloatType
from pyspark.storagelevel import StorageLevel

from lakehouse_engine_spark.core.definitions import (
    InputSpec,
    ReconciliationFailedException,
)
from lakehouse_engine_spark.core.exec_env import ExecEnv
from lakehouse_engine_spark.io.reader_factory import ReaderFactory
from lakehouse_engine_spark.utils.acon_utils import parse_input_spec

EMPTY_DF_MSG = (
    "The reconciliation has failed because either the truth dataset or the "
    "current results dataset was empty."
)


class ReconciliationType:
    """Reference values (reconciliator.py:27-31 there); 'abs' kept as an
    accepted alias for ACONs written against earlier rounds of this repo."""

    PCT = "percentage"
    ABS = "absolute"
    ABS_ALIAS = "abs"


def _free_name(base: str, taken: Iterable[str]) -> str:
    """``base``, prefixed with underscores until no name in ``taken``
    equals it case-insensitively."""
    lowered = {c.lower() for c in taken}
    while base.lower() in lowered:
        base = "_" + base
    return base


class Reconciliator:
    """Executes a reconciliation ACON."""

    def __init__(self, acon: dict):
        self.spark = ExecEnv.get_or_create(config=acon.get("exec_env"))
        self.metrics: List[dict] = acon["metrics"]
        self.truth_spec: InputSpec = parse_input_spec(acon["truth_input_spec"])
        self.current_spec: InputSpec = parse_input_spec(acon["current_input_spec"])
        self.truth_preprocess_query = acon.get("truth_preprocess_query")
        self.current_preprocess_query = acon.get("current_preprocess_query")
        self.truth_preprocess_query_args = acon.get("truth_preprocess_query_args")
        self.current_preprocess_query_args = acon.get("current_preprocess_query_args")
        self.ignore_empty_df = acon.get("ignore_empty_df", False)

    def _read(self, spec: InputSpec, query: Optional[str], view: str) -> DataFrame:
        """Read one side; a preprocess query reads it as the temp view
        ``view``, which is dropped once the query's frame is analyzed (the
        frame holds the view's plan, not its name). The session catalog
        drops it: ``spark.catalog.dropTempView`` would also uncache every
        entry with the view's plan, which may be the caller's."""
        df = ReaderFactory.get_data(self.spark, spec)
        if not query:
            return df
        df.createOrReplaceTempView(view)
        try:
            return self.spark.sql(query)
        finally:
            self.spark._jsparkSession.sessionState().catalog().dropTempView(view)

    def get_source_of_truth(self) -> DataFrame:
        return self._read(self.truth_spec, self.truth_preprocess_query, "truth")

    def get_current_results(self) -> DataFrame:
        return self._read(self.current_spec, self.current_preprocess_query, "current")

    @staticmethod
    def _apply_preprocess_query_args(
        df: DataFrame, args: Optional[List[dict]], cached: List[DataFrame]
    ) -> DataFrame:
        """cache/persist knobs (reference ReconciliationTransformers): each
        function of ``args`` in order; None and [] apply nothing. A frame
        cached here is appended to ``cached`` for the caller to release; a
        frame the caller had cached already is left cached."""
        from lakehouse_engine_spark.transformers.optimizers import cache, persist

        if not args:
            return df
        if df.storageLevel == StorageLevel.NONE:
            cached.append(df)
        allowed = {"cache": cache, "persist": persist}
        for t in args:
            df = df.transform(allowed[t["function"]](**t.get("args", {})))
        return df

    def _diff_col(self, m: dict) -> F.Column:
        c = F.col(f"current_{m['metric']}")
        t = F.col(f"truth_{m['metric']}")
        if m["type"] in (ReconciliationType.ABS, ReconciliationType.ABS_ALIAS):
            diff = F.abs(F.coalesce(c, F.lit(0)) - F.coalesce(t, F.lit(0)))
        elif m["type"] == ReconciliationType.PCT:
            # try_divide nulls on /0 and null operands; the fallback decides
            # 0 (values identical, incl. both-null) vs 1 (one-sided null or
            # a 0-denominator mismatch) — reference reconciliator.py:260-283
            diff = F.coalesce(
                F.abs(F.try_divide(c - t, F.abs(t))),
                F.when(c.eqNullSafe(t), F.lit(0)).otherwise(F.lit(1)),
            )
        else:
            raise NotImplementedError(
                "The requested reconciliation type is not yet implemented."
            )
        return diff.cast(FloatType())

    def _aggregate(self, truth: DataFrame, current: DataFrame) -> Tuple[dict, int, int]:
        """Every metric's aggregated diff and each side's row count, from one
        aggregate over the full join of the two sides."""
        metric_cols = list(dict.fromkeys(m["metric"] for m in self.metrics))
        diff_names = [
            f"{m['metric']}_{m['type']}_diff_{m['aggregation']}" for m in self.metrics
        ]
        join_cols = [c for c in current.columns if c not in metric_cols]
        taken = [*join_cols, *diff_names] + [
            f"{side}_{c}" for side in ("truth", "current") for c in metric_cols
        ]
        truth_rows, current_rows = (
            _free_name(n, taken) for n in ("__truth_rows", "__current_rows")
        )

        def project(df: DataFrame, side: str, rows: str) -> DataFrame:
            metrics = [F.col(c).alias(f"{side}_{c}") for c in metric_cols]
            return df.select(*join_cols, *metrics, F.lit(1).alias(rows))

        try:
            truth_r = project(truth, "truth", truth_rows)
            current_r = project(current, "current", current_rows)
        except AnalysisException:
            # a side with no rows can lack the columns (an empty JSON file
            # infers no schema): the emptiness decision still comes first
            n_truth, n_current = int(not truth.isEmpty()), int(not current.isEmpty())
            if n_truth and n_current:
                raise
            return {}, n_truth, n_current
        joined = truth_r.join(current_r, on=join_cols, how="full")
        diff_aggs = [
            getattr(F, m["aggregation"])(self._diff_col(m)).alias(name)
            for m, name in zip(self.metrics, diff_names)
        ]
        row = joined.agg(
            *diff_aggs,
            F.count(truth_rows).alias(truth_rows),
            F.count(current_rows).alias(current_rows),
        ).first().asDict()
        return {k: row[k] for k in diff_names}, row[truth_rows], row[current_rows]

    def execute(self) -> dict:
        cached: List[DataFrame] = []
        try:
            truth = self._apply_preprocess_query_args(
                self.get_source_of_truth(), self.truth_preprocess_query_args, cached
            )
            current = self._apply_preprocess_query_args(
                self.get_current_results(), self.current_preprocess_query_args, cached
            )
            recon_results, truth_rows, current_rows = self._aggregate(truth, current)
        finally:
            for df in cached:
                df.unpersist()

        # reference: ignore only when BOTH sides are empty (green exit)
        if self.ignore_empty_df and not truth_rows and not current_rows:
            return {"overall": "green", "metrics": {}, "ignored_empty": True}
        if not truth_rows or not current_rows:
            raise ReconciliationFailedException(EMPTY_DF_MSG)

        status = "green"
        for m in self.metrics:
            val = recon_results[f"{m['metric']}_{m['type']}_diff_{m['aggregation']}"]
            if m["yellow"] <= val < m["red"]:
                if status == "green":
                    status = "yellow"
            elif val >= m["red"]:
                status = "red"
        if status != "green":
            raise ReconciliationFailedException(
                f"The Reconciliation process has failed with status: {status}."
            )
        return {"overall": "green", "metrics": recon_results}
