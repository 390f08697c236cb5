"""DQ factory — run a DQSpec natively on Spark.

Reference parity: ``dq_processors/dq_factory.py:280-378`` (process),
``:423-527`` (result-sink explosion), ``:636-719`` (failure policies) and
``dq_processors/validator.py:136-228`` (source tagging) — minus the GE
dependency.

A suite is decided from a handful of counts: the element count ``__n``,
each row expectation's unexpected count ``__u{i}`` and, with a uniqueness
check, ``__dup`` — the rows whose key occurs more than once. Two sources
produce them, and one ``_finish`` turns them into the result rows, the
result sink, the file-store artifact and the pass/fail decision:

* **the pre-write pass** (:meth:`DQFactory.run_dq_process`) — ONE
  aggregate over the input, grouped by the first uniqueness column when
  there is one. Only a uniqueness check on a second column and the
  queried-aggregate expectation add a pass each.
* **the observed write** (:meth:`DQFactory.observe`) — the same counts ride
  the write that consumes the frame as ONE ``DataFrame.observe``; uniqueness
  reads ``count(1) over (partition by key)``, which on a condensed CDC batch
  reuses the condense step's partitioning, so no pass of its own. A staged
  non-Delta merge (``io/merge_writer._rewrite``) runs the decision between
  staging and swap: a refused suite drops the staged dir and leaves the
  target untouched. When the observation arrives empty (adaptive execution
  pruned an empty source) or the write decides before it runs (the first
  load of a missing catalog table), the decision runs the pre-write pass.

The DataLoader takes the observed path for a batch spec only when all of
these hold (:meth:`DQFactory.observable` holds the spec-level ones): no
``tag_source_data``; no ``unexpected_rows_pk`` with a sink; no
``expect_queried_column_agg_value_to_be``, no second uniqueness column and
no ``expect_table_row_count_to_be_between``; and exactly one output spec
reads the spec, which is the ACON's first output spec and a non-Delta
``merge`` — so no target has been written when the suite decides.

Observed metrics are accumulators: when a shuffle-map task re-runs, its
counts can be merged twice, so a reported count may over-count. A decision
does not flip on that — an expectation fails on any unexpected row either
way — which is why an exact row-count bound keeps the pre-write pass.
"""

from __future__ import annotations

import datetime
import json
import logging
from contextlib import contextmanager
from typing import Callable, List, NamedTuple, Optional, Tuple

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lakehouse_engine_spark.core.definitions import (
    DQFunctionSpec,
    DQSpec,
    DQValidationsFailedException,
    OutputSpec,
    WriteType,
)
from lakehouse_engine_spark.dq import expectations as E
from lakehouse_engine_spark.utils.observation import observed_row

_LOGGER = logging.getLogger(__name__)

RESULT_SINK_SCHEMA = T.StructType(
    [
        T.StructField("run_name", T.StringType()),
        T.StructField("run_time", T.TimestampType()),
        T.StructField("success", T.BooleanType()),
        T.StructField("spec_id", T.StringType()),
        T.StructField("input_id", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("column", T.StringType()),
        T.StructField("evaluated_expectations", T.LongType()),
        T.StructField("success_percent", T.DoubleType()),
        T.StructField("successful_expectations", T.LongType()),
        T.StructField("unsuccessful_expectations", T.LongType()),
        T.StructField("expectation_type", T.StringType()),
        T.StructField("expectation_success", T.BooleanType()),
        T.StructField("kwargs", T.StringType()),
        T.StructField("unexpected_count", T.LongType()),
        T.StructField("unexpected_percent", T.DoubleType()),
        T.StructField("element_count", T.LongType()),
        T.StructField("run_time_year", T.IntegerType()),
        T.StructField("run_time_month", T.IntegerType()),
        T.StructField("run_time_day", T.IntegerType()),
        T.StructField("source_primary_key", T.ArrayType(T.StringType())),
        T.StructField("processed_keys", T.StringType()),
    ]
)

# `processed_keys` is a control-plane summary of the run's PK tuples (the
# reference joins every pk into one string — unbounded at 100 TB); cap the
# driver-side read so the sink row stays bounded regardless of data volume.
PROCESSED_KEYS_CAP = 10_000

# result_sink_extra_columns paths the native sink already materializes as
# flat columns (reference GE-shape explosion, dq_factory.py:423-527 there).
_KNOWN_EXTRA_COLUMNS = {
    "validation_results.result.*",
    "validation_results.expectation_config.meta",
}


_UNIQUE = "expect_column_values_to_be_unique"
# the per-key row count the observed uniqueness check reads
_KEY_COUNT = "__dq_cnt"


class _Suite(NamedTuple):
    """A compiled suite: each row expectation with its condition (True = row
    OK), the aggregate-level expectations, and the first uniqueness column
    (None without one)."""

    row_fns: List[Tuple[DQFunctionSpec, object]]
    agg_fns: List[DQFunctionSpec]
    unique_col: Optional[str]


class DQFactory:
    """Compiles and runs DQSpec expectation suites."""

    @staticmethod
    def _processed_keys(df: DataFrame, pk: List[str]) -> str:
        """'||'-joined sorted PK tuples of the validated batch (reference
        result-sink column). LIMIT-guarded driver read: at most
        PROCESSED_KEYS_CAP tuples are summarized, so the sink row stays
        bounded at any data volume."""
        vals = (
            df.select(F.concat_ws(", ", *[F.col(c).cast("string") for c in pk])
                      .alias("__pk"))
            .orderBy("__pk")
            .limit(PROCESSED_KEYS_CAP)
            .collect()
        )
        return "||".join(r["__pk"] for r in vals)

    @staticmethod
    def _compile(spec: DQSpec) -> _Suite:
        row_fns: List[Tuple[DQFunctionSpec, object]] = []
        agg_fns: List[DQFunctionSpec] = []
        for fn in list(spec.dq_functions) + list(spec.critical_functions):
            if fn.function in E.ROW_EXPECTATIONS:
                row_fns.append((fn, E.ROW_EXPECTATIONS[fn.function](**fn.args)))
            elif fn.function in E.AGG_EXPECTATIONS:
                agg_fns.append(fn)
            else:
                raise ValueError(f"Unknown DQ expectation: {fn.function}")
        unique_col = next((fn.args["column"] for fn in agg_fns if fn.function == _UNIQUE), None)
        return _Suite(row_fns, agg_fns, unique_col)

    @staticmethod
    def _unexpected(suite: _Suite) -> list:
        """Each row expectation's unexpected count, ``__u{i}``."""
        return [
            F.sum(F.when(~cond, F.lit(1))).alias(f"__u{i}")
            for i, (_, cond) in enumerate(suite.row_fns)
        ]

    @classmethod
    def _suite_stats(cls, df: DataFrame, suite: _Suite) -> dict:
        """ONE aggregate pass over ``df``: the element count ``__n`` and
        every row expectation's unexpected count ``__u{i}``.

        When the suite checks uniqueness, the pass groups by the first
        uniqueness column with a per-key row count plus the per-key
        unexpected sums, then folds the groups into ``__n``, ``__u{i}`` and
        ``__dup`` — the rows whose key occurs more than once, NULL keys
        included, exactly :func:`expectations.eval_unique`."""
        if suite.unique_col is None:
            row = df.agg(F.count(F.lit(1)).alias("__n"), *cls._unexpected(suite)).first()
        else:
            cnt = F.col("__cnt")
            row = (
                df.groupBy(suite.unique_col)
                .agg(F.count(F.lit(1)).alias("__cnt"), *cls._unexpected(suite))
                .agg(
                    F.sum(cnt).alias("__n"),
                    F.sum(F.when(cnt > 1, cnt)).alias("__dup"),
                    *[F.sum(f"__u{i}").alias(f"__u{i}") for i in range(len(suite.row_fns))],
                )
                .first()
            )
        return {k: int(v or 0) for k, v in row.asDict().items()}

    @staticmethod
    @contextmanager
    def cached(spec: DQSpec, df: DataFrame):
        """``cache_df``: keep ``df`` cached while the block runs (the suite
        and the write after it both read it), then release it. A frame the
        caller had cached already stays cached."""
        own = spec.cache_df and df.storageLevel == StorageLevel.NONE
        if own:
            df.cache()
        try:
            yield
        finally:
            if own:
                df.unpersist()

    @classmethod
    def run_dq_process(cls, spark: SparkSession, spec: DQSpec, df: DataFrame) -> DataFrame:
        """The pre-write pass: count the suite over ``df``, then finish."""
        suite = cls._compile(spec)
        return cls._finish(spark, spec, df, suite, cls._suite_stats(df, suite))

    @staticmethod
    def _wants_sink(spec: DQSpec) -> bool:
        return bool(
            spec.result_sink_location or spec.result_sink_db_table
            or (spec.local_fs_root_dir and spec.store_backend == "file_system")
        )

    @classmethod
    def observable(cls, spec: DQSpec) -> bool:
        """True when ``spec``'s counts can ride the write of its frame: no
        tagged rows, no processed-keys summary, no expectation that needs
        its own pass or an exact row count (module docstring)."""
        fns = list(spec.dq_functions) + list(spec.critical_functions)
        names = {fn.function for fn in fns}
        return not (
            spec.tag_source_data
            or (spec.unexpected_rows_pk and cls._wants_sink(spec))
            or names & {"expect_queried_column_agg_value_to_be",
                        "expect_table_row_count_to_be_between"}
            or len({fn.args["column"] for fn in fns if fn.function == _UNIQUE}) > 1
        )

    @classmethod
    def observe(
        cls, spark: SparkSession, spec: DQSpec, df: DataFrame
    ) -> Tuple[DataFrame, Callable[[bool], None]]:
        """Attach the suite's counts to ``df`` as ONE ``observe``.

        Returns the observed frame and the decision. The write that consumes
        the frame calls ``decide(True)`` once its action has run, or
        ``decide(False)`` when it decides before running it. The decision
        reads the observation when it arrived with values, and otherwise
        runs the pre-write pass over ``df``; it then finishes as
        :meth:`run_dq_process` does, raising on a failing suite. Uniqueness
        reads ``count(1) over (partition by key)``, added for the observation
        and dropped after it."""
        suite = cls._compile(spec)
        counts = [F.count(F.lit(1)).alias("__n"), *cls._unexpected(suite)]
        framed = df
        if suite.unique_col is not None:
            framed = df.withColumn(
                _KEY_COUNT, F.count(F.lit(1)).over(Window.partitionBy(suite.unique_col))
            )
            counts.append(F.sum(F.when(F.col(_KEY_COUNT) > 1, F.lit(1))).alias("__dup"))
        observation = Observation()
        observed = framed.observe(observation, *counts)
        if suite.unique_col is not None:
            observed = observed.drop(_KEY_COUNT)

        def decide(ran: bool) -> None:
            row = observed_row(observation) if ran else None
            if row is None:
                stats = cls._suite_stats(df, suite)
            else:
                stats = {k: int(v or 0) for k, v in row.items()}
            cls._finish(spark, spec, df, suite, stats)

        return observed, decide

    @classmethod
    def _finish(
        cls, spark: SparkSession, spec: DQSpec, df: DataFrame, suite: _Suite, stats: dict
    ) -> DataFrame:
        """Decide the suite from its counts: build the result rows, write the
        result sink and the file-store artifact, then raise on failure per
        the spec's policy. Returns ``df``, tagged when the spec asks."""
        n = stats["__n"]
        results = []  # (fn_spec, success, unexpected_count, element_count)
        for i, (fn, _) in enumerate(suite.row_fns):
            u = stats[f"__u{i}"]
            results.append((fn, u == 0, u, n))
        for fn in suite.agg_fns:
            if fn.function == _UNIQUE:
                if fn.args["column"] == suite.unique_col:
                    u, total = stats["__dup"], n
                else:
                    u, total = E.eval_unique(df, fn.args["column"])
                results.append((fn, u == 0, u, total))
            elif fn.function == "expect_table_row_count_to_be_between":
                ok = E.eval_row_count_between(n, **fn.args)
                results.append((fn, ok, 0 if ok else n, n))
            elif fn.function == "expect_queried_column_agg_value_to_be":
                ok = E.eval_queried_agg(spark, df, fn.args.get("template_dict", fn.args))
                results.append((fn, ok, 0 if ok else n, n))
            elif fn.function == "expect_column_to_exist":
                ok = E.eval_column_exists(df, **fn.args)
                results.append((fn, ok, 0 if ok else n, n))
            elif fn.function == "expect_table_column_count_to_be_between":
                ok = E.eval_column_count_between(df, **fn.args)
                results.append((fn, ok, 0 if ok else n, n))

        overall = all(ok for _, ok, _, _ in results)
        run_time = datetime.datetime.now(datetime.timezone.utc)
        # GE checkpoint run-name shape (two timestamp segments) so
        # digit-stripped comparisons against reference controls line up
        run_name = (
            f"{run_time:%Y%m%d-%H%M%S}-{spec.spec_id}-{spec.input_id}"
            f"-{run_time:%Y%m%d%H%M%S}-checkpoint"
        )
        n_ok = sum(1 for _, ok, _, _ in results if ok)
        processed_keys = (
            cls._processed_keys(df, spec.unexpected_rows_pk)
            if cls._wants_sink(spec) and spec.unexpected_rows_pk
            else None
        )
        rows = [
            {
                "run_name": run_name,
                "run_time": run_time,
                "success": overall,
                "spec_id": spec.spec_id,
                "input_id": spec.input_id,
                "source": spec.source,
                "column": (fn.args or {}).get("column"),
                "evaluated_expectations": len(results),
                "success_percent": 100.0 * n_ok / max(len(results), 1),
                "successful_expectations": n_ok,
                "unsuccessful_expectations": len(results) - n_ok,
                "expectation_type": fn.function,
                "expectation_success": bool(ok),
                "kwargs": json.dumps(fn.args, default=str),
                "unexpected_count": int(u),
                "unexpected_percent": (float(u) / cnt * 100.0) if cnt else 0.0,
                "element_count": int(cnt),
                "run_time_year": run_time.year,
                "run_time_month": run_time.month,
                "run_time_day": run_time.day,
                "source_primary_key": spec.unexpected_rows_pk,
                "processed_keys": processed_keys,
            }
            for fn, ok, u, cnt in results
        ]
        if spec.result_sink_explode is False:
            result_df = cls._raw_result_df(
                spark, spec, run_name, run_time, overall, results
            )
        else:
            result_df = spark.createDataFrame(rows, RESULT_SINK_SCHEMA)
        cls._write_result_sink(spark, spec, result_df)
        if spec.local_fs_root_dir and spec.store_backend == "file_system":
            cls._write_fs_store_artifact(spec, run_name, run_time, rows)
        elif spec.local_fs_root_dir and spec.store_backend != "file_system":
            _LOGGER.warning(
                "store_backend=%s writes no local validation artifact "
                "(only file_system is materialized in this engine)",
                spec.store_backend,
            )
        for extra in spec.result_sink_extra_columns or []:
            if extra not in _KNOWN_EXTRA_COLUMNS:
                _LOGGER.warning(
                    "result_sink_extra_columns entry %r is not a recognized "
                    "GE result path; the native sink flattens "
                    "validation_results.result.* fields by default and "
                    "cannot add this column",
                    extra,
                )

        out_df = df
        if spec.tag_source_data:
            out_df = cls._tag_source(df, suite.row_fns, run_name, overall)

        cls._log_or_fail(spec, results)
        return out_df

    # ------------------------------------------------------------- internals

    @staticmethod
    def _raw_result_df(
        spark: SparkSession, spec: DQSpec, run_name, run_time, overall, results
    ) -> DataFrame:
        """``result_sink_explode=False``: ONE row per run in the raw GE
        payload shape — the run-level fields plus the full per-expectation
        results as ONE ``validation_results`` JSON string (each element
        carries ``success`` + ``expectation_config`` + ``result``), the
        reference's non-exploded sink contract
        (``dq_processors/dq_factory.py:809-815``: keep ``results`` as
        ``to_json``, drop statistics/meta/suite_name/id)."""
        validation_results = json.dumps(
            [
                {
                    "success": bool(ok),
                    "expectation_config": {
                        "type": fn.function,
                        "kwargs": fn.args,
                        "meta": getattr(fn, "meta", None),
                    },
                    "result": {
                        "element_count": int(cnt),
                        "unexpected_count": int(u),
                        "unexpected_percent": (
                            float(u) / cnt * 100.0 if cnt else 0.0
                        ),
                    },
                }
                for fn, ok, u, cnt in results
            ],
            default=str,
        )
        schema = T.StructType(
            [
                T.StructField("run_name", T.StringType()),
                T.StructField("run_time", T.TimestampType()),
                T.StructField("success", T.BooleanType()),
                T.StructField("spec_id", T.StringType()),
                T.StructField("input_id", T.StringType()),
                T.StructField("validation_results", T.StringType()),
                T.StructField("source_primary_key", T.ArrayType(T.StringType())),
            ]
        )
        return spark.createDataFrame(
            [
                {
                    "run_name": run_name,
                    "run_time": run_time,
                    "success": bool(overall),
                    "spec_id": spec.spec_id,
                    "input_id": spec.input_id,
                    "validation_results": validation_results,
                    "source_primary_key": spec.unexpected_rows_pk,
                }
            ],
            schema,
        )

    @staticmethod
    def _write_result_sink(spark: SparkSession, spec: DQSpec, result_df: DataFrame) -> None:
        if not (spec.result_sink_location or spec.result_sink_db_table):
            return
        from lakehouse_engine_spark.io.writer_factory import WriterFactory

        WriterFactory.write(
            spark,
            result_df,
            OutputSpec(
                spec_id=f"{spec.spec_id}_result_sink",
                input_id=spec.spec_id,
                write_type=WriteType.APPEND.value,
                data_format=spec.result_sink_format,
                db_table=spec.result_sink_db_table,
                location=spec.result_sink_location,
                partitions=spec.result_sink_partitions,
                options=spec.result_sink_options,
            ),
        )

    @staticmethod
    def _write_fs_store_artifact(spec: DQSpec, run_name, run_time, rows) -> None:
        """GE-file-store-shaped validation artifact: one JSON per run under
        ``local_fs_root_dir/<run_name>/`` (reference ``store_backend:
        file_system`` — what build_data_docs reads; the result SINK stays
        the primary machine-readable output)."""
        import os

        d = os.path.join(spec.local_fs_root_dir, run_name)
        os.makedirs(d, exist_ok=True)
        payload = {
            "run_name": run_name,
            "run_time": run_time.isoformat(),
            "spec_id": spec.spec_id,
            "input_id": spec.input_id,
            "success": all(r["expectation_success"] for r in rows),
            "expectations": [
                {
                    "expectation_type": r["expectation_type"],
                    "kwargs": json.loads(r["kwargs"]),
                    "success": r["expectation_success"],
                    "unexpected_count": r["unexpected_count"],
                    "unexpected_percent": r["unexpected_percent"],
                    "element_count": r["element_count"],
                }
                for r in rows
            ],
        }
        with open(os.path.join(d, "validation_result.json"), "w") as fh:
            json.dump(payload, fh, indent=1, default=str)

    @staticmethod
    def _tag_source(df: DataFrame, row_fns, run_name: str, run_success: bool) -> DataFrame:
        """Append the ``dq_validations`` struct to every source row — computed
        inline (vectorized whens), no join back needed.

        Reference tags via unexpected-index join and carries the struct
        fields run_name / run_success / raised_exceptions / run_row_success
        / dq_failure_details (``dq_processors/validator.py:136-283``);
        evaluating the same conditions in the projection is plan-equivalent
        and shuffle-free, and emits the same field names so downstream
        consumers of the reference's tag keep working."""
        details = F.array_compact(
            F.array(
                *[
                    F.when(
                        ~cond,
                        F.struct(
                            F.lit(fn.function).alias("expectation_type"),
                            F.lit(json.dumps(fn.args, default=str)).alias("kwargs"),
                        ),
                    ).otherwise(F.lit(None))
                    for fn, cond in row_fns
                ]
            )
        )
        return df.withColumn(
            "dq_validations",
            F.struct(
                F.lit(run_name).alias("run_name"),
                F.lit(run_success).alias("run_success"),
                F.lit(False).alias("raised_exceptions"),
                (F.size(details) == 0).alias("run_row_success"),
                F.when(F.size(details) > 0, details).alias("dq_failure_details"),
            ),
        )

    @staticmethod
    def _log_or_fail(spec: DQSpec, results) -> None:
        failed = [(fn, u, cnt) for fn, ok, u, cnt in results if not ok]
        if not failed:
            return
        critical_ids = {id(f) for f in spec.critical_functions}
        crit_failed = [fn.function for fn, _, _ in failed if id(fn) in critical_ids]
        if crit_failed:
            raise DQValidationsFailedException(
                f"Critical DQ functions failed: {crit_failed}"
            )
        if spec.max_percentage_failure is not None:
            pct = 100.0 * len(failed) / max(len(results), 1)
            if pct > spec.max_percentage_failure:
                raise DQValidationsFailedException(
                    f"DQ failure percentage {pct:.1f}% exceeds "
                    f"max_percentage_failure={spec.max_percentage_failure}"
                )
            return
        if spec.fail_on_error:
            raise DQValidationsFailedException(
                f"DQ validations failed: {[fn.function for fn, _, _ in failed]}"
            )
