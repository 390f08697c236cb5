"""DQValidator — data quality at rest on any input.

Reference parity: ``algorithms/dq_validator.py:87-169``. Streaming inputs run
the DQ suite per micro-batch via trigger-once foreachBatch; on failure with
``restore_prev_version`` a Delta time-travel rollback is attempted (Delta
runtimes only). A ``cache_df`` cache is released when the suite is done.
"""

from __future__ import annotations

from lakehouse_engine_spark.core.definitions import DQValidationsFailedException
from lakehouse_engine_spark.core.exec_env import ExecEnv
from lakehouse_engine_spark.dq.dq_factory import DQFactory
from lakehouse_engine_spark.io.reader_factory import ReaderFactory
from lakehouse_engine_spark.utils.acon_utils import parse_dq_spec, parse_input_spec


class DQValidator:
    """Executes a DQ-validation ACON."""

    def __init__(self, acon: dict):
        self.spark = ExecEnv.get_or_create(config=acon.get("exec_env"))
        self.input_spec = parse_input_spec(acon["input_spec"])
        self.dq_spec = parse_dq_spec(acon["dq_spec"], execution_point="at_rest")
        self.restore_prev_version = acon.get("restore_prev_version", False)

    def execute(self):
        df = ReaderFactory.get_data(self.spark, self.input_spec)
        try:
            if df.isStreaming:
                errors = []

                def _validate(batch_df, _):
                    try:
                        with DQFactory.cached(self.dq_spec, batch_df):
                            DQFactory.run_dq_process(batch_df.sparkSession, self.dq_spec, batch_df)
                    except DQValidationsFailedException as e:
                        errors.append(e)

                (
                    df.writeStream.trigger(availableNow=True)
                    .foreachBatch(_validate)
                    .start()
                    .awaitTermination()
                )
                if errors:
                    raise errors[0]
                return None
            with DQFactory.cached(self.dq_spec, df):
                return DQFactory.run_dq_process(self.spark, self.dq_spec, df)
        except DQValidationsFailedException:
            if self.restore_prev_version:
                self._restore_previous_version()
            raise

    def _restore_previous_version(self) -> None:
        """Delta time-travel rollback (reference ``dq_validator.py:154-169``)."""
        if not ExecEnv.delta_available():
            raise NotImplementedError("restore_prev_version requires delta-spark")
        from delta.tables import DeltaTable
        from pyspark.sql import functions as F

        if self.input_spec.db_table:
            tbl = DeltaTable.forName(self.spark, self.input_spec.db_table)
        else:
            tbl = DeltaTable.forPath(self.spark, self.input_spec.location)
        prev = tbl.history().agg(F.max("version")).first()[0] - 1
        tbl.restoreToVersion(prev)
