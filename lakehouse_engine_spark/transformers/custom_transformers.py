"""Escape hatches: arbitrary PySpark / SQL transformations
(reference ``transformers/custom_transformers.py:12-64``)."""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

from lakehouse_engine_spark.core.definitions import CustomTransformerError
from lakehouse_engine_spark.utils.sql_parser import query_over

TransformerFn = Callable[[DataFrame], DataFrame]


def custom_transformation(custom_transformer: Callable[[DataFrame], DataFrame]) -> TransformerFn:
    """Run a user-provided DataFrame → DataFrame callable."""

    def _custom(df: DataFrame) -> DataFrame:
        try:
            return custom_transformer(df)
        except Exception as e:
            raise CustomTransformerError(f"custom transformer failed: {e}") from e

    return _custom


def sql_transformation(sql: str) -> TransformerFn:
    """Run a SQL statement over registered temp views; the incoming DataFrame
    is available as the view ``lhe_current`` as well, while the statement
    is analyzed."""

    def _sql(df: DataFrame) -> DataFrame:
        return query_over(df, "lhe_current", sql)

    return _sql
