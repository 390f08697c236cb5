"""Expectation registry — GE-compatible names compiled to Spark Columns.

Each *row-level* expectation builds a boolean Column (True = row OK); the DQ
factory evaluates ALL of them in ONE aggregate pass
(``sum(when(~cond,1))`` per expectation), unlike the reference's
one-GE-checkpoint-per-suite design — same results, one job.
*Aggregate-level* expectations are evaluated against aggregates.
``expect_column_values_to_be_unique`` rides in the row pass (grouped by its
column, the row counts folded over the groups); :func:`eval_unique` is its
definition and the separate pass for a second uniqueness column.

Includes the reference's 7 custom expectations
(``dq_processors/custom_expectations/*.py``) plus the common core GE names its
tests use.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lakehouse_engine_spark.utils.sql_parser import query_over

RowCond = Callable[..., Column]


def _not_null(column: str, **_: object) -> Column:
    return F.col(column).isNotNull()


def _not_null_or_empty(column: str, **_: object) -> Column:
    """Reference ``expect_column_values_to_not_be_null_or_empty_string``."""
    return F.col(column).isNotNull() & (F.trim(F.col(column).cast("string")) != "")


def _between(column: str, min_value=None, max_value=None, **_: object) -> Column:
    cond = F.lit(True)
    if min_value is not None:
        cond = cond & (F.col(column) >= F.lit(min_value))
    if max_value is not None:
        cond = cond & (F.col(column) <= F.lit(max_value))
    return F.col(column).isNull() | cond  # GE: nulls don't count as unexpected


def _in_set(column: str, value_set=None, **_: object) -> Column:
    return F.col(column).isNull() | F.col(column).isin(list(value_set or []))


def _lengths_between(column: str, min_value=None, max_value=None, **_: object) -> Column:
    ln = F.length(F.col(column).cast("string"))
    cond = F.lit(True)
    if min_value is not None:
        cond = cond & (ln >= int(min_value))
    if max_value is not None:
        cond = cond & (ln <= int(max_value))
    return F.col(column).isNull() | cond


def _match_regex(column: str, regex: str = ".*", **_: object) -> Column:
    return F.col(column).isNull() | F.col(column).rlike(regex)


def _pair_a_gt_b(column_A: str, column_B: str, or_equal: bool = False, **_: object) -> Column:
    a, b = F.col(column_A), F.col(column_B)
    return a.isNull() | b.isNull() | ((a >= b) if or_equal else (a > b))


def _pair_a_le_b(column_A: str, column_B: str, margin: float = 0, **_: object) -> Column:
    """Reference ``expect_column_pair_a_to_be_smaller_or_equal_than_b`` —
    ``A <= B + margin`` (custom_expectations/…_smaller_or_equal_than_b.py:33-60)."""
    a, b = F.col(column_A), F.col(column_B)
    return a.isNull() | b.isNull() | (a <= b + F.lit(margin or 0))


def _pair_a_ne_b(column_A: str, column_B: str, **_: object) -> Column:
    """Reference ``expect_column_pair_a_to_be_not_equal_to_b`` (null-safe)."""
    return ~F.col(column_A).eqNullSafe(F.col(column_B))


def _pair_date_a_ge_b(column_A: str, column_B: str, **_: object) -> Column:
    """Reference ``expect_column_pair_date_a_to_be_greater_than_or_equal_to_date_b``."""
    a, b = F.to_date(F.col(column_A)), F.to_date(F.col(column_B))
    return a.isNull() | b.isNull() | (a >= b)


def _a_must_equal_b_or_c(
    column_A: str = None,
    column_B: str = None,
    column_C: str = None,
    column_list=None,
    validation_regex_b: str = ".*",
    validation_regex_c: str = ".*",
    **_: object,
) -> Column:
    """Reference ``expect_multicolumn_column_a_must_equal_b_or_c``. The
    reference form takes ``column_list=[a, b, c]`` with OPTIONAL
    per-column regex guards and is reference-exact
    (custom_expectations/expect_multicolumn_column_a_must_equal_b_or_c.py:43-55):
    a is non-null AND ((b non-null, b matches regex_b, a == b) OR
    (b null, c matches regex_c, a == c)). The legacy ``column_A/B/C``
    triple keeps the earlier null-safe-equality contract."""
    if column_list is not None:
        a, b, c = (F.col(x) for x in column_list)
        return a.isNotNull() & (
            (
                b.isNotNull()
                & b.cast("string").rlike(validation_regex_b)
                & (a == b)
            )
            | (
                b.isNull()
                & c.cast("string").rlike(validation_regex_c)
                & (a == c)
            )
        )
    a = F.col(column_A)
    return a.eqNullSafe(F.col(column_B)) | a.eqNullSafe(F.col(column_C))


def _date_not_older_than(column: str, timeframe: Optional[dict] = None, **_: object) -> Column:
    """Reference ``expect_column_values_to_be_date_not_older_than`` — value
    within ``timeframe`` (days/hours/…) of now."""
    tf = timeframe or {"days": 1}
    seconds = (
        tf.get("days", 0) * 86400
        + tf.get("hours", 0) * 3600
        + tf.get("minutes", 0) * 60
        + tf.get("seconds", 0)
        + tf.get("weeks", 0) * 7 * 86400
        + tf.get("years", 0) * 365 * 86400
    )
    cutoff = F.current_timestamp() - F.expr(f"INTERVAL {int(seconds)} SECOND")
    c = F.to_timestamp(F.col(column))
    return c.isNull() | (c >= cutoff)


def _pair_equal(column_A: str, column_B: str, **_: object):
    """GE ``expect_column_pair_values_to_be_equal`` (null-safe)."""
    return F.col(column_A).eqNullSafe(F.col(column_B))


def _multicolumn_sum_equal(column_list, sum_total, **_: object):
    """GE ``expect_multicolumn_sum_to_equal``: per row, the sum of the
    listed columns equals ``sum_total``."""
    total = None
    for c in column_list:
        piece = F.coalesce(F.col(c).cast("double"), F.lit(0.0))
        total = piece if total is None else total + piece
    return total == F.lit(float(sum_total))


ROW_EXPECTATIONS: dict = {
    "expect_column_values_to_not_be_null": _not_null,
    "expect_column_values_to_not_be_null_or_empty_string": _not_null_or_empty,
    "expect_column_values_to_be_between": _between,
    "expect_column_values_to_be_in_set": _in_set,
    "expect_column_value_lengths_to_be_between": _lengths_between,
    "expect_column_values_to_match_regex": _match_regex,
    "expect_column_pair_values_a_to_be_greater_than_b": _pair_a_gt_b,
    "expect_column_pair_a_to_be_smaller_or_equal_than_b": _pair_a_le_b,
    "expect_column_pair_a_to_be_not_equal_to_b": _pair_a_ne_b,
    "expect_column_pair_date_a_to_be_greater_than_or_equal_to_date_b": _pair_date_a_ge_b,
    "expect_multicolumn_column_a_must_equal_b_or_c": _a_must_equal_b_or_c,
    "expect_column_values_to_be_date_not_older_than": _date_not_older_than,
    "expect_column_pair_values_to_be_equal": _pair_equal,
    "expect_multicolumn_sum_to_equal": _multicolumn_sum_equal,
}


# ---------------------------------------------------------------- aggregate


def eval_unique(df: DataFrame, column: str) -> tuple:
    """``expect_column_values_to_be_unique`` — rows sharing a duplicated value
    are unexpected (one groupBy job, map-side combined)."""
    row = (
        df.groupBy(column)
        .count()
        .agg(
            F.coalesce(F.sum(F.when(F.col("count") > 1, F.col("count"))), F.lit(0)).alias("dups"),
            F.coalesce(F.sum("count"), F.lit(0)).alias("total"),
        )
        .first()
    )
    return int(row["dups"]), int(row["total"])


def eval_row_count_between(df_count: int, min_value=None, max_value=None, **_: object) -> bool:
    ok = True
    if min_value is not None:
        ok = ok and df_count >= min_value
    if max_value is not None:
        ok = ok and df_count <= max_value
    return ok


def eval_queried_agg(
    spark, df: DataFrame, template_dict: dict, **_: object
) -> bool:
    """Reference ``expect_queried_column_agg_value_to_be``.

    Reference template form (custom_expectations/
    expect_queried_column_agg_value_to_be.py:29-172): ``column`` +
    ``agg_type`` + ``group_column_list`` render the grouped-agg query,
    then ``condition`` checks each group's value — ``between``
    (min <= y <= max), ``lesser`` (y < max_value, strict), ``greater``
    (y > min_value, strict). One deliberate divergence: the reference's
    ``_validate_condition`` overwrites its result per group so only the
    LAST group decides; here EVERY group must satisfy (strictly
    stronger — any fixture that passes there passes here for the same
    reason). The legacy ``user_query``/``query`` single-value form keeps
    its inclusive min/max contract. Either query reads ``df`` as the temp
    view ``batch``, which does not outlive it."""
    if "column" in template_dict and "agg_type" in template_dict:
        col = template_dict["column"]
        agg = template_dict["agg_type"]
        groups = str(template_dict.get("group_column_list", "")).strip()
        cond = template_dict.get("condition", "between")
        sel = f"{groups}, " if groups else ""
        q = f"SELECT {sel}{agg}({col}) AS __agg FROM batch"
        if groups:
            q += f" GROUP BY {groups}"
        rows = query_over(df, "batch", q).collect()
        if not rows:
            return False
        vals = [r["__agg"] for r in rows]
        if any(v is None for v in vals):
            return False

        # the reference's own fixture declares numeric columns as STRING
        # (its GE query then aggregates lexicographically); keep the query
        # semantics but compare numerically wherever both sides parse
        def _num(v):
            try:
                return float(v)
            except (TypeError, ValueError):
                return v

        vals = [_num(v) for v in vals]
        try:
            if cond == "lesser":
                hi = _num(template_dict["max_value"])
                return all(v < hi for v in vals)
            if cond == "greater":
                lo = _num(template_dict["min_value"])
                return all(v > lo for v in vals)
            lo = _num(template_dict["min_value"])
            hi = _num(template_dict["max_value"])
            return all(lo <= v <= hi for v in vals)
        except TypeError:
            # a group value that doesn't parse numerically (e.g. max over
            # strings landing on 'N/A') can't satisfy a numeric bound —
            # the EXPECTATION fails; the run must not crash
            return False
    q = template_dict["user_query"] if "user_query" in template_dict else template_dict["query"]
    row = query_over(df, "batch", q).first()
    val = row[0] if row is not None else None
    lo, hi = template_dict.get("min_value"), template_dict.get("max_value")
    if val is None:
        return False
    return (lo is None or val >= lo) and (hi is None or val <= hi)


def eval_column_exists(df: DataFrame, column: str, **_: object) -> bool:
    """``expect_column_to_exist`` — a SCHEMA-level check (no data pass):
    true iff the column is present in the frame."""
    return column in df.columns


def eval_column_count_between(
    df: DataFrame, min_value=None, max_value=None, **_: object
) -> bool:
    """``expect_table_column_count_to_be_between`` — schema-level (no
    data pass): the frame's column count within [min, max]."""
    n = len(df.columns)
    return (min_value is None or n >= min_value) and (
        max_value is None or n <= max_value
    )


AGG_EXPECTATIONS = {
    "expect_column_values_to_be_unique",
    "expect_table_row_count_to_be_between",
    "expect_table_column_count_to_be_between",
    "expect_queried_column_agg_value_to_be",
    "expect_column_to_exist",
}
