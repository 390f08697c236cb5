"""Snapshot comparison utilities: row-level diff and schema drift.

The operational pair every lakehouse team hand-rolls: "what changed
between yesterday's snapshot and today's?" (row diff — the input to
incident triage and CDC backfills) and "did the upstream schema move
under us?" (drift — the check that catches silently widened columns and
null-rate explosions before they poison a training run). Complements the
engine's Reconciliator (metric-level thresholds) with row- and
column-level answers.

Scale design: ``snapshot_diff`` is ONE full-outer equi-join on the key —
the same shuffle any keyed comparison pays — with a codegen'd null-safe
struct equality for change detection; the summary mode collapses to a
map-side-combined count before anything leaves the executors.
``schema_drift`` aggregates each side once (count + per-column null
counts in a single pass) and joins the two one-row results — column
metadata never touches the data path.
"""

from __future__ import annotations

from typing import Callable, List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakehouse_engine_spark.datapipes.registry import register, register_with

TransformerFn = Callable[[DataFrame], DataFrame]


@register("snapshot_diff")
def snapshot_diff(
    right: DataFrame,
    key_cols: List[str],
    compare_cols: Optional[List[str]] = None,
    mode: str = "summary",  # summary | rows
) -> TransformerFn:
    """Diff the incoming frame (the NEW snapshot) against ``right`` (the
    OLD one) by key: every key is classified ``added`` (new only),
    ``removed`` (old only), ``changed`` (both, compare-tuple differs,
    NULL-safe) or ``unchanged``. ``mode="summary"`` returns
    ``(status, n)``; ``mode="rows"`` returns one row per key with the
    status — feed it to a filter for the CDC-style changed-key list.
    ``compare_cols`` defaults to every shared non-key column. Keys are
    assumed unique per snapshot (pre-aggregate if not — duplicate keys
    would cross-join in the comparison)."""
    if not key_cols:
        raise ValueError("snapshot_diff: key_cols must be non-empty")
    if mode not in ("summary", "rows"):
        raise ValueError(f"snapshot_diff: mode must be summary|rows, got {mode}")

    def _diff(new: DataFrame) -> DataFrame:
        # None -> every shared non-key column; an explicit [] means
        # key-presence-only (no row can be "changed")
        cmp_cols = (
            compare_cols
            if compare_cols is not None
            else [c for c in new.columns
                  if c in set(right.columns) - set(key_cols)]
        )

        def payload(side: DataFrame):
            return (
                F.struct(*[F.col(c) for c in cmp_cols])
                if cmp_cols
                else F.lit(True)
            )

        n = new.select(
            *key_cols,
            payload(new).alias("__new"),
            F.lit(True).alias("__in_new"),
        )
        o = right.select(
            *[
                F.col(k).alias(f"__ok_{i}")
                for i, k in enumerate(key_cols)
            ],
            payload(right).alias("__old"),
            F.lit(True).alias("__in_old"),
        )
        from functools import reduce as _reduce
        from operator import and_ as _and

        # NULL-SAFE key equality: the plain USING full_outer never
        # matches a key with a NULL component, so the SAME key present
        # in both snapshots was reported added AND removed (a CDC
        # consumer would delete+reinsert it every run; r14 review)
        cond = _reduce(
            _and,
            [
                n[k].eqNullSafe(F.col(f"__ok_{i}"))
                for i, k in enumerate(key_cols)
            ],
        )
        joined = n.join(o, cond, "full_outer")
        status = (
            F.when(F.col("__in_old").isNull(), F.lit("added"))
            .when(F.col("__in_new").isNull(), F.lit("removed"))
            .when(F.col("__new").eqNullSafe(F.col("__old")), F.lit("unchanged"))
            .otherwise(F.lit("changed"))
        )
        # key values from whichever side exists — chosen by the presence
        # FLAG, not coalesce (a legitimately-NULL key component must
        # survive as NULL)
        key_exprs = [
            F.when(F.col("__in_new").isNotNull(), F.col(k))
            .otherwise(F.col(f"__ok_{i}"))
            .alias(k)
            for i, k in enumerate(key_cols)
        ]
        rows = joined.select(*key_exprs, status.alias("status"))
        if mode == "rows":
            return rows
        return rows.groupBy("status").agg(
            F.count(F.lit(1)).cast("long").alias("n")
        )

    return _diff


register_with("snapshot_diff_with", snapshot_diff, "right_id", "right")


@register("schema_drift")
def schema_drift(
    right: DataFrame,
    null_pct_threshold: float = 5.0,
) -> TransformerFn:
    """Column-level drift of the incoming frame (NEW) vs ``right`` (OLD):
    one row per column seen on either side with ``status`` —
    ``added`` / ``removed`` / ``type_changed`` / ``null_drift`` (null
    percentage moved more than ``null_pct_threshold`` points) / ``ok`` —
    plus both dtypes and null percentages (rounded to 4). Null rates are
    measured in ONE aggregation pass per side (count + per-column null
    counts); dtypes come from the schema, touching no data."""

    def _drift(new: DataFrame) -> DataFrame:
        spark = new.sparkSession

        def side(df: DataFrame):
            aggs = [F.count(F.lit(1))] + [
                F.sum(F.col(c).isNull().cast("long")) for c in df.columns
            ]
            row = df.agg(*aggs).first()
            total = row[0]  # positional: immune to column-name collisions
            types = dict(df.dtypes)
            # an EMPTY side provides no values at all: report 100% null so
            # a vanished snapshot flags null_drift instead of "ok"
            return {
                c: (
                    types[c],
                    round(100.0 * row[i + 1] / total, 4) if total else 100.0,
                )
                for i, c in enumerate(df.columns)
            }

        new_side, old_side = side(new), side(right)
        out = []
        for c in sorted(set(new_side) | set(old_side)):
            nt, np_ = new_side.get(c, (None, None))
            ot, op_ = old_side.get(c, (None, None))
            if c not in old_side:
                status = "added"
            elif c not in new_side:
                status = "removed"
            elif nt != ot:
                status = "type_changed"
            elif abs(np_ - op_) > null_pct_threshold:
                status = "null_drift"
            else:
                status = "ok"
            out.append((c, status, ot, nt, op_, np_))
        return spark.createDataFrame(
            out,
            "column STRING, status STRING, old_type STRING, new_type STRING, "
            "old_null_pct DOUBLE, new_null_pct DOUBLE",
        )

    return _drift


register_with("schema_drift_with", schema_drift, "right_id", "right")
