"""Temporal operators Spark lacks as built-ins: as-of joins (backward /
forward / nearest, tolerance), bucketed range joins, sessionization,
hopping/trailing windows, skew-salted and fuzzy (Levenshtein) joins,
interval union, and time-bucket gap fill.

The reference engine has none of these (users would reach for
``sql_transformation``); large-scale event/feature pipelines need them
constantly (point-in-time-correct feature lookup, trade/quote matching,
latest-state enrichment, record linkage, coverage stitching).

Scale design for the as-of family — the union-window formulation, NOT a
range join:

* Tag right rows, union both sides, and take ``last(right_payload,
  ignorenulls=True)`` over a window partitioned by the join keys and
  ordered by (ts, side). That is ONE shuffle on the join keys — identical
  cost shape to a regular equi-join — with no time-bucket explosion and no
  O(left × right-per-key) pair enumeration, so it survives 100 TB where a
  ``l.ts BETWEEN r.ts AND r.ts + X`` range join degenerates.
* Equal timestamps: right rows sort before left rows (boolean ordering),
  so a right row at exactly ``l.ts`` matches — the inclusive backward
  as-of (DuckDB/pandas ``merge_asof`` default).
* Skewed keys: the window shuffles on ``on`` exactly like a groupBy —
  salt upstream or rely on AQE skew handling; no operator-specific skew.
* The right payload travels as ONE nullable struct column, so genuinely
  NULL right values still match correctly (``ignorenulls`` skips only
  missing rows, not null fields).
"""

from __future__ import annotations

from typing import Callable, List, Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from lakehouse_engine_spark.datapipes.registry import register, register_with
from lakehouse_engine_spark.utils.timeutils import epoch_us

TransformerFn = Callable[[DataFrame], DataFrame]


@register("range_join", streaming_ok=True)
def range_join(
    right: DataFrame,
    on: List[str],
    left_point: str,
    right_start: str,
    right_end: str,
    bucket_width: int,
    right_value_cols: Optional[List[str]] = None,
    suffix: str = "_r",
) -> TransformerFn:
    """Interval join: left rows to right intervals with
    ``r.start <= l.point <= r.end`` on matching keys — bucketed into an
    equi-join so it scales.

    Scale design: a naive inequality join compiles to
    BroadcastNestedLoopJoin (O(left × right) per key — dead at 100 TB).
    Instead, each right interval explodes into the time buckets of width
    ``bucket_width`` it overlaps, the left point maps to exactly ONE
    bucket, and the join becomes an equi-join on (keys…, bucket) with a
    residual range filter. Each matching pair meets in exactly one bucket
    (the left point's), so no post-join dedup is needed. Choose
    ``bucket_width`` ≈ the typical interval length: explosion factor =
    interval/width + 1.

    Timestamp columns are handled by converting to epoch micros;
    ``bucket_width`` is then in MICROSECONDS (numeric columns: same unit
    as the column).
    """
    if int(bucket_width) < 1:
        # fail fast with the op's name — floor(x / 0) would otherwise
        # surface as an opaque executor-side ANSI DIVIDE_BY_ZERO mid-job
        raise ValueError(
            f"range_join: bucket_width must be >= 1, got {bucket_width}"
        )

    def _join(left: DataFrame) -> DataFrame:
        # epoch_us handles TIMESTAMP, TIMESTAMP_NTZ (session-tz independent
        # wall-clock micros) and DATE — parquet sources surface either
        as_num = epoch_us

        vals = right_value_cols or [
            c for c in right.columns if c not in set(on) | {right_start, right_end}
        ]
        w = int(bucket_width)
        lpoint = as_num(left, left_point)
        rstart, rend = as_num(right, right_start), as_num(right, right_end)

        l2 = left.withColumn("__bucket", F.floor(lpoint / w)).withColumn(
            "__point", lpoint
        )
        r2 = right.select(
            *on,
            rstart.alias("__start"),
            rend.alias("__end"),
            *[F.col(c).alias(f"{c}{suffix}") for c in vals],
        ).withColumn(
            "__bucket",
            F.explode(F.sequence(F.floor(F.col("__start") / w), F.floor(F.col("__end") / w))),
        )
        out = (
            l2.join(r2, [*on, "__bucket"])
            .filter(
                (F.col("__point") >= F.col("__start"))
                & (F.col("__point") <= F.col("__end"))
            )
            .drop("__bucket", "__point", "__start", "__end")
        )
        return out

    return _join


@register("asof_join")
def asof_join(
    right: DataFrame,
    on: List[str],
    left_ts: str = "ts",
    right_ts: Optional[str] = None,
    right_value_cols: Optional[List[str]] = None,
    direction: str = "backward",
    tolerance: Optional[Column] = None,
    suffix: str = "_matched",
    ts_match_col: Optional[str] = None,
) -> TransformerFn:
    """Left as-of join: for each left row, the nearest right row per key.

    ``direction="backward"`` (default): latest right row with
    ``r.ts <= l.ts``; ``"forward"``: earliest right row with
    ``r.ts >= l.ts``; ``"nearest"``: whichever of the two is closer in
    time (ties → backward, matching pandas ``merge_asof``) — computed as
    both directional passes over the SAME key exchange (Catalyst reuses
    it; the second direction costs one extra in-partition sort, never a
    second shuffle) and a codegen'd distance pick. Unmatched left rows
    keep NULLs (left-join semantics). ``tolerance`` (an interval/numeric
    Column matching the ts type difference) nulls out matches farther
    than the bound. ``right_value_cols`` default: every right column not
    in ``on`` + ts. Matched columns appear as ``<col><suffix>``;
    ``ts_match_col`` exposes the matched right timestamp.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"asof_join: unknown direction {direction}")

    def _join(left: DataFrame) -> DataFrame:
        rts = right_ts or left_ts
        vals = right_value_cols or [
            c for c in right.columns if c not in set(on) | {rts}
        ]
        payload = F.struct(
            F.col(rts).alias("__rts"), *[F.col(c) for c in vals]
        )
        payload_type = right.select(payload.alias("p")).schema["p"].dataType

        l2 = left.select(
            *[F.col(c) for c in left.columns],
            F.col(left_ts).alias("__ts"),
            F.lit(True).alias("__is_left"),
            F.lit(None).cast(payload_type).alias("__r"),
        )
        # a right row with a NULL timestamp is unlocatable on the time
        # axis: asc ordering would sort it FIRST (NULLS FIRST) and make
        # it every row's spurious "predecessor" — exclude it up front
        r2 = right.filter(F.col(rts).isNotNull()).select(
            *[
                F.col(c) if c in set(on) else F.lit(None).cast(
                    left.schema[c].dataType
                ).alias(c)
                for c in left.columns
            ],
            F.col(rts).alias("__ts"),
            F.lit(False).alias("__is_left"),
            payload.alias("__r"),
        )

        # backward: ascending ts, right-before-left at ties → last right seen
        # is the latest r.ts <= l.ts. forward: mirror with descending ts.
        # nearest: both passes share the exchange; pick the closer match.
        wb = (
            Window.partitionBy(*on)
            .orderBy(F.col("__ts").asc(), F.col("__is_left").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        wf = (
            Window.partitionBy(*on)
            .orderBy(F.col("__ts").desc(), F.col("__is_left").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        u = l2.unionByName(r2)
        if direction == "backward":
            u = u.withColumn("__m", F.last("__r", ignorenulls=True).over(wb))
        elif direction == "forward":
            u = u.withColumn("__m", F.last("__r", ignorenulls=True).over(wf))
        else:
            mb = F.last("__r", ignorenulls=True).over(wb)
            mf = F.last("__r", ignorenulls=True).over(wf)
            u = u.withColumn("__mb", mb).withColumn("__mf", mf).withColumn(
                "__m",
                F.when(F.col("__mb").isNull(), F.col("__mf"))
                .when(F.col("__mf").isNull(), F.col("__mb"))
                .when(
                    (F.col("__ts") - F.col("__mb.__rts"))
                    <= (F.col("__mf.__rts") - F.col("__ts")),
                    F.col("__mb"),
                )
                .otherwise(F.col("__mf")),
            ).drop("__mb", "__mf")
        matched = u.filter(F.col("__is_left"))
        # a LEFT row with a NULL timestamp has no as-of point: under the
        # forward pass (desc NULLS LAST) it would otherwise match the
        # smallest-ts right row — it gets NULL, like a tolerance miss
        matched = matched.withColumn(
            "__m", F.when(F.col("__ts").isNotNull(), F.col("__m"))
        )
        if tolerance is not None:
            if direction == "backward":
                gap = F.col("__ts") - F.col("__m.__rts")
            elif direction == "forward":
                gap = F.col("__m.__rts") - F.col("__ts")
            else:
                gap = F.greatest(
                    F.col("__ts") - F.col("__m.__rts"),
                    F.col("__m.__rts") - F.col("__ts"),
                )
            matched = matched.withColumn(
                "__m", F.when(gap <= tolerance, F.col("__m"))
            )
        out_cols = [F.col(c) for c in left.columns]
        if ts_match_col:
            out_cols.append(F.col("__m.__rts").alias(ts_match_col))
        out_cols += [F.col(f"__m.{c}").alias(f"{c}{suffix}") for c in vals]
        return matched.select(*out_cols)

    return _join


@register("sessionize", streaming_ok=True)
def sessionize(
    on: List[str],
    ts_col: str = "ts",
    gap: str = "30 minutes",
    aggs: Optional[dict] = None,
) -> TransformerFn:
    """Sessionization: group events per key into sessions separated by
    ``gap`` of inactivity, using Spark's native ``session_window`` — the
    same operator handles batch AND Structured Streaming (with a watermark,
    state cleanup is automatic), so pipelines don't need a separate
    streaming code path.

    Scale design: ``session_window`` is one shuffle on the keys with
    map-side partial session merging — no self-join, no global sort. The
    batch-equivalent formulation (lag + cumulative sum of gap breaks) needs
    a full window sort per key; the native operator is strictly better.

    Output: key cols, ``session_start``/``session_end`` (end = last event
    + gap, Spark semantics), ``n_events`` plus any extra ``aggs``
    ({output_name: SQL aggregate expression}).
    """

    def _sess(df: DataFrame) -> DataFrame:
        extra = [F.expr(e).alias(n) for n, e in (aggs or {}).items()]
        return (
            df.groupBy(*on, F.session_window(F.col(ts_col), gap).alias("__w"))
            .agg(F.count(F.lit(1)).alias("n_events"), *extra)
            .select(
                *on,
                F.col("__w.start").alias("session_start"),
                F.col("__w.end").alias("session_end"),
                "n_events",
                *[F.col(n) for n in (aggs or {})],
            )
        )

    return _sess


@register("hopping_window_agg", streaming_ok=True)
def hopping_window_agg(
    group_cols: List[str],
    ts_col: str = "ts",
    window: str = "1 hour",
    slide: str = "15 minutes",
    aggs: Optional[dict] = None,
) -> TransformerFn:
    """Hopping (sliding) time-window aggregation via Spark's native
    ``F.window(ts, window, slide)`` — overlapping windows for rolling
    rates, burst detection, and rolling-throughput dashboards. The
    identical operator runs under Structured Streaming (add a watermark
    upstream; state is evicted per closed window), so the batch backfill
    and the live stream share one code path.

    Windows are epoch-aligned (1970-01-01 + k*slide), Spark's and
    DuckDB's ``time_bucket`` convention, so results are a pure function
    of the data. Each event lands in ``window/slide`` windows.

    Scale design: Spark expands each row into its ``window/slide``
    window assignments (a codegen'd generator — no self-join, no range
    join) followed by ONE hash aggregation with map-side combine, so the
    shuffle carries only partial aggregates per (group, window), not the
    amplified rows. Cost is linear in rows × overlap factor; keep
    ``window/slide`` modest (e.g. 4–12) at 100 TB — a 1-second slide on
    a 1-day window is an anti-pattern in any engine.

    Output: group cols, ``window_start``/``window_end``, ``n_events``,
    plus any extra ``aggs`` ({output_name: SQL aggregate expression}).
    """

    def _hop(df: DataFrame) -> DataFrame:
        extra = [F.expr(e).alias(n) for n, e in (aggs or {}).items()]
        return (
            df.groupBy(*group_cols, F.window(F.col(ts_col), window, slide).alias("__w"))
            .agg(F.count(F.lit(1)).alias("n_events"), *extra)
            .select(
                *group_cols,
                F.col("__w.start").alias("window_start"),
                F.col("__w.end").alias("window_end"),
                "n_events",
                *[F.col(n) for n in (aggs or {})],
            )
        )

    return _hop


_DURATION_UNITS_US = {
    "second": 1_000_000,
    "seconds": 1_000_000,
    "minute": 60_000_000,
    "minutes": 60_000_000,
    "hour": 3_600_000_000,
    "hours": 3_600_000_000,
    "day": 86_400_000_000,
    "days": 86_400_000_000,
}


def _duration_us(duration: str) -> int:
    parts = duration.strip().lower().split()
    if len(parts) != 2 or parts[1] not in _DURATION_UNITS_US:
        raise ValueError(
            f"duration must be '<n> <seconds|minutes|hours|days>', got {duration!r}"
        )
    return int(parts[0]) * _DURATION_UNITS_US[parts[1]]


@register("trailing_window_agg")
def trailing_window_agg(
    on: List[str],
    ts_col: str = "ts",
    duration: str = "24 hours",
    aggs: Optional[dict] = None,
) -> TransformerFn:
    """Per-key trailing time-range metrics: for every event, aggregate the
    key's events in ``[ts - duration, ts]`` (inclusive both ends — SQL
    ``RANGE BETWEEN <duration> PRECEDING AND CURRENT ROW`` semantics,
    equal-timestamp peers all included). The rolling-feature primitive —
    7-day spend, 24 h event velocity, abuse-rate lookbacks — attached to
    every row, unlike ``hopping_window_agg`` which emits one row per
    window.

    Adds ``n_trailing`` plus any ``aggs`` ({output_name: SQL aggregate
    expression over the frame}).

    Scale design: ONE shuffle on the keys + a per-key sort — Spark
    evaluates the RANGE frame with a sliding two-pointer pass over the
    sorted partition, never materializing per-row neighbor sets (an O(n·w)
    self-join at 100 TB). The range is computed on epoch microseconds
    (timestamp-type-agnostic, NTZ-safe). Skewed keys shuffle exactly like
    a groupBy — AQE or upstream salting applies unchanged.
    """
    frame_us = _duration_us(duration)

    def _trail(df: DataFrame) -> DataFrame:
        out = df.withColumn("__ts_us", epoch_us(df, ts_col))
        w = (
            Window.partitionBy(*on)
            .orderBy("__ts_us")
            .rangeBetween(-frame_us, 0)
        )
        cols = [F.count(F.lit(1)).over(w).alias("n_trailing")] + [
            F.expr(e).over(w).alias(n) for n, e in (aggs or {}).items()
        ]
        return out.select("*", *cols).drop("__ts_us")

    return _trail


@register("salted_join", streaming_ok=True)
def salted_join(
    right: DataFrame,
    on: List[str],
    how: str = "inner",
    salt: int = 16,
    salt_on: Optional[List[str]] = None,
) -> TransformerFn:
    """Skew-salted equi-join: result-identical to ``left.join(right, on,
    how)``, but the join key is widened with a deterministic salt so a hot
    key's rows spread over ``salt`` shuffle partitions instead of one.

    For the case AQE's skew-split can't fix: AQE splits an oversized
    sort-merge partition only on the MAP side — a single hot key still
    lands every matching row pair in one reducer when the downstream needs
    the join's own partitioning (e.g. an agg on the join key right after),
    and AQE never splits when the join is immediately consumed by such an
    exchange reuse. Salting re-keys the exchange itself: the big/skewed
    LEFT side gets ``pmod(xxhash64(salt_on), salt)`` (deterministic — no
    rand(), so retried tasks re-derive the same salt and the operator is
    replayable), the small-but-unbroadcastable RIGHT side is replicated
    ``salt`` times via ``explode(sequence(...))``, and the join runs on
    ``on + [__salt]``. Each (left row, right row) pair meets in exactly
    one replica, so inner/left semantics are preserved row-for-row; right
    shuffle volume grows ``salt``× — the standard trade, cheap when right
    is the dimension side. ``how`` is restricted to inner/left: under
    right/full, unmatched right rows would surface once per replica.

    When the right side fits in memory, broadcast it instead (the engine's
    ``join`` transformer with a broadcast hint) — salting is for the
    middle regime: right too big to broadcast, left skewed.
    """
    nsalt = int(salt)
    if nsalt < 1:
        raise ValueError(f"salted_join: salt must be >= 1, got {salt}")
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join: how must be inner|left (right/full would "
            f"duplicate unmatched right rows per replica), got {how!r}"
        )

    def _join(left: DataFrame) -> DataFrame:
        if salt_on:
            scols = list(salt_on)
        else:
            # default salt hash: every HASHABLE left column — xxhash64
            # rejects MapType (DATATYPE_MISMATCH.HASH_MAP_TYPE), and the
            # resulting job error would never mention salt_on
            scols = [
                f.name
                for f in left.schema.fields
                if "map<" not in f.dataType.simpleString()
            ]
            if not scols:
                raise ValueError(
                    "salted_join: no hashable left columns for the "
                    "default salt hash (map-typed columns cannot be "
                    "hashed) — pass salt_on explicitly"
                )
        l2 = left.withColumn(
            "__salt",
            F.pmod(F.xxhash64(*[F.col(c) for c in scols]), F.lit(nsalt)).cast("int"),
        )
        r2 = right.withColumn(
            "__salt", F.explode(F.sequence(F.lit(0), F.lit(nsalt - 1)))
        )
        return l2.join(r2, on=list(on) + ["__salt"], how=how).drop("__salt")

    return _join


register_with("asof_join_with", asof_join, "right_id", "right")
register_with("range_join_with", range_join, "right_id", "right", streaming_ok=True)
register_with("salted_join_with", salted_join, "right_id", "right", streaming_ok=True)


@register("fuzzy_join", streaming_ok=True)
def fuzzy_join(
    right: DataFrame,
    left_col: str,
    right_col: str,
    max_distance: int = 2,
    block_on: Optional[List[str]] = None,
    suffix: str = "_r",
    distance_col: str = "distance",
) -> TransformerFn:
    """Approximate string matching (record linkage): join left rows to
    right rows whose ``right_col`` is within Levenshtein distance
    ``max_distance`` of ``left_col`` — inner semantics, all matches, with
    the edit distance in ``distance_col``.

    Scale design — blocking, never all-pairs: candidate pairs must agree
    on the ``block_on`` equality keys AND on a string-length band. An edit
    distance ≤ d forces ``|len(l) − len(r)| ≤ d``, so with band width
    ``d+1`` the two bands differ by at most 1 — the left side explodes to
    its band ±1 (3 rows) and the join is a plain equi-join on
    ``block_on + [band]``; each true pair meets in exactly one band (the
    right row's own band), duplicates are impossible. The O(len²) DP of
    ``levenshtein`` (JVM codegen, no Python) then runs ONLY on candidates,
    and the `` <= d`` residual filters them. Choose ``block_on`` to bound
    block sizes (a null blocking key drops the row — SQL equality
    semantics — which is what record-linkage blocking wants).
    """
    if max_distance < 0:
        raise ValueError(f"fuzzy_join: max_distance must be >= 0, got {max_distance}")
    width = max_distance + 1

    def _join(left: DataFrame) -> DataFrame:
        blocks = list(block_on or [])
        overlap = {c for c in right.columns if c in set(left.columns) - set(blocks)}
        r2 = right
        for c in overlap:
            r2 = r2.withColumnRenamed(c, c + suffix)
        rcol = right_col + suffix if right_col in overlap else right_col
        r2 = r2.withColumn(
            "__band", F.floor(F.length(F.col(rcol)) / width).cast("long")
        )
        lband = F.floor(F.length(F.col(left_col)) / width).cast("long")
        l2 = left.withColumn(
            "__band",
            F.explode(F.array(lband - 1, lband, lband + 1)),
        )
        dist = F.levenshtein(F.col(left_col), F.col(rcol))
        return (
            l2.join(r2, on=blocks + ["__band"], how="inner")
            .withColumn(distance_col, dist)
            .filter(F.col(distance_col) <= max_distance)
            .drop("__band")
        )

    return _join


register_with("fuzzy_join_with", fuzzy_join, "right_id", "right", streaming_ok=True)


@register("merge_intervals")
def merge_intervals(
    on: List[str],
    start_col: str = "start",
    end_col: str = "end",
    merge_touching: bool = True,
) -> TransformerFn:
    """Collapse overlapping (and, by default, touching) intervals per key
    into their union: one output row per maximal merged span with
    ``start``/``end``/``n_merged`` — coverage windows from session spans,
    downtime stitching, speech-segment merging.

    The classic sweep is sequential; the distributed form is two stacked
    steps on ONE key partitioning: a running ``max(end)`` over preceding
    rows (interval i starts a new span iff its start exceeds every
    earlier end), a running sum of those new-span flags as the span id,
    then a min/max aggregate per (key, span id). Both windows and the
    final aggregate hash-partition on the SAME key columns, so Catalyst
    plans one Exchange for the windows and one map-side-combined agg —
    no self-joins, no interval explosion, cost identical to any per-key
    sort regardless of overlap depth. Intervals are assumed well-formed
    (``end >= start``); an inverted interval merges as if it were the
    point at its start.
    """
    if not on:
        raise ValueError("merge_intervals: on must be non-empty")

    def _merge(df: DataFrame) -> DataFrame:
        w = Window.partitionBy(*on).orderBy(start_col, end_col)
        prev_max_end = F.max(end_col).over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        )
        gap = (
            F.col(start_col) > prev_max_end
            if merge_touching
            else F.col(start_col) >= prev_max_end
        )
        new_span = F.when(prev_max_end.isNull() | gap, 1).otherwise(0)
        spans = df.withColumn(
            "__span",
            F.sum(new_span).over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        return (
            spans.groupBy(*on, "__span")
            .agg(
                F.min(start_col).alias(start_col),
                F.max(end_col).alias(end_col),
                F.count(F.lit(1)).cast("long").alias("n_merged"),
            )
            .drop("__span")
        )

    return _merge


@register("gap_fill")
def gap_fill(
    on: List[str],
    ts_col: str,
    step: str,
    aggs: dict,
    fill: Optional[dict] = None,
    max_buckets_per_key: int = 1_000_000,
) -> TransformerFn:
    """Dense per-key time series: aggregate events into fixed buckets of
    ``step`` (an INTERVAL literal, e.g. ``'1 hour'``), then materialize
    EVERY bucket between each key's first and last activity — missing
    buckets appear with the ``fill`` value per metric (default NULL; pass
    e.g. ``{"n": 0}``) so downstream window math (EWMA, trailing windows,
    trend fits) sees an unbroken grid instead of silently skipping quiet
    periods. ``aggs`` maps output name → SQL aggregate expression.

    Scale design: the bucket aggregation is one map-side-combined
    shuffle; the grid comes from ``sequence(min, max, step)`` per key —
    a codegen row expansion proportional to the OUTPUT series length,
    never a calendar cross-join — and the final attach is an equi-join
    on (key, bucket) co-partitioned with the aggregation. A key's grid
    spans only ITS OWN active range, so one ancient key doesn't inflate
    everyone's series.

    Pathological-input guard: the per-key ``sequence`` materializes the
    key's whole grid as ONE array — a sparse key spanning years at a
    fine ``step`` (e.g. 10 y × '1 second' ≈ 3×10⁸ elements) would OOM the
    executor before the explode. ``max_buckets_per_key`` (default 1M,
    ≈16 MB of timestamps) is enforced INSIDE the row expression with
    ``raise_error`` — no extra pass, the job fails fast naming the
    offending span instead of dying on an opaque array allocation.
    Coarsen ``step``, pre-split the span, or raise the cap explicitly.
    """
    if not on:
        raise ValueError("gap_fill: on must be non-empty")
    if not aggs:
        raise ValueError("gap_fill: aggs must be non-empty")
    if max_buckets_per_key < 1:
        raise ValueError(
            f"gap_fill: max_buckets_per_key must be >= 1, got {max_buckets_per_key}"
        )

    def _fill(df: DataFrame) -> DataFrame:
        # bucket = the step-aligned tumbling-window start (native F.window)
        b = F.window(F.col(ts_col), step).getField("start")
        agged = df.groupBy(*on, b.alias("bucket")).agg(
            *[F.expr(e).alias(a) for a, e in aggs.items()]
        )
        spans = agged.groupBy(*on).agg(
            F.min("bucket").alias("__lo"), F.max("bucket").alias("__hi")
        )
        # F.window only accepts fixed day-time durations, so the step is a
        # constant number of microseconds — computable from literals
        step_us = F.timestamp_diff(
            "MICROSECOND",
            F.to_timestamp_ntz(F.lit("1970-01-01 00:00:00")),
            F.expr(f"to_timestamp_ntz('1970-01-01 00:00:00') + INTERVAL {step}"),
        )
        n_buckets = (
            F.timestamp_diff("MICROSECOND", F.col("__lo"), F.col("__hi"))
            / step_us
        ).cast("long") + F.lit(1)
        err_msg = F.concat(
            F.lit("gap_fill: a key's grid needs "),
            n_buckets.cast("string"),
            F.lit(
                f" buckets at step '{step}' (cap"
                f" max_buckets_per_key={max_buckets_per_key});"
                " coarsen step, split the span, or raise the cap"
            ),
        )
        guarded_hi = F.when(
            n_buckets > max_buckets_per_key, F.raise_error(err_msg)
        ).otherwise(F.col("__hi"))
        grid = spans.select(
            *on,
            F.explode(
                F.sequence("__lo", guarded_hi, F.expr(f"INTERVAL {step}"))
            ).alias("bucket"),
        )
        out = grid.join(agged, on=list(on) + ["bucket"], how="left")
        for a in aggs:
            fv = (fill or {}).get(a)
            if fv is not None:
                out = out.withColumn(a, F.coalesce(F.col(a), F.lit(fv)))
        return out

    return _fill


@register("interval_overlap_join", streaming_ok=True)
def interval_overlap_join(
    right: DataFrame,
    on: List[str],
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    bucket_width: int,
    right_value_cols: Optional[List[str]] = None,
    suffix: str = "_r",
    max_buckets_per_interval: int = 10_000,
) -> TransformerFn:
    """Interval × interval overlap join: pairs with
    ``l.start <= r.end AND r.start <= l.end`` on matching keys —
    sessions × incidents, availability × bookings, the genomics/temporal
    primitive ``range_join`` (point-in-interval) cannot express.

    Scale design: the naive inequality join is a per-key nested loop.
    Here BOTH sides explode into width-``bucket_width`` buckets and meet
    in an equi-join on (keys…, bucket); a pair overlapping many buckets
    would duplicate, so the join keeps only the pair's FIRST shared
    bucket — ``bucket == greatest(floor(l.start/w), floor(r.start/w))``,
    an algebraic dedup requiring NO distinct/shuffle afterwards: each
    overlapping pair satisfies it in exactly one bucket, non-overlapping
    pairs in none. Explosion factor = span/width + 1 per row, capped by
    ``max_buckets_per_interval`` with an in-row ``raise_error`` (the
    gap_fill fail-fast convention) so a malformed open-ended interval
    fails the job loudly instead of exploding a task. Temporal columns
    convert via epoch micros (``bucket_width`` then in MICROSECONDS).

    An empty ``on`` degrades the equi-join to bucket-only keys — every
    interval pair in the same time bucket meets, which is the global
    (keyless) overlap join and can be quadratic in dense regions; pass
    keys whenever the data has them.
    """
    if int(bucket_width) < 1:
        raise ValueError(
            f"interval_overlap_join: bucket_width must be >= 1, got "
            f"{bucket_width}"
        )
    if max_buckets_per_interval < 1:
        raise ValueError(
            "interval_overlap_join: max_buckets_per_interval must be >= 1, "
            f"got {max_buckets_per_interval}"
        )
    for col in (right_start, right_end):
        if col not in right.columns:
            raise ValueError(
                f"interval_overlap_join: right column {col!r} not in the "
                f"right frame (have {right.columns})"
            )

    def _join(left: DataFrame) -> DataFrame:
        for col in (left_start, left_end):
            if col not in left.columns:
                raise ValueError(
                    f"interval_overlap_join: left column {col!r} not in "
                    f"the left frame (have {left.columns})"
                )
        w = int(bucket_width)
        vals = right_value_cols or [
            c
            for c in right.columns
            if c not in set(on) | {right_start, right_end}
        ]
        ls, le = epoch_us(left, left_start), epoch_us(left, left_end)
        rs, re_ = epoch_us(right, right_start), epoch_us(right, right_end)

        def _explode(df, s, e, tag):
            b0, b1 = F.floor(s / w), F.floor(e / w)
            guard = F.when(
                b1 - b0 + 1 > max_buckets_per_interval,
                F.raise_error(
                    F.concat(
                        F.lit(
                            f"interval_overlap_join: {tag} interval spans "
                            "more than "
                            f"{max_buckets_per_interval} buckets of width "
                            f"{w} ("
                        ),
                        (b1 - b0 + 1).cast("string"),
                        F.lit(
                            ") — raise bucket_width or fix open-ended "
                            "intervals"
                        ),
                    )
                ).cast("long"),
            ).otherwise(b0)
            return df.withColumn("__b0", guard).withColumn(
                "__bucket", F.explode(F.sequence(F.col("__b0"), b1))
            )

        l2 = _explode(
            left.withColumn("__ls", ls).withColumn("__le", le), ls, le, "left"
        )
        r2 = _explode(
            right.select(
                *on,
                rs.alias("__rs"),
                re_.alias("__re"),
                *[F.col(c).alias(f"{c}{suffix}") for c in vals],
            ),
            F.col("__rs"),
            F.col("__re"),
            "right",
        ).withColumnRenamed("__b0", "__rb0")
        out = (
            l2.join(r2, [*on, "__bucket"])
            .filter(
                (F.col("__ls") <= F.col("__re"))
                & (F.col("__rs") <= F.col("__le"))
                & (
                    F.col("__bucket")
                    == F.greatest(F.col("__b0"), F.col("__rb0"))
                )
            )
            .drop("__bucket", "__b0", "__rb0", "__ls", "__le")
            .withColumnsRenamed(
                {"__rs": f"{right_start}{suffix}", "__re": f"{right_end}{suffix}"}
            )
        )
        return out

    return _join
