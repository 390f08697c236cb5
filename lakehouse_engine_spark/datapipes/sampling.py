"""Deterministic sampling / split assignment for corpus curation.

Training-data pipelines need reproducible subsetting that is stable across
runs, machines, and data scale: hold-out splits that never leak when the
corpus grows, and fractional samples that can be re-derived instead of
stored. Both operators here are pure projections over a portable content
hash — no shuffle, no state, no RNG — so they cost one codegen'd map pass
at any scale and compose with partition pruning.

Hashing matches the datapipes convention (see ``dedup.py``): the first 15
hex chars of ``md5`` as a 60-bit int, reproducible bit-for-bit in DuckDB
for the oracle (``CAST('0x'||substr(md5(x),1,15) AS BIGINT)``).
"""

from __future__ import annotations

from typing import Callable, Dict, List, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lakehouse_engine_spark.datapipes.colbuild import md5_fold
from lakehouse_engine_spark.datapipes.driver_tier import bounded_collect
from lakehouse_engine_spark.datapipes.registry import register

BUCKETS = 1_000_000

# The mixing samplers collect one (group, token-total) row per distinct
# group to the driver — a control decision sized for language/domain
# cardinality. Past this many groups that collect is a driver flood, so
# the aggregate fails in-row instead (the layout_zorder guard policy).
MAX_MIX_GROUPS = 100_000


def _guarded_group_totals(df: DataFrame, group_col: str, tok: Column, op: str):
    """One map-side-combined (group, sum-token) aggregate, collected to
    the driver behind a LIMIT-bounded cardinality guard: the collect
    fetches at most ``MAX_MIX_GROUPS + 1`` rows (so the driver can never
    receive the flood, whatever the true cardinality) and raises when the
    limit is hit. Cheaper than the in-row raise_error window the first
    version used — the limit rides the existing aggregate exchange
    instead of adding a single-partition window (~0.4 s of plan overhead
    per invocation at bench scale)."""
    rows = bounded_collect(
        df.groupBy(F.col(group_col).alias("__g")).agg(
            F.sum(tok.cast("long")).alias("__tot")
        ),
        MAX_MIX_GROUPS,
    )
    if rows is None:
        raise ValueError(
            f"{op}: more than {MAX_MIX_GROUPS} distinct {group_col} groups "
            "— the per-group threshold table is a driver control decision "
            "sized for language/domain cardinality; pre-bucket the group "
            "column first"
        )
    return rows


def _tokens(token_col: Optional[str], input_col: str) -> Column:
    """A row's token count: ``token_col``, or the whitespace words of
    ``input_col``."""
    if token_col:
        return F.col(token_col)
    return F.size(
        F.filter(F.split(F.trim(F.col(input_col)), r"\s+"), lambda t: t != "")
    )


def _keep_below_thresholds(
    df: DataFrame, group_col: str, thr_rows, id_col: str, seed: str
) -> DataFrame:
    """The rows of ``df`` whose stable hash bucket is below their group's
    threshold: ``thr_rows`` are ``(group, threshold)`` pairs built on the
    driver from at most ``MAX_MIX_GROUPS`` rows, so the table broadcasts,
    and the NULL-safe join keeps a NULL group's rows. The keys keep the
    group column's NATIVE dtype: a str(g) key joined against
    cast-to-string disagrees for non-string types (Python 'True' vs
    Spark 'true') and silently drops the whole group."""
    thr_df = df.sparkSession.createDataFrame(
        thr_rows,
        T.StructType(
            [
                T.StructField("__g", df.schema[group_col].dataType, True),
                T.StructField("__thr", T.LongType(), False),
            ]
        ),
    )
    return (
        df.join(F.broadcast(thr_df), df[group_col].eqNullSafe(F.col("__g")))
        .filter(_bucket(id_col, seed) < F.col("__thr"))
        .drop("__g", "__thr")
    )


def _bucket_raw(id_col: str, seed: str) -> Column:
    """Full 60-bit md5-fold (no modulus) — the shared portable hash.

    CONTRACT (every hash-filter sampler in this module): a row whose
    ``id_col`` is NULL has no stable identity to key membership on — its
    bucket is NULL, every ``bucket < threshold`` compare is NULL, and
    the row is DROPPED from samples (and gets a NULL split label from
    hash_split). ``hash_sample(fraction=1.0)`` is therefore the identity
    only over rows with a non-NULL id; assign ids (``with_row_id``)
    before sampling if NULL-id rows must participate."""
    key = F.concat(F.col(id_col).cast("string"), F.lit(seed))
    return md5_fold(key)


def _bucket(id_col: str, seed: str) -> Column:
    return _bucket_raw(id_col, seed) % BUCKETS


@register("hash_sample", streaming_ok=True)
def hash_sample(
    id_col: str, fraction: float, seed: str = ""
) -> Callable[[DataFrame], DataFrame]:
    """Keep a deterministic ``fraction`` of rows, keyed by ``id_col``.

    Unlike ``df.sample``, membership is a property of the row id — stable
    under re-runs, retries, joins, and data growth (a kept id stays kept).
    NULL-id rows are dropped (no identity to key on — see
    :func:`_bucket_raw`), even at ``fraction=1.0``.
    """
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    threshold = int(round(fraction * BUCKETS))

    def _sample(df: DataFrame) -> DataFrame:
        return df.filter(_bucket(id_col, seed) < threshold)

    return _sample


@register("hash_split", streaming_ok=True)
def hash_split(
    id_col: str,
    splits: Optional[Dict[str, float]] = None,
    output_col: str = "split",
    seed: str = "",
) -> Callable[[DataFrame], DataFrame]:
    """Assign each row to a named split by hashed id (train/val/test…).

    ``splits`` maps name → weight (normalised over their sum). Assignment
    is by cumulative bucket ranges in the given order, so a row's split
    never changes when data is added — the property that prevents
    train/test leakage across dataset versions. NULL-id rows get a NULL
    split label (no identity to assign on — see :func:`_bucket_raw`).
    """
    splits = splits or {"train": 0.9, "val": 0.05, "test": 0.05}
    if not splits or any(w < 0 for w in splits.values()):
        raise ValueError(f"splits must be non-negative weights, got {splits}")
    total = float(sum(splits.values()))
    if total <= 0:
        raise ValueError("splits weights must sum to > 0")

    # cumulative upper bucket bound per split, in insertion order
    bounds = []
    acc = 0.0
    for name, w in splits.items():
        acc += w / total
        bounds.append((name, int(round(acc * BUCKETS))))
    bounds[-1] = (bounds[-1][0], BUCKETS)  # absorb rounding at the top

    def _split(df: DataFrame) -> DataFrame:
        b = _bucket(id_col, seed)
        expr = None
        for name, hi in bounds:
            cond = b < F.lit(hi)
            expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
        return df.withColumn(output_col, expr)

    return _split


@register("weighted_sample", streaming_ok=True)
def weighted_sample(
    id_col: str, prob_expr: str, seed: str = ""
) -> Callable[[DataFrame], DataFrame]:
    """Probability-proportional (importance-weighted) sampling: keep each
    row independently with probability ``prob_expr`` (a SQL expression in
    [0, 1], clamped) — e.g. keep documents proportional to a quality or
    LM score, the standard soft-filter between hard pruning and uniform
    sampling.

    Membership is deterministic in the row id (same hash-bucket rule as
    ``hash_sample``), so the sample is reproducible across runs/retries
    and a row's fate only changes if its probability does. Pure codegen'd
    projection + filter — zero shuffle at any scale. ``FLOOR`` (not cast)
    converts the threshold so Spark and SQL oracles truncate identically.
    """

    def _sample(df: DataFrame) -> DataFrame:
        p = F.least(
            F.greatest(F.expr(prob_expr).cast("double"), F.lit(0.0)), F.lit(1.0)
        )
        return df.filter(_bucket(id_col, seed) < F.floor(p * BUCKETS))

    return _sample


@register("stratified_sample", streaming_ok=True)
def stratified_sample(
    group_cols: list,
    id_col: str,
    n_per_group: Optional[int] = None,
    fraction_per_group: Optional[float] = None,
    seed: str = "",
) -> Callable[[DataFrame], DataFrame]:
    """Deterministic stratified sampling: cap each group (language, source,
    domain…) at ``n_per_group`` rows, or keep ``fraction_per_group`` of each
    group (expected fraction — the hash is uniform within every group, so no
    count pass is needed) — the standard corpus-balancing step before
    training-data mixing.

    Selection is by hashed-id order within the group, so membership is
    reproducible across runs and stable under appends *within the surviving
    prefix* (a kept id is only evicted when enough smaller-hash rows join
    its group). ``fraction_per_group`` needs no count at all — it reuses the
    hash-bucket filter per row, staying a pure projection.

    Scale design: the ``n_per_group`` path is one window over
    ``partitionBy(group)`` ordered by the 60-bit content hash — a single
    hash-partitioned shuffle on the group key, the same cost class as any
    per-group top-k; skewed giant groups are handled by AQE the same way
    ``group_and_rank`` is. No driver-side collect, no RNG state.
    """
    if (n_per_group is None) == (fraction_per_group is None):
        raise ValueError("pass exactly one of n_per_group / fraction_per_group")
    if fraction_per_group is not None and not 0.0 <= fraction_per_group <= 1.0:
        raise ValueError(f"fraction_per_group must be in [0, 1], got {fraction_per_group}")
    if n_per_group is not None and n_per_group < 1:
        raise ValueError(f"n_per_group must be >= 1, got {n_per_group}")

    def _sample(df: DataFrame) -> DataFrame:
        if fraction_per_group is not None:
            threshold = int(round(fraction_per_group * BUCKETS))
            return df.filter(_bucket(id_col, seed) < threshold)
        from pyspark.sql import Window

        w = Window.partitionBy(*group_cols).orderBy(
            _bucket(id_col, seed).asc(), F.col(id_col).asc()
        )
        return (
            df.withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") <= n_per_group)
            .drop("__r")
        )

    return _sample


@register("mixture_sample", streaming_ok=True)
def mixture_sample(
    group_col: str,
    id_col: str,
    weights: Dict[str, float],
    default_fraction: float = 0.0,
    seed: str = "",
) -> Callable[[DataFrame], DataFrame]:
    """Data-mixing sampler: keep a per-group fraction of rows (domain /
    source / language mixture weights), deterministically by hashed id —
    the downsampling half of pretraining mixture construction. Groups not
    in ``weights`` keep ``default_fraction`` (0 = drop).

    Pure projection: the group's threshold resolves via a CASE chain (fine
    for the tens-of-domains case) against the same 60-bit content hash as
    ``hash_sample``, so membership is re-derivable and stable; no counts,
    no shuffle, composes with partition pruning on ``group_col``.
    """
    for g, f in weights.items():
        if not 0.0 <= f <= 1.0:
            raise ValueError(f"mixture_sample: fraction for {g!r} must be in [0, 1], got {f}")
    if not 0.0 <= default_fraction <= 1.0:
        raise ValueError(f"default_fraction must be in [0, 1], got {default_fraction}")

    def _sample(df: DataFrame) -> DataFrame:
        thr = F.lit(int(round(default_fraction * BUCKETS)))
        for g, f in weights.items():
            thr = F.when(F.col(group_col) == g, F.lit(int(round(f * BUCKETS)))).otherwise(thr)
        return df.filter(_bucket(id_col, seed) < thr)

    return _sample


@register("mixture_plan")
def mixture_plan(
    group_col: str,
    weights: Dict[str, int],
    budget_tokens: int,
    token_col: str = "n_tokens",
    max_epochs_ppm: int = 1_000_000,
) -> Callable[[DataFrame], DataFrame]:
    """Mixture PLANNER: turn target mixture proportions + a token budget
    into the per-group numbers the samplers consume — the arithmetic
    half of pretraining data mixing (The Pile / LLaMA-style fixed-weight
    recipes with per-domain epoch caps). One row per group in
    ``weights``: available tokens, the budget share, the planned token
    count after the epoch cap, the hash-sampler rate, epochs, and a
    ``capped`` flag showing where the recipe is infeasible (the
    shortfall is reported, not silently redistributed — recipe repair is
    a human decision).

    Exact integer arithmetic end to end so any engine replays it:
    weights are integer PARTS (e.g. {en: 70, de: 30}), the share is
    ``desired = (budget * parts) div sum(parts)`` (floor division), the
    cap is ``max_tokens = (max_epochs_ppm * available) div 1e6``, and
    rates/epochs are parts-per-million floor quotients. Groups present
    in the corpus but absent from ``weights`` get no row (their plan is
    0 by definition); groups in ``weights`` with no corpus rows appear
    with ``available = 0``.

    Scale design: ONE global aggregate over the planned groups' rows —
    a ``sum(when(group = g, tokens))`` per weighted group, so k
    comparisons per row for a k-group recipe, map-side combined into one
    exchange. Its single row is unfolded by ``inline`` into literal
    ``(group, parts, available)`` structs and everything else is
    per-group arithmetic on those k rows: no join, no Python-side weights
    table, and the plan ends in one partition.
    """
    if budget_tokens < 0:
        raise ValueError("mixture_plan: budget_tokens must be >= 0")
    if max_epochs_ppm < 1:
        raise ValueError("mixture_plan: max_epochs_ppm must be >= 1")
    if not weights:
        raise ValueError("mixture_plan: weights must be non-empty")
    for g, p in weights.items():
        if int(p) != p or p < 0:
            raise ValueError(
                f"mixture_plan: weight parts for {g!r} must be a "
                f"non-negative integer, got {p}"
            )
    total_parts = sum(int(p) for p in weights.values())
    if total_parts == 0:
        raise ValueError("mixture_plan: weight parts sum to zero")

    def _plan(df: DataFrame) -> DataFrame:
        # the weights key groups as STRING; a non-string corpus group
        # column would otherwise compare through implicit casts that can
        # silently yield available=0 — cast it explicitly so the filter and
        # the per-group sums compare string to string (the string fast path
        # stays a no-op, preserving scan pushdown)
        grp = F.col(group_col)
        if df.schema[group_col].dataType.simpleString() != "string":
            grp = grp.cast("string")
        plan = sorted((str(g), int(p)) for g, p in weights.items())
        tok = F.col(token_col).cast("long")
        # pre-filter to planned groups: the predicate pushes to the scan
        sums = df.where(grp.isin([g for g, _ in plan])).agg(
            *[F.sum(F.when(grp == g, tok)).alias(f"__a{i}")
              for i, (g, _) in enumerate(plan)]
        )
        rows = [
            F.struct(
                F.lit(g).alias(group_col),
                F.lit(p).cast("long").alias("parts"),
                F.coalesce(f"__a{i}", F.lit(0).cast("long")).alias("available"),
            )
            for i, (g, p) in enumerate(plan)
        ]
        base = sums.select(F.inline(F.array(*rows)))
        desired = F.expr(f"({budget_tokens} * parts) div {total_parts}")
        out = base.withColumn("desired_tokens", desired)
        cap = F.expr(f"({max_epochs_ppm} * available) div 1000000")
        out = out.withColumn(
            "plan_tokens", F.least("desired_tokens", cap)
        ).withColumn("capped", F.col("plan_tokens") < F.col("desired_tokens"))
        return out.select(
            group_col,
            "parts",
            "available",
            "desired_tokens",
            "plan_tokens",
            "capped",
            F.when(
                F.col("available") > 0,
                F.expr("(plan_tokens * 1000000) div available"),
            )
            .otherwise(F.lit(0))
            .alias("sample_rate_ppm"),
            F.when(
                F.col("available") > 0,
                F.expr("(desired_tokens * 1000000) div available"),
            )
            .otherwise(F.lit(0))
            .alias("epochs_ppm"),
            (F.col("desired_tokens") - F.col("plan_tokens")).alias(
                "shortfall_tokens"
            ),
        )

    return _plan


@register("token_budget_sample")
def token_budget_sample(
    group_col: str,
    token_col: str,
    budgets: Dict[str, int],
    id_col: str = "doc_id",
    default_keep: bool = True,
    seed: str = "",
) -> Callable[[DataFrame], DataFrame]:
    """Token-budget mixture construction: downsample each domain/source to
    a TOKEN budget (not a row fraction) — "200 B tokens of web, 50 B of
    code" is how pretraining mixtures are actually specified. Each group's
    keep-fraction is ``min(1, budget / group_token_total)``, applied as the
    deterministic content-hash filter (``hash_sample`` semantics: stable
    under re-runs and appends). Groups without a budget keep everything
    (``default_keep=True``) or drop.

    The realized token count is the budget in expectation (hash-uniform
    row selection); exactness to the last token would need a per-group
    running sum — a per-group sort at 100 TB — for <1% gain on any
    realistically sized budget.

    Scale design: pass 1 = one map-side-combined groupBy computing
    group token totals (rows = number of DISTINCT group values →
    **broadcast**); pass 2 = pure hash-filter projection. No windows, no
    sort, no per-row state.
    """
    for g, b in budgets.items():
        if b < 0:
            raise ValueError(f"token_budget_sample: budget for {g!r} must be >= 0")

    def _sample(df: DataFrame) -> DataFrame:
        budget_expr = None
        for g, b in budgets.items():
            cond = F.col("__g") == g
            budget_expr = (
                F.when(cond, F.lit(float(b)))
                if budget_expr is None
                else budget_expr.when(cond, F.lit(float(b)))
            )
        budget_expr = (
            budget_expr.otherwise(F.lit(None).cast("double"))
            if budget_expr is not None
            else F.lit(None).cast("double")
        )
        totals = (
            df.groupBy(F.col(group_col).alias("__g"))
            .agg(F.sum(F.col(token_col)).alias("__tot"))
            .withColumn("__budget", budget_expr)
        )
        # threshold per group in hash-bucket units; NULL budget → keep-all
        # or drop-all via default_keep. A budgeted group whose token
        # total is 0/NULL costs nothing against its budget: keep-all
        # (ANSI division by zero would otherwise kill the job — the
        # unimax/temperature tot==0 convention, r14 review finding).
        thr = totals.select(
            "__g",
            F.when(
                F.col("__budget").isNotNull()
                & (F.coalesce(F.col("__tot"), F.lit(0)) > 0),
                F.least(
                    F.lit(float(BUCKETS)),
                    F.col("__budget") / F.col("__tot") * BUCKETS,
                ),
            )
            .when(F.col("__budget").isNotNull(), F.lit(float(BUCKETS)))
            .otherwise(F.lit(float(BUCKETS) if default_keep else 0.0))
            .alias("__thr"),
        )
        return (
            # null-safe: rows with a NULL group must meet their own
            # threshold row, not vanish through NULL == NULL (the
            # unimax/temperature join convention, r14 review finding)
            df.join(F.broadcast(thr), df[group_col].eqNullSafe(F.col("__g")))
            .filter(_bucket(id_col, seed).cast("double") < F.col("__thr"))
            .drop("__g", "__thr")
        )

    return _sample


@register("unimax_sample")
def unimax_sample(
    budget_tokens: int,
    group_col: str = "lang",
    token_col: Optional[str] = None,
    input_col: str = "text",
    id_col: str = "doc_id",
    epochs: float = 1.0,
    seed: str = "",
) -> Callable[[DataFrame], DataFrame]:
    """UniMax language-balanced sampling (Chung et al. 2023,
    arXiv:2304.09151): split a TOTAL token budget across groups by
    water-filling — every group is capped at ``epochs ×`` its own token
    count (no group over-repeats), the remaining budget spreads uniformly
    over the uncapped (large) groups. The result is the UniMax shape:
    small languages keep everything up to their epoch cap, big languages
    share the leftover equally — instead of proportional sampling's
    head-language dominance.

    Allocation is EXACT INTEGER water-filling (sorted by cap ascending;
    a group is capped iff its cap fits under the running waterline
    ``(B − prefix) div remaining``; uncapped groups all receive the final
    waterline) — bit-replayable by a SQL oracle, no float accumulation.
    Up to ``n_groups − 1`` tokens of the budget stay unallocated
    (integer floor); per-group realized tokens hit the allocation in
    expectation via the stable content-hash filter (``hash_sample``
    semantics — stable under re-runs and appends). Groups with zero
    tokens keep all their (token-less) rows. ``epochs > 1`` raises small
    groups' caps; rows are never duplicated (keep fraction caps at 1).

    Scale design: pass 1 is one map-side-combined groupBy producing a
    groups-sized table collected to the driver (languages/domains —
    thousands at most; the collect is a driver control decision on a
    tiny aggregate, the same shape as ``incremental_filter``); pass 2 is
    a broadcast threshold attach + pure hash-filter projection. No
    windows, no sorts, no per-row state.
    """
    if budget_tokens < 0:
        raise ValueError(
            f"unimax_sample: budget_tokens must be >= 0, got {budget_tokens}"
        )
    if epochs <= 0:
        raise ValueError(f"unimax_sample: epochs must be > 0, got {epochs}")

    def _sample(df: DataFrame) -> DataFrame:
        import math

        tok = _tokens(token_col, input_col)
        totals = _guarded_group_totals(df, group_col, tok, "unimax_sample")
        stats = sorted(
            (
                (int(math.floor((r["__tot"] or 0) * epochs)), r["__tot"] or 0, r["__g"])
                for r in totals
            ),
            key=lambda x: (x[0], x[2] is None, str(x[2])),
        )
        n = len(stats)
        # integer water-filling: capped groups (cap fits under the running
        # waterline) take their cap; the rest share the final waterline
        alloc = {}
        p = 0
        waterline = None
        for k, (cap, tot, g) in enumerate(stats):
            rem = n - k
            w = (budget_tokens - p) // rem
            if cap <= w:
                alloc[g] = cap
                p += cap
            else:
                waterline = w
                break
        if waterline is not None:
            for cap, tot, g in stats:
                if g not in alloc:
                    alloc[g] = waterline
        thr_rows = []
        for cap, tot, g in stats:
            if tot == 0:
                thr = BUCKETS  # token-less groups cost nothing: keep
            else:
                thr = min(BUCKETS, alloc[g] * BUCKETS // tot)
            thr_rows.append((g, thr))
        return _keep_below_thresholds(df, group_col, thr_rows, id_col, seed)

    return _sample


@register("temperature_sample")
def temperature_sample(
    budget_tokens: int,
    temperature: float = 2.0,
    group_col: str = "lang",
    token_col: Optional[str] = None,
    input_col: str = "text",
    id_col: str = "doc_id",
    seed: str = "",
) -> Callable[[DataFrame], DataFrame]:
    """Temperature-scaled mixture sampling (the T5/mT5 convention,
    arXiv:1910.10683 §3.3.1): group g's share of a total token budget is
    ``n_g^(1/T) / Σ n_h^(1/T)`` — T=1 is proportional (head languages
    dominate), T→∞ is uniform, T≈2–5 is the usual flattening. Completes
    the mixing family: ``mixture_sample`` takes explicit fractions,
    ``unimax_sample`` water-fills with epoch caps, this op interpolates by
    temperature.

    Determinism contract: per-group weights are ``floor(n_g^(1/T))`` —
    FLOORED TO INTEGERS (a ≤1-token-weight quantization, immaterial
    against corpus-scale counts) — so the allocation
    ``alloc_g = B * w_g div Σw`` and the keep threshold
    ``min(1e6, alloc_g * 1e6 div n_g)`` are pure integer arithmetic. At
    T=2 the weight is the integer sqrt, which every engine computes
    identically (IEEE sqrt is correctly rounded), so the oracle replays
    the whole pipeline bit-for-bit; other temperatures floor a libm pow —
    equal in practice, though not IEEE-guaranteed at floor boundaries.
    Keep fractions cap at 1: small groups are never upsampled/duplicated
    (same convention as unimax).

    Scale design: pass 1 is one map-side-combined groupBy collected to the
    driver (distinct groups — thousands at most; driver control decision),
    pass 2 a broadcast threshold attach + stable content-hash filter
    (``hash_sample`` semantics: membership re-derivable, stable under
    re-runs and appends). No windows, no sorts, no per-row state.
    """
    if budget_tokens < 0:
        raise ValueError(
            f"temperature_sample: budget_tokens must be >= 0, got {budget_tokens}"
        )
    if temperature <= 0:
        raise ValueError(
            f"temperature_sample: temperature must be > 0, got {temperature}"
        )

    def _sample(df: DataFrame) -> DataFrame:
        import math

        tok = _tokens(token_col, input_col)
        totals = _guarded_group_totals(
            df, group_col, tok, "temperature_sample"
        )
        alpha = 1.0 / temperature
        groups = []
        for r in totals:
            tot = r["__tot"] or 0
            if temperature == 2.0:
                w = math.isqrt(tot)
            else:
                w = int(math.floor(tot**alpha)) if tot > 0 else 0
            groups.append((r["__g"], tot, w))
        wsum = sum(w for _, _, w in groups)
        thr_rows = []
        for g, tot, w in groups:
            if tot == 0:
                thr = BUCKETS  # token-less groups cost nothing: keep
            else:
                alloc = budget_tokens * w // wsum if wsum else 0
                thr = min(BUCKETS, alloc * BUCKETS // tot)
            thr_rows.append((g, thr))
        return _keep_below_thresholds(df, group_col, thr_rows, id_col, seed)

    return _sample


@register("quantile_prune")
def quantile_prune(
    score_col: str,
    keep_frac: float,
    higher_is_better: bool = True,
    group_cols: Optional[List[str]] = None,
) -> Callable[[DataFrame], DataFrame]:
    """Keep (at least) the top ``keep_frac`` of rows by score — the
    "train on the best X% by quality score" step. The cut threshold is the
    loosest score whose at-or-better population reaches
    ``ceil(keep_frac · N)``; ALL rows tied at the threshold are kept (the
    result may slightly exceed the budget on ties — deterministic, and the
    honest contract for a score on a rounded grid).

    With ``group_cols`` the cut is computed PER GROUP (the standard
    per-language / per-domain curation threshold — a single global cut
    lets a verbose language starve the others). Rows whose group value is
    null form their own group (null-safe threshold attach).

    Scale design: no global sort and no per-row window. The score
    HISTOGRAM (one map-side-combined groupBy — requires a bounded-grid
    score, e.g. a 4dp-rounded quality score, so distinct values ≪ rows)
    gets a cumulative count over its few distinct values, the threshold
    reduces to one scalar per group (the threshold table is
    groups-sized, so it broadcasts), and the data pass is a plain
    broadcast-compare filter. Contrast with ``percent_rank()``: that is
    a full orderBy shuffle of every row at 100 TB.
    """
    if not 0.0 < keep_frac <= 1.0:
        raise ValueError(f"quantile_prune: keep_frac must be in (0, 1], got {keep_frac}")

    def _prune(df: DataFrame) -> DataFrame:
        from functools import reduce as _reduce
        from operator import and_ as _and

        from pyspark.sql import Window

        s = F.col(score_col)
        # NULL/NaN scores are unscorable: they can never be KEPT (the
        # compare rejects them below), so they must not be COUNTED in
        # the population either — a NULL hist row sorts NULLS-LAST into
        # the cumulative tail and can become the threshold itself
        # (NULL threshold -> every row dropped), and NULLS-FIRST under
        # higher_is_better=False inflates every real score's cum count
        # (r14 review finding; quality_bucket_split already excludes)
        scorable = s.isNotNull() & ~F.isnan(s.cast("double"))
        scored = df.filter(scorable)
        order = F.desc("__s") if higher_is_better else F.asc("__s")
        agg_thr = F.max("__s") if higher_is_better else F.min("__s")
        cond = scorable & (
            (s >= F.col("__thr"))
            if higher_is_better
            else (s <= F.col("__thr"))
        )
        if not group_cols:
            hist = scored.groupBy(s.alias("__s")).agg(
                F.count(F.lit(1)).alias("__c")
            )
            w = Window.orderBy(order).rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
            total = hist.agg(F.sum("__c").alias("__n"))
            cum = hist.withColumn("__cum", F.sum("__c").over(w)).crossJoin(
                F.broadcast(total)
            )
            thr = cum.filter(
                F.col("__cum") >= F.ceil(F.col("__n") * keep_frac)
            ).agg(agg_thr.alias("__thr"))
            return df.crossJoin(F.broadcast(thr)).filter(cond).drop("__thr")
        # per-group: the histogram gains the group key, the cumulative
        # window partitions by it, and the one-row threshold becomes a
        # groups-sized broadcast table (null-safe equi-join so null
        # groups prune against their own threshold, not vanish)
        hist = scored.groupBy(
            *[F.col(c) for c in group_cols], s.alias("__s")
        ).agg(F.count(F.lit(1)).alias("__c"))
        w = Window.partitionBy(*group_cols).orderBy(order).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        wg = Window.partitionBy(*group_cols)
        cum = hist.withColumn("__cum", F.sum("__c").over(w)).withColumn(
            "__n", F.sum("__c").over(wg)
        )
        thr = (
            cum.filter(F.col("__cum") >= F.ceil(F.col("__n") * keep_frac))
            .groupBy(*group_cols)
            .agg(agg_thr.alias("__thr"))
            .select(
                *[F.col(c).alias(f"__g_{c}") for c in group_cols], "__thr"
            )
        )
        on = _reduce(
            _and,
            [df[c].eqNullSafe(F.col(f"__g_{c}")) for c in group_cols],
        )
        return (
            df.join(F.broadcast(thr), on)
            .filter(cond)
            .drop("__thr", *[f"__g_{c}" for c in group_cols])
        )

    return _prune


@register("quality_bucket_split")
def quality_bucket_split(
    score_col: str,
    buckets: "dict",
    group_cols: Optional[List[str]] = None,
    higher_is_better: bool = True,
    output_col: str = "bucket",
) -> Callable[[DataFrame], DataFrame]:
    """CCNet-style quality bucketing (Wenzek et al. 2020): label every
    row with a named quality tier — the classic ``head/middle/tail``
    perplexity split, per language — so downstream mixture planning can
    sample tiers at different rates instead of hard-pruning. ``buckets``
    is an ORDERED ``{name: weight}`` dict (best tier first; weights are
    normalized, so ``{"head": 3, "middle": 3, "tail": 4}`` = 30/30/40).

    Tier rule (the :func:`quantile_prune` threshold convention, applied
    K−1 times): rows sort best-first by score; a score VALUE v belongs to
    the first tier k whose cumulative row budget ``ceil(c_k · N)``
    (c_k = normalized cumulative weight) covers v's at-or-better
    population — all rows tied on a score share a tier, so tier sizes
    flex on ties (deterministic, honest for rounded-grid scores). NULL
    scores take the LAST tier (CCNet's unscorable-goes-to-tail rule).

    Tie DIRECTION differs from ``quantile_prune`` by intent: a value
    whose at-or-better population OVERFLOWS a tier's budget flexes to
    the WORSE tier (tier k demands the full population fit in c_k·N),
    while quantile_prune's "keep at least X%" keeps threshold ties.
    Degenerate consequence, by design: a group where every row shares
    one score lands entirely in the last tier — on such coarse grids a
    tiering by score carries no information, and claiming the best tier
    would be the dishonest direction.

    Scale design: identical to :func:`quantile_prune` — no per-row
    window, no global sort. One map-side-combined score histogram per
    group, a cumulative window over DISTINCT score values, a CASE over
    the K cumulative budgets, and a broadcast join of the
    (group, score) → tier table back onto the data. Requires the same
    bounded-grid score contract (distinct values ≪ rows).
    """
    if not buckets or len(buckets) < 2:
        raise ValueError(
            f"quality_bucket_split: need >= 2 buckets, got {buckets!r}"
        )
    weights = list(buckets.values())
    if any(not isinstance(v, (int, float)) or v <= 0 for v in weights):
        raise ValueError(
            f"quality_bucket_split: bucket weights must be > 0, got {buckets!r}"
        )
    names = list(buckets.keys())
    total_w = float(sum(weights))
    # cumulative normalized fractions for the first K-1 tiers; the last
    # tier is the CASE's ELSE so rounding can never orphan a row
    cums = []
    acc = 0.0
    for v in weights[:-1]:
        acc += float(v)
        cums.append(acc / total_w)

    def _split(df: DataFrame) -> DataFrame:
        from functools import reduce as _reduce
        from operator import and_ as _and

        from pyspark.sql import Window

        s = F.col(score_col)
        order = F.desc("__s") if higher_is_better else F.asc("__s")
        keys = list(group_cols or [])
        hist = df.groupBy(
            *[F.col(c) for c in keys], s.alias("__s")
        ).agg(F.count(F.lit(1)).alias("__c"))
        hist = hist.filter(F.col("__s").isNotNull())
        w = Window.partitionBy(*keys).orderBy(order).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        wg = Window.partitionBy(*keys)
        cum = hist.withColumn("__cum", F.sum("__c").over(w)).withColumn(
            "__n", F.sum("__c").over(wg)
        )
        tier = F.lit(names[-1])
        for name, c in reversed(list(zip(names[:-1], cums))):
            tier = F.when(
                F.col("__cum") <= F.ceil(F.col("__n") * c), F.lit(name)
            ).otherwise(tier)
        tiers = cum.select(
            *[F.col(c).alias(f"__g_{c}") for c in keys],
            F.col("__s").alias("__ts"),
            tier.alias("__tier"),
        )
        on = _reduce(
            _and,
            [df[c].eqNullSafe(F.col(f"__g_{c}")) for c in keys]
            + [s.eqNullSafe(F.col("__ts"))],
        ) if keys else s.eqNullSafe(F.col("__ts"))
        return (
            df.join(F.broadcast(tiers), on, "left")
            .withColumn(output_col, F.coalesce(F.col("__tier"), F.lit(names[-1])))
            .drop("__tier", "__ts", *[f"__g_{c}" for c in keys])
        )

    return _split


@register("global_shuffle")
def global_shuffle(
    id_col: str = "doc_id",
    shards: int = 256,
    seed: str = "",
    shard_col: str = "shard",
    position_col: str = "position",
) -> Callable[[DataFrame], DataFrame]:
    """Deterministic training-order shuffle: assign every row a ``shard``
    and a dense ``position`` within the shard, ordered by content hash —
    the reproducible global permutation a training job reads in shard
    order. Unlike ``df.orderBy(rand())``, the permutation is a pure
    function of (ids, seed): re-runs, retries, and resumed jobs see the
    identical order, and adding data perturbs only the insertion points.

    Scale design: shard membership is a hash projection (no data movement
    decision on the driver), and positions need only a PER-SHARD window
    sort — ONE shuffle on the shard key with parallelism = ``shards``, not
    a global orderBy funnel. At 100 TB pick shards ≈ executor-cores·4 so
    each shard sorts in memory; the output is usually written
    ``partitionBy(shard)`` so downstream readers stream shards in parallel.
    """
    if shards < 1:
        raise ValueError(f"global_shuffle: shards must be >= 1, got {shards}")

    def _shuffle(df: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        h = _bucket(id_col, seed)
        out = df.withColumn("__h", h).withColumn(
            shard_col, (F.col("__h") % shards).cast("int")
        )
        w = Window.partitionBy(shard_col).orderBy("__h", id_col)
        return (
            out.withColumn(position_col, (F.row_number().over(w) - 1).cast("long"))
            .drop("__h")
        )

    return _shuffle


@register("pack_sequences")
def pack_sequences(
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
    budget: int = 2048,
    shards: int = 256,
    seed: str = "",
) -> Callable[[DataFrame], DataFrame]:
    """Context-window packing: assign documents to fixed-token-budget packs
    for training-sequence assembly.

    Docs are sharded by content hash (deterministic, growth-stable), ordered
    within the shard by (hash, id), and a running token total assigns each
    doc to the pack where it STARTS: ``pack = floor((cumsum - tokens) /
    budget)`` — the standard streaming approximation of greedy bin packing
    (a doc may straddle a boundary; the trainer's sequence assembler
    truncates or pads at read time). Output adds ``pack_shard``,
    ``pack_id`` (unique across shards), and ``pack_offset`` (token start
    within the pack's budget-aligned stream).

    Scale design: ONE shuffle on the shard key and a per-shard window sort —
    parallelism = ``shards``, with no global ordering funnel. Pack identity
    is a pure function of (corpus content, budget, shards, seed): re-running
    on the same corpus reproduces identical packs, and the same rule is
    expressible in ANSI SQL for the oracle.
    """

    def _pack(df: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        # hash once; derive the shard from the stored bucket (the
        # global_shuffle convention) instead of a second md5 per row
        out = df.withColumn("__ord", _bucket(id_col, seed)).withColumn(
            "pack_shard", F.col("__ord") % shards
        )
        w = (
            Window.partitionBy("pack_shard")
            .orderBy("__ord", id_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cum = F.sum(F.col(token_col)).over(w)
        start = (cum - F.col(token_col)).cast("long")
        return (
            out.withColumn("__start", start)
            .withColumn(
                "pack_id",
                F.col("pack_shard").cast("long") * F.lit(1_000_000_000)
                + F.floor(F.col("__start") / budget),
            )
            .withColumn("pack_offset", F.pmod(F.col("__start"), F.lit(budget)).cast("long"))
            .drop("__ord", "__start")
        )

    return _pack


@register("weighted_sample_k")
def weighted_sample_k(
    k: int,
    weight_col: str,
    id_col: str,
    group_cols: Optional[list] = None,
    seed: str = "",
) -> Callable[[DataFrame], DataFrame]:
    """EXACTLY-k weighted sampling WITHOUT replacement (per group):
    Efraimidis–Spirakis A-Res — each row draws a deterministic uniform
    ``u`` from its hashed id and ranks by ``ln(u)/w`` (the monotone form
    of ``u^(1/w)``); the top-k per group are a true weight-proportional
    without-replacement sample. Complements ``weighted_sample`` (expected-
    fraction, WITH-replacement-style independent keeps) when a hard k is
    required. Deterministic: same ids + seed → same sample on any
    cluster; no RNG state. Rows with NULL or non-positive weight are
    excluded (zero-weight items are unsampleable by definition).

    Scale: one window over the group key (same cost class as any per-
    group top-k); the hash-uniform and log are codegen row expressions.
    Cross-engine caveat: ``ln`` may differ in the last ulp between
    engines — a rank flip needs two keys within ~1e-15, vanishingly rare
    with 60-bit hash spacing (and irrelevant to sample QUALITY either
    way).
    """
    if k < 1:
        raise ValueError(f"weighted_sample_k: k must be >= 1, got {k}")
    keys = list(group_cols or [])

    def _sample(df: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        w = F.col(weight_col).cast("double")
        u = (_bucket_raw(id_col, seed) + F.lit(1.0)) / F.lit(float(2**60) + 1.0)
        key = F.log(u) / w
        win = Window.partitionBy(*keys).orderBy(
            key.desc(), F.col(id_col).asc()
        )
        return (
            df.filter(w.isNotNull() & (w > 0))
            .withColumn("__rn", F.row_number().over(win))
            .filter(F.col("__rn") <= k)
            .drop("__rn")
        )

    return _sample
