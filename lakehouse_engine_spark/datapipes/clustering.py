"""Clustering operators for embedding-space corpus curation.

K-means over document embeddings is the backbone of several curation
recipes: SemDeDup prunes within-cluster near-duplicates, cluster-balanced
sampling flattens topic skew, and per-cluster quality stats drive mixture
reweighting. ``dedup_semantic_centroid`` (similarity.py) consumes
externally-supplied centroids; this module TRAINS them, Spark-first and
bit-exactly replayable by an external SQL engine.

Numeric design (the same discipline as ``graph_pagerank``): embeddings
quantize to an integer grid (default scale 1024 — a power of two, so
``float -> double * 1024 + 0.5 -> floor`` is EXACT in IEEE arithmetic and
any engine reproduces identical grid points), distances are exact int64
sums of squared integer diffs, and centroid updates use explicit floor
division — no floating-point accumulation anywhere, so iteration K's
centroids are bit-identical across Spark, DuckDB, and a Python reference.

Scale design — the assignment is an Arrow-batched vectorized kernel, and
that choice is MEASURED, not assumed. Three JVM-side formulations were
benchmarked first (1M x 64-dim vectors, k=16, local[32]):

* unrolled scalar arithmetic (the dp97 pattern — k*dim literal terms as
  real projection columns): whole-stage codegen exceeds the JVM's 64 KB
  method limit at k*dim ~ 1024 and the job DIES; below the limit it
  still pays ~0.7 s of Catalyst analysis + ~2.5 s of Janino compile per
  Lloyd iteration because the centroid literals are baked into the plan
  (the first, O(k^2*dim) ``least``/``when`` version of this spent 78 s
  of driver planning for 0.15 s of execution at k=8 — the round-6
  scale-killer this file replaces);
* higher-order functions over a BROADCAST centroid array column (no
  literals, constant plan shape): correct at any k, but the lambda
  interpreter costs 6.3 s steady-state on the 1M-row probe;
* int64 numpy via one Arrow-batched ``pandas_udf``: 0.77 s steady-state
  on the same probe — 8x the HOF path — with a constant ~ms-analysis
  plan, no codegen, and cost O(rows*k*dim) in vectorized C.

Per-row Python is still banned from hot paths everywhere in this repo;
this is the sanctioned exception class (same as the media codecs): an
Arrow-batched kernel for semantics the built-in operators cannot express
without either a shuffle per iteration or a super-linear plan. All exact
integer math survives the detour: the distance expansion
``x.x - 2 x.c + c.c`` is int64 matmul (exact while quantized components
stay below ~2^25 at 1024 dims), and ``argmin`` resolves ties to the
first (= smallest) cluster id, matching the SQL oracle's
``row_number() ... ORDER BY d, c`` replay.

Per Lloyd iteration: one joinless assignment projection (centroids ride
the closure — KBs) feeding ONE map-side-combined aggregation keyed on
(cluster, dim) whose post-combine shuffle volume is k*dim rows
regardless of corpus size. Driver traffic is k initial rows and k*dim
partial sums per iteration (the bpe_train control-decision class).
"""

from __future__ import annotations

from typing import Callable, List

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from lakehouse_engine_spark.datapipes.colbuild import vector_width
from lakehouse_engine_spark.datapipes.driver_tier import (
    bounded_collect,
    driver_safe_ids,
)
from lakehouse_engine_spark.datapipes.registry import register

TransformerFn = Callable[[DataFrame], DataFrame]

# Arrow batches default to 10k rows; the per-batch distance matrix is
# rows x k int64. Cap k so one batch's matrix stays well under a GiB.
MAX_K = 4096


def _floordiv(s: int, n: int) -> int:
    """Exact floor division replayable as portable SQL (`s//n` with the
    negative-numerator case rewritten so truncating engines agree)."""
    if s >= 0:
        return s // n
    return -((-s + n - 1) // n)


# Driver tier budget of the k-means trainers: rows x dim of the quantized
# corpus, ~120 MB of collected rows at the default (see driver_tier.py).
DRIVER_KMEANS_MAX_ELEMS = 4_000_000


def _py_id_hash(x) -> str:
    """Driver replica of ``F.md5(F.col(id).cast("string"))`` for the
    int/string ids the trainers see (a bigint casts to its decimal
    string in both engines; strings pass through)."""
    import hashlib

    s = x if isinstance(x, str) else str(x)
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def _driver_collect(df: DataFrame, id_col: str, input_col: str,
                    quant_scale: int, dim: int):
    """The quantized ``(__km_id, __km_v)`` rows when the corpus fits
    :data:`DRIVER_KMEANS_MAX_ELEMS` and every id is driver-hashable
    (matching the md5-cast replica); None otherwise."""
    rows = bounded_collect(
        df.select(
            F.col(id_col).alias("__km_id"),
            _quantize_expr(input_col, quant_scale).alias("__km_v"),
        ),
        DRIVER_KMEANS_MAX_ELEMS // dim,
    )
    if rows is None or not driver_safe_ids(rows, "__km_id", allow_null=False):
        return None
    return rows


def _driver_usable(rows):
    """Split collected rows into (ids, vectors) of USABLE samples — the
    driver replica of :func:`_usable_sample` + ``_clean_int_rows`` row
    routing (non-null vector, no null element)."""
    ids, vecs = [], []
    for r in rows:
        v = r["__km_v"]
        if v is None or any(x is None for x in v):
            continue
        ids.append(r["__km_id"])
        vecs.append(v)
    return ids, vecs


def _driver_init_order(ids) -> List[int]:
    """Indices of ``ids`` in the trainers' init order — smallest
    ``(md5(cast(id as string)), id)`` first. Python str compare equals
    UTF8String binary compare for valid Unicode (the bpe.py tie-break
    argument), and the hex digest is ASCII."""
    return sorted(range(len(ids)), key=lambda i: (_py_id_hash(ids[i]), ids[i]))


def _driver_lloyd(X: np.ndarray, cents: np.ndarray, iterations: int) -> np.ndarray:
    """Exact int64 Lloyd rounds on the driver — the same distance
    expansion, first-min tie-break and floor-div update as
    ``_iteration_sums`` + the caller's update loop; empty clusters keep
    their previous centroid."""
    for _ in range(iterations):
        cnorm = (cents * cents).sum(axis=1)
        dist = (X * X).sum(axis=1)[:, None] - 2 * (X @ cents.T) + cnorm[None, :]
        c = dist.argmin(axis=1)
        for j in range(len(cents)):
            m = c == j
            n = int(m.sum())
            if n:
                s = X[m].sum(axis=0)
                cents[j] = [_floordiv(int(sv), n) for sv in s]
    return cents


def _usable_sample(col_name: str):
    """Sample predicate for codebook/centroid/query draws: the vector
    exists AND carries no null element — a null element breaks the exact
    int64 algebra the driver-side literals feed (np int64 conversion
    raises on None; r14 review finding). Rows failing this still flow
    through assignment/encode under the null-code contract."""
    c = F.col(col_name)
    return c.isNotNull() & ~F.exists(c, lambda x: x.isNull())


def _quantize_expr(input_col: str, scale: int):
    return F.transform(
        F.col(input_col),
        lambda x: F.floor(x.cast("double") * scale + F.lit(0.5)).cast("long"),
    )


def _clean_int_rows(rows: np.ndarray):
    """Stack Arrow-delivered per-row arrays into an exact int64 matrix,
    routing rows with a null ELEMENT out of the batch.

    A dirty row arrives either as an object row (None inside) or as
    float64 with NaN, depending on the Arrow conversion path, and one
    such row makes ``np.stack`` promote the WHOLE batch — so the clean
    rows are re-stacked from the original per-row arrays (which never
    lost their int64 dtype; a float64 round-trip would silently round
    quantized values above 2^53). Returns ``(X, good)`` where ``X`` is
    the int64 matrix of clean rows (possibly empty) and ``good`` the
    boolean keep-mask over ``rows`` (None when every row is clean —
    the all-clean hot path stays branch-free)."""
    X = np.stack(rows)
    if X.dtype == object:
        bad = pd.isnull(X).any(axis=1)
    elif X.dtype.kind == "f":
        bad = np.isnan(X).any(axis=1)
    else:
        bad = None
    good = None
    if bad is not None and bad.any():
        good = ~bad
        X = np.stack(rows[good]) if good.any() else X[:0]
    return (X.astype(np.int64, copy=False) if len(X) else X), good


def _assign_udf(centroids: List[List[int]]):
    """Arrow-batched exact argmin: returns a struct<c:int, d:bigint>
    column (nearest cluster id, exact squared grid distance). Ties go to
    the SMALLEST cluster id (numpy argmin keeps the first minimum), and
    a null/invalid vector keeps the legacy contract (cluster 0, null
    distance — what the all-null CASE chain of the first formulation
    produced)."""
    carr = np.array(centroids, dtype=np.int64)
    cnorm = (carr * carr).sum(axis=1)

    @F.pandas_udf("struct<c: int, d: bigint>")
    def assign(v: pd.Series) -> pd.DataFrame:
        n = len(v)
        out_c = np.zeros(n, dtype=np.int32)
        out_d = np.full(n, None, dtype=object)
        mask = v.notna().to_numpy()
        if mask.any():
            # np.stack (inside _clean_int_rows) over the Arrow-delivered
            # ndarray elements — the per-element list() conversion this
            # replaces measured ~0.35 s per 10k x 256 batch, 18x the
            # stack, and dominated the whole kernel. Rows with a null
            # ELEMENT route to the null contract (cluster 0, null
            # distance) instead of letting astype(int64) throw / wrap
            # NaN to INT64_MIN.
            X, good = _clean_int_rows(v[mask].to_numpy())
            if good is not None:
                idx = np.flatnonzero(mask)
                mask[idx[~good]] = False
            if len(X):
                # exact int64 expansion of ||x - c||^2; ties -> first
                # index
                dist = (
                    (X * X).sum(axis=1)[:, None]
                    - 2 * (X @ carr.T)
                    + cnorm[None, :]
                )
                out_c[mask] = dist.argmin(axis=1)
                out_d[mask] = dist.min(axis=1)
        return pd.DataFrame(
            {"c": out_c, "d": pd.array(out_d, dtype="Int64")}
        )

    return assign


def _assign_frame(q: DataFrame, centroids: List[List[int]]) -> DataFrame:
    """Project ``__km_c`` (argmin cluster) and ``__km_d`` (exact squared
    distance) onto a frame carrying the quantized ``__km_v`` column."""
    a = _assign_udf(centroids)(F.col("__km_v"))
    return q.select(
        "*", a["c"].alias("__km_c"), a["d"].alias("__km_d")
    )


def _iteration_sums(q: DataFrame, centroids: List[List[int]], dim: int):
    """One Lloyd iteration's (cluster, dim) -> (sum, count) table, as an
    Arrow-batched partial aggregation: each batch assigns its rows with
    the same exact int64 kernel and scatter-adds into a local k x dim
    accumulator, emitting at most k*dim partial rows per PARTITION. The
    first formulation posexploded rows x dim skinny rows into the
    aggregate (256M intermediate rows per iteration on the 1M x 256
    probe, ~23 s/iteration); the partials keep the same exact integer
    semantics (int64 scatter-adds are order-free) at one Arrow scan.
    """
    carr = np.array(centroids, dtype=np.int64)
    cnorm = (carr * carr).sum(axis=1)
    k = len(centroids)

    def part(batches):
        S = np.zeros((k, dim), dtype=np.int64)
        N = np.zeros(k, dtype=np.int64)
        for pdf in batches:
            v = pdf["__km_v"]
            mask = v.notna().to_numpy()
            if not mask.any():
                continue
            # same null-ELEMENT routing as _assign_udf (shared helper):
            # dirty rows drop out of the iteration sums
            X, _ = _clean_int_rows(v[mask].to_numpy())
            if not len(X):
                continue
            dist = (
                (X * X).sum(axis=1)[:, None]
                - 2 * (X @ carr.T)
                + cnorm[None, :]
            )
            c = dist.argmin(axis=1)
            np.add.at(N, c, 1)
            np.add.at(S, c, X)
        live = np.nonzero(N)[0]
        if len(live):
            yield pd.DataFrame(
                {
                    "__km_c": np.repeat(live, dim).astype("int32"),
                    "__i": np.tile(np.arange(dim, dtype="int32"), len(live)),
                    "__s": S[live].reshape(-1),
                    "__n": np.repeat(N[live], dim),
                }
            )

    return (
        q.select("__km_v")
        .mapInPandas(part, "__km_c int, __i int, __s long, __n long")
        .groupBy("__km_c", "__i")
        .agg(F.sum("__s").alias("__s"), F.sum("__n").alias("__n"))
        .collect()
    )  # k*dim rows after the partial combine


@register("embedding_kmeans")
def embedding_kmeans(
    id_col: str = "vec_id",
    input_col: str = "embedding",
    k: int = 8,
    iterations: int = 2,
    quant_scale: int = 1024,
    output_col: str = "cluster",
) -> TransformerFn:
    """Deterministic Lloyd k-means on an ``array<float>`` column.

    Semantics (stated exactly so an external oracle replays them):

    * quantize each component to ``floor(double(x)*quant_scale + 0.5)``
      (exact for power-of-two scales);
    * initial centroids are the quantized vectors of the ``k`` rows with
      the smallest ``(md5(cast(id as string)), id)`` — a seedless,
      engine-portable pseudo-random draw (the corpus-wide md5 convention);
      cluster ids 0..k-1 follow that order;
    * ``iterations`` full Lloyd rounds: assign every point to the nearest
      centroid by exact squared L2 (ties -> smallest cluster id), then
      recompute each centroid as the per-dimension FLOOR-division of the
      assigned sums by the assigned count; empty clusters keep their
      previous centroid;
    * output = the input rows plus ``<output_col>`` (int, assignment
      against the final centroids) and ``<output_col>_dist`` (bigint,
      exact squared grid distance to that centroid).

    Vectors are assumed uniform-width (the width of the widest non-null
    embedding); a ragged corpus should be run through a validation
    filter first. Null embeddings assign to cluster 0 with a null
    distance.

    Downstream: feed ``<output_col>`` to ``cluster_sample`` /
    ``dedup_semantic_centroid`` for SemDeDup-style pruning, or group on
    it for per-topic quality stats.
    """
    if k < 1:
        raise ValueError(f"embedding_kmeans: k must be >= 1, got {k}")
    if k > MAX_K:
        raise ValueError(
            f"embedding_kmeans: k = {k} exceeds {MAX_K}; a coarse quantizer "
            "this wide wants a hierarchical (two-level) clustering instead"
        )
    if iterations < 0:
        raise ValueError(
            f"embedding_kmeans: iterations must be >= 0, got {iterations}"
        )

    def _kmeans(df: DataFrame) -> DataFrame:
        dim = vector_width(df, input_col)
        if dim == 0:
            # empty corpus, or every embedding null/zero-width: every
            # point is distance 0 from every (empty) centroid -> cluster
            # 0, matching the squared-L2 algebra over zero dimensions
            if df.isEmpty():
                return df.select(
                    "*",
                    F.lit(None).cast("int").alias(output_col),
                    F.lit(None).cast("long").alias(f"{output_col}_dist"),
                ).limit(0)
            # non-null rows: distance 0 over zero dimensions; NULL
            # embeddings keep the documented cluster-0/null-dist
            # contract even here (r14 review finding)
            zdist = F.when(
                F.col(input_col).isNotNull(), F.lit(0).cast("long")
            )
            return df.select(
                "*",
                F.lit(0).cast("int").alias(output_col),
                zdist.alias(f"{output_col}_dist"),
            )
        # ----- driver tier (r15): whole-corpus local Lloyd when small -----
        rows = _driver_collect(df, id_col, input_col, quant_scale, dim)
        if rows is not None:
            ids, vecs = _driver_usable(rows)
            if not ids:
                return df.select(
                    "*",
                    F.lit(None).cast("int").alias(output_col),
                    F.lit(None).cast("long").alias(f"{output_col}_dist"),
                ).limit(0)
            order = _driver_init_order(ids)[:k]
            cents = np.array([vecs[i] for i in order], dtype=np.int64)
            X = np.array(vecs, dtype=np.int64)
            cents = _driver_lloyd(X, cents, iterations)
            centroids = [[int(x) for x in row] for row in cents]
            out = df.select(
                "*", _quantize_expr(input_col, quant_scale).alias("__km_v")
            )
            expanded = _assign_frame(out, centroids)
            return expanded.select(
                *[F.col(c) for c in df.columns],
                F.col("__km_c").alias(output_col),
                F.col("__km_d").alias(f"{output_col}_dist"),
            )
        q = df.select(
            F.col(id_col).alias("__km_id"),
            _quantize_expr(input_col, quant_scale).alias("__km_v"),
        ).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            # init from NON-NULL vectors only: a null embedding can win the
            # md5 order but is no usable centroid (assignment still gives
            # null rows the cluster-0/null-dist contract)
            init = (
                q.filter(_usable_sample("__km_v"))
                .select(
                    "__km_v",
                    F.md5(F.col("__km_id").cast("string")).alias("__h"),
                    "__km_id",
                )
                .orderBy("__h", "__km_id")
                .limit(k)
                .collect()
            )  # driver control decision: k rows
            if not init:
                schema_cols = [
                    F.lit(None).cast("int").alias(output_col),
                    F.lit(None).cast("long").alias(f"{output_col}_dist"),
                ]
                return df.select("*", *schema_cols).limit(0)
            centroids = [list(r["__km_v"]) for r in init]
            for _ in range(iterations):
                sums = _iteration_sums(q, centroids, dim)
                nxt = [list(c) for c in centroids]
                for r in sums:
                    nxt[r["__km_c"]][r["__i"]] = _floordiv(
                        int(r["__s"]), int(r["__n"])
                    )
                centroids = nxt
            # final assignment projects straight onto the caller's frame —
            # still one joinless Arrow-batched projection
            out = df.select(
                "*", _quantize_expr(input_col, quant_scale).alias("__km_v")
            )
            expanded = _assign_frame(out, centroids)
            return expanded.select(
                *[F.col(c) for c in df.columns],
                F.col("__km_c").alias(output_col),
                F.col("__km_d").alias(f"{output_col}_dist"),
            )
        finally:
            q.unpersist()

    return _kmeans


def _grouped_assign_udf(cmap):
    """Arrow-batched exact argmin WITHIN each point's coarse cluster:
    input (coarse id, quantized vector) -> struct<c:int, d:bigint> (fine
    cluster id within the coarse cell, exact squared grid distance).
    ``cmap`` maps coarse id -> int64 [k_fine_c x dim] sub-centroid matrix
    (a cell with fewer points than k_fine has a shorter matrix). Same
    tie-break and null contract as :func:`_assign_udf`."""
    norms = {g: (m * m).sum(axis=1) for g, m in cmap.items()}

    @F.pandas_udf("struct<c: int, d: bigint>")
    def assign(g: pd.Series, v: pd.Series) -> pd.DataFrame:
        n = len(v)
        out_c = np.zeros(n, dtype=np.int32)
        out_d = np.full(n, None, dtype=object)
        mask = (v.notna() & g.notna()).to_numpy()
        if mask.any():
            X, good = _clean_int_rows(v[mask].to_numpy())
            if good is not None:
                idx = np.flatnonzero(mask)
                mask[idx[~good]] = False
            if len(X):
                gv = g.to_numpy()[mask]
                pos = np.flatnonzero(mask)
                for cell in np.unique(gv):
                    m = cmap.get(int(cell))
                    if m is None:
                        continue  # null-contract rows stay (0, null)
                    rows = gv == cell
                    Xi = X[rows]
                    dist = (
                        (Xi * Xi).sum(axis=1)[:, None]
                        - 2 * (Xi @ m.T)
                        + norms[int(cell)][None, :]
                    )
                    out_c[pos[rows]] = dist.argmin(axis=1)
                    # object-dtype fancy assignment is elementwise — no
                    # per-row Python loop in the kernel
                    out_d[pos[rows]] = dist.min(axis=1)
        return pd.DataFrame({"c": out_c, "d": pd.array(out_d, dtype="Int64")})

    return assign


def _grouped_iteration_sums(q: DataFrame, cmap, dim: int):
    """One per-cell Lloyd iteration's (coarse, fine, dim) -> (sum, count)
    table — the grouped twin of :func:`_iteration_sums`: each Arrow batch
    assigns its rows against THEIR cell's sub-centroids and scatter-adds
    into per-cell accumulators; at most sum(k_fine_c)*dim partial rows
    leave each partition."""
    norms = {g: (m * m).sum(axis=1) for g, m in cmap.items()}

    def part(batches):
        S = {g: np.zeros((len(m), dim), dtype=np.int64) for g, m in cmap.items()}
        N = {g: np.zeros(len(m), dtype=np.int64) for g, m in cmap.items()}
        for pdf in batches:
            v, g = pdf["__km_v"], pdf["__km_g"]
            mask = (v.notna() & g.notna()).to_numpy()
            if not mask.any():
                continue
            X, good = _clean_int_rows(v[mask].to_numpy())
            if good is not None:
                idx = np.flatnonzero(mask)
                mask[idx[~good]] = False
            if not len(X):
                continue
            gv = g.to_numpy()[mask]
            for cell in np.unique(gv):
                m = cmap.get(int(cell))
                if m is None:
                    continue
                Xi = X[gv == cell]
                dist = (
                    (Xi * Xi).sum(axis=1)[:, None]
                    - 2 * (Xi @ m.T)
                    + norms[int(cell)][None, :]
                )
                c = dist.argmin(axis=1)
                np.add.at(N[int(cell)], c, 1)
                np.add.at(S[int(cell)], c, Xi)
        frames = []
        for cell in cmap:
            live = np.nonzero(N[cell])[0]
            if len(live):
                frames.append(
                    pd.DataFrame(
                        {
                            "__km_g": np.full(len(live) * dim, cell, dtype="int32"),
                            "__km_c": np.repeat(live, dim).astype("int32"),
                            "__i": np.tile(np.arange(dim, dtype="int32"), len(live)),
                            "__s": S[cell][live].reshape(-1),
                            "__n": np.repeat(N[cell][live], dim),
                        }
                    )
                )
        if frames:
            yield pd.concat(frames, ignore_index=True)

    return (
        q.select("__km_g", "__km_v")
        .mapInPandas(part, "__km_g int, __km_c int, __i int, __s long, __n long")
        .groupBy("__km_g", "__km_c", "__i")
        .agg(F.sum("__s").alias("__s"), F.sum("__n").alias("__n"))
        .collect()
    )  # sum(k_fine_c) * dim rows after the partial combine


@register("embedding_kmeans_hier")
def embedding_kmeans_hier(
    id_col: str = "vec_id",
    input_col: str = "embedding",
    k_coarse: int = 8,
    k_fine: int = 8,
    coarse_iterations: int = 2,
    fine_iterations: int = 2,
    quant_scale: int = 1024,
    output_col: str = "cluster",
) -> TransformerFn:
    """Two-level hierarchical Lloyd k-means — the coarse quantizer the
    flat trainer's MAX_K error message points at, for effective k beyond
    the per-batch distance-matrix cap (SemDeDup at 100M+ vectors wants
    k ~ 1e5; here k_eff = k_coarse * k_fine with each level <= MAX_K).

    Semantics (deterministic, oracle-replayable): level 1 IS
    :func:`embedding_kmeans` on (k_coarse, coarse_iterations). Level 2,
    within each coarse cell: sub-centroids init from the k_fine cell
    members with the smallest ``(md5(id), id)`` (sub ids 0..k_fine-1 in
    that order; a smaller cell gets its size), then ``fine_iterations``
    exact Lloyd rounds confined to the cell (same floor-div update, ties
    to the smallest sub id, empty sub-cluster keeps its centroid).

    Output adds ``<output_col>_coarse`` (int), ``<output_col>_fine``
    (int), ``<output_col>`` (int, the global id
    ``coarse * k_fine + fine``) and ``<output_col>_dist`` (bigint, exact
    squared grid distance to the final sub-centroid). Null embeddings
    keep the flat trainer's contract (coarse 0 / fine 0 / null distance).

    Scale: every per-round job ships only (sum of cell sub-centroids) x
    dim int64 to the driver — at k_eff = 32k x 256 dims that is ~67 MB
    of control-plane state, independent of corpus size; assignment work
    per Arrow batch is rows x k_fine (not rows x k_eff), which is what
    makes the wide-k regime feasible at all.
    """
    for name, v in (("k_coarse", k_coarse), ("k_fine", k_fine)):
        if v < 1:
            raise ValueError(f"embedding_kmeans_hier: {name} must be >= 1, got {v}")
        if v > MAX_K:
            raise ValueError(
                f"embedding_kmeans_hier: {name} = {v} exceeds {MAX_K} "
                "(each level is one flat trainer; raise the other level "
                "to widen k_eff)"
            )
    if coarse_iterations < 0 or fine_iterations < 0:
        raise ValueError("embedding_kmeans_hier: iterations must be >= 0")

    def _hier(df: DataFrame) -> DataFrame:
        dim = vector_width(df, input_col)
        null_cols = [
            F.lit(None).cast("int").alias(f"{output_col}_coarse"),
            F.lit(None).cast("int").alias(f"{output_col}_fine"),
            F.lit(None).cast("int").alias(output_col),
            F.lit(None).cast("long").alias(f"{output_col}_dist"),
        ]
        if dim == 0:
            if df.isEmpty():
                return df.select("*", *null_cols).limit(0)
            zdist = F.when(
                F.col(input_col).isNotNull(), F.lit(0).cast("long")
            )  # null embeddings keep the null-dist contract (r14 review)
            return df.select(
                "*",
                F.lit(0).cast("int").alias(f"{output_col}_coarse"),
                F.lit(0).cast("int").alias(f"{output_col}_fine"),
                F.lit(0).cast("int").alias(output_col),
                zdist.alias(f"{output_col}_dist"),
            )
        # ----- driver tier (r15): both levels local when the corpus fits --
        rows = _driver_collect(df, id_col, input_col, quant_scale, dim)
        if rows is not None:
            ids, vecs = _driver_usable(rows)
            if not ids:
                return df.select("*", *null_cols).limit(0)
            order = _driver_init_order(ids)[:k_coarse]
            cents = np.array([vecs[i] for i in order], dtype=np.int64)
            X = np.array(vecs, dtype=np.int64)
            cents = _driver_lloyd(X, cents, coarse_iterations)
            coarse = [[int(x) for x in row] for row in cents]
            # fixed coarse assignment of every usable row (argmin, ties ->
            # first = smallest id — the _assign_udf kernel's rule)
            cnorm = (cents * cents).sum(axis=1)
            gdist = (
                (X * X).sum(axis=1)[:, None] - 2 * (X @ cents.T) + cnorm[None, :]
            )
            gv = gdist.argmin(axis=1)
            # per-cell init: the k_fine cell members with the smallest
            # (md5(id), id) — sub ids 0..k_fine-1 in that order
            full_order = _driver_init_order(ids)
            cells: dict = {}
            for i in full_order:
                c = int(gv[i])
                lst = cells.setdefault(c, [])
                if len(lst) < k_fine:
                    lst.append(list(vecs[i]))
            cmap = {c: np.array(v, dtype=np.int64) for c, v in cells.items()}
            # confined fine Lloyd rounds (same update rule per cell)
            for _ in range(fine_iterations):
                nxt = {c: m.copy() for c, m in cmap.items()}
                for c, m in cmap.items():
                    Xi = X[gv == c]
                    if not len(Xi):
                        continue
                    mn = (m * m).sum(axis=1)
                    d = (
                        (Xi * Xi).sum(axis=1)[:, None]
                        - 2 * (Xi @ m.T)
                        + mn[None, :]
                    )
                    a = d.argmin(axis=1)
                    for j in range(len(m)):
                        mm = a == j
                        n = int(mm.sum())
                        if n:
                            s = Xi[mm].sum(axis=0)
                            nxt[c][j] = [_floordiv(int(sv), n) for sv in s]
                cmap = nxt
            out = df.select(
                "*", _quantize_expr(input_col, quant_scale).alias("__km_v")
            )
            out = _assign_frame(out, coarse).withColumnRenamed(
                "__km_c", "__km_g"
            ).drop("__km_d")
            a = _grouped_assign_udf(cmap)(F.col("__km_g"), F.col("__km_v"))
            out = out.select(
                "*", a["c"].alias("__km_f"), a["d"].alias("__km_fd")
            )
            return out.select(
                *[F.col(c) for c in df.columns],
                F.col("__km_g").cast("int").alias(f"{output_col}_coarse"),
                F.col("__km_f").cast("int").alias(f"{output_col}_fine"),
                (F.col("__km_g") * k_fine + F.col("__km_f"))
                .cast("int")
                .alias(output_col),
                F.col("__km_fd").alias(f"{output_col}_dist"),
            )
        q = df.select(
            F.col(id_col).alias("__km_id"),
            _quantize_expr(input_col, quant_scale).alias("__km_v"),
        ).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            # ----- level 1: the flat trainer, verbatim semantics -----
            # (incl. its non-null init filter — see embedding_kmeans)
            init = (
                q.filter(_usable_sample("__km_v"))
                .select(
                    "__km_v",
                    F.md5(F.col("__km_id").cast("string")).alias("__h"),
                    "__km_id",
                )
                .orderBy("__h", "__km_id")
                .limit(k_coarse)
                .collect()
            )
            if not init:
                return df.select("*", *null_cols).limit(0)
            coarse = [list(r["__km_v"]) for r in init]
            for _ in range(coarse_iterations):
                sums = _iteration_sums(q, coarse, dim)
                nxt = [list(c) for c in coarse]
                for r in sums:
                    nxt[r["__km_c"]][r["__i"]] = _floordiv(
                        int(r["__s"]), int(r["__n"])
                    )
                coarse = nxt
            g = _assign_frame(q, coarse).select(
                "__km_id", "__km_v", F.col("__km_c").alias("__km_g")
            ).persist(StorageLevel.MEMORY_AND_DISK)
            # ----- level 2: per-cell init + confined Lloyd rounds -----
            from pyspark.sql import Window

            w = Window.partitionBy("__km_g").orderBy(
                F.md5(F.col("__km_id").cast("string")), "__km_id"
            )
            sub_init = (
                g.filter(_usable_sample("__km_v"))
                .select(
                    "__km_g", "__km_v", (F.row_number().over(w) - 1).alias("__r")
                )
                .filter(F.col("__r") < k_fine)
                .collect()
            )  # driver control decision: <= k_coarse*k_fine rows
            cells: dict = {}
            for r in sorted(sub_init, key=lambda r: (r["__km_g"], r["__r"])):
                cells.setdefault(int(r["__km_g"]), []).append(list(r["__km_v"]))
            cmap = {
                c: np.array(v, dtype=np.int64) for c, v in cells.items()
            }
            for _ in range(fine_iterations):
                sums = _grouped_iteration_sums(g, cmap, dim)
                nxt = {c: m.copy() for c, m in cmap.items()}
                for r in sums:
                    nxt[int(r["__km_g"])][int(r["__km_c"]), int(r["__i"])] = (
                        _floordiv(int(r["__s"]), int(r["__n"]))
                    )
                cmap = nxt
            # ----- final assignment projected onto the caller's frame -----
            out = df.select(
                "*", _quantize_expr(input_col, quant_scale).alias("__km_v")
            )
            out = _assign_frame(out, coarse).withColumnRenamed(
                "__km_c", "__km_g"
            ).drop("__km_d")
            a = _grouped_assign_udf(cmap)(F.col("__km_g"), F.col("__km_v"))
            out = out.select("*", a["c"].alias("__km_f"), a["d"].alias("__km_fd"))
            return out.select(
                *[F.col(c) for c in df.columns],
                F.col("__km_g").cast("int").alias(f"{output_col}_coarse"),
                F.col("__km_f").cast("int").alias(f"{output_col}_fine"),
                (F.col("__km_g") * k_fine + F.col("__km_f"))
                .cast("int")
                .alias(output_col),
                F.col("__km_fd").alias(f"{output_col}_dist"),
            )
        finally:
            q.unpersist()
            try:
                g.unpersist()
            except Exception:
                pass

    return _hier


@register("cluster_stats")
def cluster_stats(
    cluster_col: str = "cluster",
    dist_col: str = "cluster_dist",
) -> TransformerFn:
    """Per-cluster diagnostics over a k-means assignment: size, exact
    total/mean inertia (sum of squared grid distances), and the max
    distance — the table a curation pipeline reads to decide which
    clusters to prune, re-split, or down-sample. One map-side-combined
    aggregation; mean is rounded to 6 places for cross-engine stability
    (sum and count are exact bigints, so the rounded quotient is too).
    """

    def _stats(df: DataFrame) -> DataFrame:
        missing = [c for c in (cluster_col, dist_col) if c not in df.columns]
        if missing:
            raise ValueError(
                f"cluster_stats: column(s) {missing} not in the input frame "
                f"(have {df.columns}); run embedding_kmeans first or point "
                "cluster_col/dist_col at the assignment columns"
            )
        return (
            df.groupBy(F.col(cluster_col).alias("cluster"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("size"),
                F.sum(dist_col).cast("long").alias("inertia"),
                F.max(dist_col).cast("long").alias("max_dist"),
            )
            .select(
                "cluster",
                "size",
                "inertia",
                F.round(F.col("inertia") / F.col("size"), 6).alias("mean_dist"),
                "max_dist",
            )
        )

    return _stats


@register("embedding_pq_encode")
def embedding_pq_encode(
    id_col: str = "vec_id",
    input_col: str = "embedding",
    m: int = 4,
    k: int = 16,
    quant_scale: int = 1024,
    output_col: str = "pq_code",
) -> TransformerFn:
    """Product-quantization encoding (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search"): split each embedding
    into ``m`` contiguous subvectors and code each against a ``k``-entry
    per-subspace codebook — the 8-32x-smaller representation ANN serving
    layers store instead of raw vectors (a dim=64 float vector becomes
    ``m=4`` bytes at ``k<=256``).

    Codebooks here are SAMPLED, not trained: the ``k`` rows with the
    smallest ``(md5(cast(id as string)), id)`` (the corpus-wide md5
    draw shared with ``embedding_kmeans``/``knn_ivf``) contribute their
    quantized subvectors, codeword j of every subspace coming from the
    j-th sampled row. That keeps the whole operator a deterministic
    closed form an external SQL engine replays bit-for-bit; for trained
    codebooks run ``embedding_kmeans`` per subspace and feed its
    centroids through ``dedup_semantic_centroid``-style composition.

    Exact semantics: components quantize to the integer grid
    (``floor(double(x)*quant_scale + 0.5)``); the code of subspace s is
    the argmin over exact int64 squared L2 (ties -> smallest code id);
    output adds ``<output_col>`` (array<int>, length m) and
    ``<output_col>_dist`` (bigint — the summed per-subspace residual,
    i.e. the exact squared grid distance to the reconstruction). Null
    embeddings produce null code/dist. The embedding width must divide
    evenly by ``m``.

    Scale: one Arrow-batched projection (the measured kmeans-assignment
    kernel rationale — JVM formulations either blow Janino's 64 KB
    method limit or run interpreted HOFs ~8x slower); codebooks ride
    the closure (m*k*dim/m ints — KBs). No shuffle, no join.
    """
    if m < 1:
        raise ValueError(f"embedding_pq_encode: m must be >= 1, got {m}")
    if not 1 <= k <= 4096:
        # the codebook draw collects k full vectors to the driver and the
        # per-batch distance tensor is rows x m x k — 4096 codes already
        # exceeds any published PQ configuration (k<=256 is the norm)
        raise ValueError(
            f"embedding_pq_encode: k must be in [1, 4096], got {k}"
        )

    def _encode(df: DataFrame) -> DataFrame:
        dim = vector_width(df, input_col)
        if dim == 0:
            return df.select(
                "*",
                F.lit(None).cast("array<int>").alias(output_col),
                F.lit(None).cast("long").alias(f"{output_col}_dist"),
            )
        if dim % m != 0:
            raise ValueError(
                f"embedding_pq_encode: embedding width {dim} is not "
                f"divisible by m={m} subspaces"
            )
        sub = dim // m
        q = df.select(
            F.col(id_col).alias("__pq_id"),
            _quantize_expr(input_col, quant_scale).alias("__pq_v"),
        )
        init = (
            q.filter(_usable_sample("__pq_v")).select(
                "__pq_v",
                F.md5(F.col("__pq_id").cast("string")).alias("__h"),
                "__pq_id",
            )
            .orderBy("__h", "__pq_id")
            .limit(k)
            .collect()
        )  # driver control decision: k rows
        if not init:
            return df.select(
                "*",
                F.lit(None).cast("array<int>").alias(output_col),
                F.lit(None).cast("long").alias(f"{output_col}_dist"),
            ).limit(0)
        # codebooks[s][j] = j-th sampled row's s-th subvector
        C = np.array([list(r["__pq_v"]) for r in init], dtype=np.int64)
        kk = C.shape[0]
        books = C.reshape(kk, m, sub).transpose(1, 0, 2)  # (m, k, sub)
        bnorm = (books * books).sum(axis=2)  # (m, k)

        @F.pandas_udf("struct<c: array<int>, d: bigint>")
        def encode(v: pd.Series) -> pd.DataFrame:
            n = len(v)
            out_c = [None] * n
            out_d = np.full(n, None, dtype=object)
            mask = v.notna().to_numpy()
            if mask.any():
                # route null-ELEMENT rows out like every other kernel in
                # this file (astype over an object/NaN batch either
                # crashes or INT64_MIN-poisons the codes — r14 review);
                # they keep the null-code contract of null embeddings
                X, good = _clean_int_rows(v[mask].to_numpy())
                if good is not None:
                    mask[np.flatnonzero(mask)] = good
            if mask.any():
                Xs = X.reshape(len(X), m, sub)
                xnorm = (Xs * Xs).sum(axis=2)  # (n, m)
                # (n, m, k) exact int64 distance expansion per subspace
                cross = np.einsum("nms,mks->nmk", Xs, books)
                dist = xnorm[:, :, None] - 2 * cross + bnorm[None, :, :]
                codes = dist.argmin(axis=2).astype(np.int32)  # (n, m)
                dmin = dist.min(axis=2).sum(axis=1)  # (n,)
                ci = 0
                for i in range(n):
                    if mask[i]:
                        out_c[i] = codes[ci].tolist()
                        out_d[i] = int(dmin[ci])
                        ci += 1
            return pd.DataFrame(
                {"c": out_c, "d": pd.array(out_d, dtype="Int64")}
            )

        a = encode(_quantize_expr(input_col, quant_scale))
        return df.select(
            "*",
            a["c"].alias(output_col),
            a["d"].alias(f"{output_col}_dist"),
        )

    return _encode


@register("knn_pq")
def knn_pq(
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    m: int = 4,
    num_codes: int = 16,
    quant_scale: int = 1024,
    query_filter: str = "vec_id < 10",
) -> TransformerFn:
    """Approximate top-k via PQ asymmetric distance computation (ADC —
    Jégou et al. 2011 §IV): the corpus is stored only as
    ``embedding_pq_encode`` codes; each query precomputes an exact
    integer lookup table of per-subspace distances to every codeword,
    and a document's approximate distance is the m-term LUT sum over its
    codes. The serving-side complement of ``embedding_pq_encode`` — the
    memory-bound ANN shape where the corpus no longer fits as raw
    vectors.

    Output: ``(query_id, neighbor_id, adc_dist, rank)`` — rank 1 =
    smallest ADC distance, ties -> smallest neighbor id; self-matches
    excluded; null-embedding corpus rows unscoreable and skipped.

    Contract (the ``knn_brute_force`` convention): ``query_filter`` must
    select a driver-memory-sized query set — the queries and their
    (n_queries × m × num_codes) int64 LUTs ride the kernel closure. The
    corpus is scanned once through the Arrow-batched code+LUT kernel
    (no join, no literal tables in codegen), then one exploded
    (neighbor, query) frame takes a single per-query top-k window —
    shuffle volume is corpus × n_queries skinny rows, the same class as
    the brute-force scorer, but each row's score came from m lookups
    instead of a dim-term dot product.
    """
    if k < 1:
        raise ValueError(f"knn_pq: k must be >= 1, got {k}")
    if m < 1:
        raise ValueError(f"knn_pq: m must be >= 1, got {m}")
    if not 1 <= num_codes <= 4096:
        raise ValueError(
            f"knn_pq: num_codes must be in [1, 4096], got {num_codes}"
        )

    def _knn(df: DataFrame) -> DataFrame:
        from pyspark.sql import Window
        from pyspark.sql.types import (
            IntegerType,
            LongType,
            StructField,
            StructType,
        )

        dim = vector_width(df, embedding_col)
        # the empty/degenerate result must carry the SAME id dtype the
        # populated path casts to — a string-id corpus previously flipped
        # schema depending on whether any results existed
        id_type = df.schema[id_col].dataType
        empty_out = df.sparkSession.createDataFrame(
            [],
            StructType(
                [
                    StructField("query_id", id_type),
                    StructField("neighbor_id", id_type),
                    StructField("adc_dist", LongType()),
                    StructField("rank", IntegerType()),
                ]
            ),
        )
        if dim == 0:
            return empty_out
        if dim % m != 0:
            raise ValueError(
                f"knn_pq: embedding width {dim} is not divisible by "
                f"m={m} subspaces"
            )
        sub = dim // m
        q = df.select(
            F.col(id_col).alias("__pq_id"),
            _quantize_expr(embedding_col, quant_scale).alias("__pq_v"),
        )
        init = (
            q.filter(_usable_sample("__pq_v"))
            .select(
                "__pq_v",
                F.md5(F.col("__pq_id").cast("string")).alias("__h"),
                "__pq_id",
            )
            .orderBy("__h", "__pq_id")
            .limit(num_codes)
            .collect()
        )  # driver control decision: num_codes rows
        # filter on the CALLER's frame (before the rename) so the
        # predicate sees the user's column names; a null predicate row is
        # simply not selected (filter semantics)
        qsrc = df.filter(query_filter) if query_filter else df
        max_q = 100_000
        qrows = bounded_collect(
            qsrc.select(
                F.col(id_col).alias("__pq_id"),
                _quantize_expr(embedding_col, quant_scale).alias("__pq_v"),
            ).filter(_usable_sample("__pq_v")),
            max_q,
        )
        if qrows is None:
            raise ValueError(
                f"knn_pq: query_filter selected more than {max_q} rows — "
                "queries and their LUTs ride the kernel closure; a "
                "corpus-scale query set is an all-pairs problem (use the "
                "LSH machinery instead)"
            )
        if not init or not qrows:
            return empty_out
        books = (
            np.array([list(r["__pq_v"]) for r in init], dtype=np.int64)
            .reshape(len(init), m, sub)
            .transpose(1, 0, 2)
        )  # (m, k, sub)
        bnorm = (books * books).sum(axis=2)  # (m, k)
        Q = np.array([list(r["__pq_v"]) for r in qrows], dtype=np.int64)
        qids = [r["__pq_id"] for r in qrows]
        Qs = Q.reshape(len(Q), m, sub)
        # exact int64 LUT: (nq, m, k) squared distances query-sub x code
        lut = (
            (Qs * Qs).sum(axis=2)[:, :, None]
            - 2 * np.einsum("qms,mks->qmk", Qs, books)
            + bnorm[None, :, :]
        )
        nq = len(qids)

        def _batch_dists(v):
            """(docs-in-batch, nq) exact int64 ADC matrix for a batch's
            non-null vectors (mask returned alongside)."""
            mask = v.notna().to_numpy()
            if not mask.any():
                return None, mask
            X, good = _clean_int_rows(v[mask].to_numpy())
            if good is not None:  # null-element rows drop out (r14 review)
                mask[np.flatnonzero(mask)] = good
            if not mask.any():
                return None, mask
            Xs = X.reshape(len(X), m, sub)
            xnorm = (Xs * Xs).sum(axis=2)
            cross = np.einsum("nms,mks->nmk", Xs, books)
            dist = xnorm[:, :, None] - 2 * cross + bnorm[None, :, :]
            codes = dist.argmin(axis=2)  # (n, m)
            d = np.zeros((len(X), nq), dtype=np.int64)
            for s in range(m):
                d += lut[:, s, :][:, codes[:, s]].T
            return d, mask

        from pyspark.sql.types import ByteType, ShortType

        if isinstance(id_type, (ByteType, ShortType, IntegerType, LongType)):
            # FAST PATH (integral ids): partition-local top-k INSIDE the
            # kernel — each partition emits at most nq*k candidate rows
            # (the global top-k is a subset of the union of per-partition
            # top-ks under the same (dist, id) total order), so the only
            # exchange ships partitions x nq x k skinny rows instead of
            # corpus x nq. The 1M-vector probe's window previously sorted
            # 8M exploded rows.
            qid_arr = np.array([int(x) for x in qids], dtype=np.int64)

            def part(batches):
                cand_d = [np.empty(0, np.int64) for _ in range(nq)]
                cand_i = [np.empty(0, np.int64) for _ in range(nq)]
                for pdf in batches:
                    d, mask = _batch_dists(pdf["__pq_v"])
                    if d is None:
                        continue
                    ids_m = (
                        pdf["__pq_id"].to_numpy()[mask].astype(np.int64)
                    )
                    for qi in range(nq):
                        excl = ids_m != qid_arr[qi]
                        dd = np.concatenate([cand_d[qi], d[excl, qi]])
                        ii = np.concatenate([cand_i[qi], ids_m[excl]])
                        if len(dd) > k:
                            sel = np.lexsort((ii, dd))[:k]
                            dd, ii = dd[sel], ii[sel]
                        cand_d[qi], cand_i[qi] = dd, ii
                live = [qi for qi in range(nq) if len(cand_d[qi])]
                if live:
                    yield pd.DataFrame(
                        {
                            "query_id": np.concatenate(
                                [
                                    np.full(
                                        len(cand_d[qi]), qid_arr[qi],
                                        dtype=np.int64,
                                    )
                                    for qi in live
                                ]
                            ),
                            "neighbor_id": np.concatenate(
                                [cand_i[qi] for qi in live]
                            ),
                            "adc_dist": np.concatenate(
                                [cand_d[qi] for qi in live]
                            ),
                        }
                    )

            scored = q.mapInPandas(
                part, "query_id long, neighbor_id long, adc_dist long"
            )
        else:
            # generic ids: score per row and let the window rank — the
            # numpy top-k merge needs an ordered numeric id dtype
            @F.pandas_udf("array<bigint>")
            def adc(v: pd.Series) -> pd.Series:
                out = [None] * len(v)
                d, mask = _batch_dists(v)
                if d is not None:
                    di = iter(d)
                    for i in range(len(v)):
                        if mask[i]:
                            out[i] = next(di).tolist()
                return pd.Series(out)

            # (qi -> query_id) as a tiny BROADCAST lookup frame: a
            # literal array of up to max_q ids baked into the plan is
            # the literal-table pattern this module's header bans —
            # O(|queries|) plan nodes re-evaluated per exploded corpus
            # row (r14 review finding)
            from pyspark.sql import types as _T

            qmap = F.broadcast(
                df.sparkSession.createDataFrame(
                    list(enumerate(qids)),
                    _T.StructType(
                        [
                            _T.StructField("__qi", _T.IntegerType()),
                            _T.StructField("query_id", id_type),
                        ]
                    ),
                )
            )
            scored = (
                q.select("__pq_id", adc(F.col("__pq_v")).alias("__ds"))
                .filter(F.col("__ds").isNotNull())
                .select(
                    F.col("__pq_id").alias("neighbor_id"),
                    F.posexplode("__ds").alias("__qi", "adc_dist"),
                )
                .join(qmap, "__qi")
                .filter(F.col("query_id") != F.col("neighbor_id"))
            )
        w = Window.partitionBy("query_id").orderBy(
            F.asc("adc_dist"), F.asc("neighbor_id")
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(
                F.col("query_id").cast(id_type).alias("query_id"),
                F.col("neighbor_id").cast(id_type).alias("neighbor_id"),
                F.col("adc_dist").cast("long").alias("adc_dist"),
                F.col("rank").cast("int").alias("rank"),
            )
        )

    return _knn


@register("knn_pq_refine")
def knn_pq_refine(
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    shortlist: int = 20,
    m: int = 4,
    num_codes: int = 16,
    quant_scale: int = 1024,
    query_filter: str = "vec_id < 10",
) -> TransformerFn:
    """PQ shortlist + EXACT re-rank — the production two-stage ANN
    recipe (Jégou et al. 2011 §V: ADC for the coarse pass, exact
    distances on a shortlist for the final order): :func:`knn_pq`
    produces each query's top-``shortlist`` candidates from the
    memory-bound codes, then the candidates' RAW vectors are gathered
    and re-ranked by exact integer squared distance to the query.
    Refine repairs exactly the quantization-induced rank inversions —
    recall@k of PQ-alone vs PQ+refine is the standard tuning curve, and
    ``shortlist`` is the knob (k <= shortlist <= corpus).

    Output: ``(query_id, neighbor_id, exact_dist, adc_dist, rank)`` —
    rank 1 = smallest EXACT distance, ties -> smaller neighbor id;
    ``adc_dist`` rides along so the inversion repair is observable.

    Scale shape: the ADC pass is knn_pq's (one Arrow-batched corpus
    scan, partition-local top-shortlist for integral ids); the GATHER
    is one more corpus scan with the nq x shortlist id set
    broadcast-semi-joined against it (no shuffle of the corpus — this
    is the "refine reads R raw vectors per query" cost, made explicit
    as a BHJ); the re-rank is a window over nq x shortlist skinny rows.
    Queries ride a broadcast (the knn_pq driver-sized contract).
    """
    if k < 1:
        raise ValueError(f"knn_pq_refine: k must be >= 1, got {k}")
    if shortlist < k:
        raise ValueError(
            f"knn_pq_refine: shortlist ({shortlist}) must be >= k ({k})"
        )

    def _refine(df: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        cand = df.transform(
            knn_pq(
                embedding_col=embedding_col,
                id_col=id_col,
                k=shortlist,
                m=m,
                num_codes=num_codes,
                quant_scale=quant_scale,
                query_filter=query_filter,
            )
        ).select("query_id", "neighbor_id", "adc_dist")
        corpus = df.select(
            F.col(id_col).alias("neighbor_id"),
            _quantize_expr(embedding_col, quant_scale).alias("__nv"),
        ).filter(F.col("__nv").isNotNull())
        queries = (df.filter(query_filter) if query_filter else df).select(
            F.col(id_col).alias("query_id"),
            _quantize_expr(embedding_col, quant_scale).alias("__qv"),
        ).filter(F.col("__qv").isNotNull())
        gathered = corpus.join(F.broadcast(cand), "neighbor_id")
        both = gathered.join(F.broadcast(queries), "query_id")
        exact = F.aggregate(
            F.zip_with("__qv", "__nv", lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        w = Window.partitionBy("query_id").orderBy(
            F.asc("__ed"), F.asc("neighbor_id")
        )
        return (
            both.withColumn("__ed", exact.cast("long"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(
                "query_id",
                "neighbor_id",
                F.col("__ed").alias("exact_dist"),
                F.col("adc_dist").cast("long"),
                F.col("rank").cast("int"),
            )
        )

    return _refine
