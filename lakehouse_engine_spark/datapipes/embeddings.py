"""Embedding-column vector operators: L2 normalization and int8
quantization — the storage/serving prep steps of an embedding pipeline
(normalize before cosine ANN so dot == cosine; quantize 4× for the
vector store).

Both are pure row-space projections over ``array<float>`` built from
higher-order functions (``aggregate`` / ``transform``) — zero shuffle,
whole-stage codegen, no Python. Numeric determinism: every fold runs in
array-index order on IEEE doubles, so Spark and the DuckDB oracle
(``list_reduce`` folds in the same order) produce bit-identical results;
quantization uses ``floor(x + 0.5)`` (not engine-specific rounding) so
the int codes match exactly cross-engine.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lakehouse_engine_spark.datapipes.colbuild import vector_width
from lakehouse_engine_spark.datapipes.registry import register

# out_dim * input width above which embedding_random_projection folds in
# the Arrow kernel: past it the unrolled expression would blow Janino's
# 64 KB codegen method limit
RANDOM_PROJECTION_MAX_TERMS = 65_536

TransformerFn = Callable[[DataFrame], DataFrame]


def l2_norm(col: Column) -> Column:
    """sqrt of the index-order fold of squared components (exact-order fp)."""
    return F.sqrt(
        F.aggregate(col, F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double"))
    )


@register("embedding_normalize", streaming_ok=True)
def embedding_normalize(
    input_col: str = "embedding",
    output_col: str = "embedding_unit",
    norm_col: str = "l2_norm",
    min_norm: float = 1e-12,
) -> TransformerFn:
    """Unit-normalize embeddings: ``v / ||v||₂`` (components as double),
    emitting the norm alongside. Zero-norm vectors (``||v|| < min_norm``)
    pass through as all-zero rather than NaN — degenerate embeddings are a
    data-quality signal to filter on ``norm_col``, not a crash.

    NaN/Inf-poisoned vectors take the SAME all-zero branch: under Spark's
    ordering a NaN norm satisfies ``n >= min_norm`` (NaN sorts above
    every number), which used to emit an all-NaN unit vector that poisons
    every downstream dot product (r14 review finding). ``norm_col``
    keeps the NaN/Inf value, so the filter signal survives
    (``embedding_sanitize`` is the upfront screen).

    After this, cosine similarity is a plain dot product, which is what the
    ANN operators (``knn_*``, ``dedup_embedding_cosine``) exploit.
    """

    def _norm(df: DataFrame) -> DataFrame:
        c = F.col(input_col)
        n = l2_norm(c)
        finite = ~F.isnan(n) & (n != F.lit(float("inf")))
        unit = F.when(
            (n >= min_norm) & finite,
            F.transform(c, lambda x: x.cast("double") / n),
        ).otherwise(F.transform(c, lambda x: F.lit(0.0)))
        return df.withColumns({norm_col: n, output_col: unit})

    return _norm


@register("embedding_quantize_int8", streaming_ok=True)
def embedding_quantize_int8(
    input_col: str = "embedding",
    output_col: str = "embedding_q8",
    scale_col: str = "q8_scale",
) -> TransformerFn:
    """Symmetric per-vector int8 quantization: ``q_i = floor(v_i·127/amax
    + 0.5)`` with ``amax = max |v_i|``, codes in [-127, 127], plus the
    dequant scale ``amax/127``. 4× smaller than float32 at ~0.3% cosine
    error for typical embedding distributions; the per-VECTOR scale (vs
    per-tensor) keeps outlier vectors from crushing everyone's resolution.

    All-zero vectors quantize to all-zero codes with scale 0, and so do
    NaN/Inf-poisoned vectors: a NaN ``amax`` satisfies ``amax > 0.0``
    under Spark's NaN ordering, which used to drive the code expression
    into ``cast(NaN as int)`` — an ANSI runtime error (r14 review
    finding). ``floor(x + 0.5)`` is used instead of engine ``round`` so
    negative half-way codes resolve identically in Spark and the DuckDB
    oracle.
    """

    def _quant(df: DataFrame) -> DataFrame:
        c = F.col(input_col)
        amax = F.array_max(F.transform(c, lambda x: F.abs(x.cast("double"))))
        usable = (
            (amax > 0.0)
            & ~F.isnan(amax)
            & (amax != F.lit(float("inf")))
        )
        q = F.when(
            usable,
            F.transform(
                c,
                lambda x: F.floor(x.cast("double") * 127.0 / amax + 0.5).cast("int"),
            ),
        ).otherwise(F.transform(c, lambda x: F.lit(0)))
        return df.withColumns(
            {
                output_col: q,
                scale_col: F.when(usable, amax / 127.0).otherwise(F.lit(0.0)),
            }
        )

    return _quant


@register("embedding_mean_pool")
def embedding_mean_pool(
    group_col: str = "label",
    input_col: str = "embedding",
    output_col: str = "embedding_mean",
    scale: int = 1_000_000,
) -> TransformerFn:
    """Mean-pool embeddings per group — chunk→document pooling, per-class
    centroids, per-domain "topic vectors". Returns one row per group:
    ``group_col``, ``n_vectors``, the pooled ``output_col`` array, and
    ``pool_sums`` (the exact scaled integer sums the mean derives from).

    Numeric design: float sums over rows are accumulation-order-dependent
    (shuffle partitioning changes the result run to run), so components
    snap to a 1/``scale`` grid as BIGINTs — ``floor(v·scale + 0.5)`` — and
    sum EXACTLY; the mean is one double division per component. Identical
    output for any partitioning, and bit-reproducible by the SQL oracle.

    Scale design: posexplode → ONE map-side-combined groupBy on
    (group, component) — shuffled volume is groups × dim, not rows × dim,
    after partial aggregation — then a groups-keyed rebuild of the array
    via sorted collect_list (bounded: dim entries per group).
    """

    def _pool(df: DataFrame) -> DataFrame:
        comp = (
            df.select(
                F.col(group_col).alias("__g"),
                F.posexplode(F.col(input_col)).alias("__p", "__v"),
            )
            .withColumn(
                "__ci",
                F.floor(F.col("__v").cast("double") * scale + 0.5).cast("long"),
            )
            .groupBy("__g", "__p")
            .agg(F.sum("__ci").alias("__s"), F.count(F.lit(1)).alias("__n"))
        )
        pooled = (
            comp.groupBy("__g")
            .agg(
                F.max("__n").alias("n_vectors"),
                F.array_sort(
                    F.collect_list(F.struct("__p", "__s", "__n"))
                ).alias("__ps"),
            )
            .select(
                F.col("__g").alias(group_col),
                F.col("n_vectors").cast("long").alias("n_vectors"),
                F.transform("__ps", lambda x: x["__s"]).alias("pool_sums"),
                # each component divides by its OWN count: on mixed-width
                # groups (ragged embeddings) dividing by max(__n) silently
                # halved the tail components' means (r14 review finding;
                # uniform-width groups — the contract case — are identical
                # either way since every __n == n_vectors there)
                F.transform(
                    "__ps",
                    lambda x: x["__s"].cast("double") / x["__n"] / scale,
                ).alias(output_col),
            )
        )
        return pooled

    return _pool


@register("embedding_pca")
def embedding_pca(
    n_components: int = 8,
    input_col: str = "embedding",
    output_col: str = "pca",
    scale: int = 1024,
    mode: str = "project",
    max_dim: int = 4096,
    whiten: bool = False,
    whiten_eps: float = 1e-12,
) -> TransformerFn:
    """Distributed PCA over an embedding column — the whitening /
    decorrelation step SemDeDup-style pipelines apply before cosine
    thresholds, and the exact counterpart of the seeded JL projection
    when the data's own covariance (not a random matrix) should pick the
    subspace.

    Two modes. ``mode="stats"`` emits the EXACT integer second-moment
    table the decomposition derives from — one row per (i, j) upper-
    triangle pair with ``sxy = Σ q_i·q_j`` over grid-quantized components
    (``floor(x·scale + 0.5)`` as int64 — the same exact-grid discipline
    as ``embedding_kmeans``), plus ``(i, -1, Σ q_i)`` sum rows and a
    ``(-1, -1, n)`` count row. Integer sums are order-independent, so an
    external SQL engine replays every cell bit-for-bit (this is the
    dp122 oracle surface). ``mode="project"`` eigendecomposes the
    covariance assembled from those same moments on the DRIVER
    (dim x dim — numpy ``eigh``, deterministic sign convention: each
    component's largest-|entry| is made positive, ties to the lowest
    index) and appends ``output_col`` = the centered projection onto the
    top ``n_components`` eigenvectors, descending eigenvalue order.
    Rows with NULL embeddings are excluded from the moments and project
    to NULL.

    Scale design: ONE Arrow-batched ``mapInPandas`` pass scatter-adds
    each partition's Gram matrix locally (``X^T X`` in vectorized int64)
    and emits at most dim·(dim+3)/2 + 1 partial rows per partition; one
    map-side-combined sum keyed on (i, j) reduces them — shuffle volume
    is O(partitions · dim^2), independent of row count, and nothing
    corpus-sized ever reaches the driver (the collected moment table is
    dim^2 longs; eigh is O(dim^3) driver-side, bounded by ``max_dim``).
    The projection is a second stateless Arrow pass with the (k x dim)
    eigenvector matrix riding the closure. Overflow: |q| <= scale·|x|,
    so with unit-norm embeddings and scale 1024 the int64 Gram sums are
    safe past 2^40 rows; widen ``scale`` only with narrower corpora.

    Width contract: the embedding width is probed with one aggregate
    over non-null rows (min(size) must equal max(size) — mixed widths
    raise rather than silently truncating; the dp110 ADVICE class).

    ``whiten=True`` rescales each component by 1/sqrt(eigenvalue) so the
    projected components have unit sample variance (ZCA-less PCA
    whitening — what cosine-threshold dedup wants before comparing
    distances across anisotropic embedding spaces); directions with
    eigenvalue <= ``whiten_eps`` map to zero instead of exploding.
    """
    if mode not in ("project", "stats"):
        raise ValueError(f"embedding_pca: mode must be project|stats, got {mode!r}")
    if n_components < 1:
        raise ValueError("embedding_pca: n_components must be >= 1")
    if scale < 1:
        raise ValueError("embedding_pca: scale must be >= 1")

    def _moments(df: DataFrame, dim: int):
        def part(batches):
            import pyarrow as pa

            G = np.zeros((dim, dim), dtype=np.int64)
            S = np.zeros(dim, dtype=np.int64)
            n = 0
            for rb in batches:
                col = rb.column(0)
                if col.null_count:
                    col = col.drop_null()
                if len(col) == 0:
                    continue
                # zero-copy flatten of the Arrow list column — the
                # object-array np.stack this replaces measured ~60% of
                # the 1M x 256 probe's scan time
                flat = col.flatten().to_numpy(zero_copy_only=False)
                X = flat.reshape(len(col), dim).astype(np.float64)
                # rows with a NULL/NaN/Inf CELL are unusable for moments
                # and — worse — poison the whole batch: the non-finite
                # value defeats the 2^53 bound check below and
                # astype(int64) turns NaN into INT64_MIN, overflow-
                # wrapping the Gram sums for EVERY row (r14 review
                # finding, reproduced). Exclude them, the row-level
                # analogue of the isNotNull filter; embedding_sanitize
                # is the upfront screen that makes this boring.
                finite = np.isfinite(X).all(axis=1)
                if not finite.all():
                    X = X[finite]
                    if len(X) == 0:
                        continue
                # quantize in-kernel (identical IEEE ops to the SQL
                # replay: floor(x*scale + 0.5)); numpy has no BLAS
                # kernel for int64 GEMM (naive int64 matmul measured
                # 80s on the 1M x 256 probe), so the per-batch Gram
                # runs in float64 BLAS — EXACT while every partial sum
                # of q_i*q_j stays an integer < 2^53, which
                # rows*max|q|^2 bounds per batch; batches violating
                # the bound fall back to exact int64 matmul.
                Q = np.floor(X * scale + 0.5)
                m = float(np.abs(Q).max(initial=0.0))
                if len(X) * m * m < 2.0**53:
                    G += np.rint(Q.T @ Q).astype(np.int64)
                    S += np.rint(Q.sum(axis=0)).astype(np.int64)
                else:
                    Qi = Q.astype(np.int64)
                    G += Qi.T @ Qi
                    S += Qi.sum(axis=0)
                n += len(X)
            iu = np.triu_indices(dim)
            yield pa.RecordBatch.from_pydict(
                {
                    "i": pa.array(
                        np.concatenate([iu[0], np.arange(dim), [-1]]).astype(
                            "int32"
                        )
                    ),
                    "j": pa.array(
                        np.concatenate([iu[1], np.full(dim, -1), [-1]]).astype(
                            "int32"
                        )
                    ),
                    "sxy": pa.array(np.concatenate([G[iu], S, [n]])),
                }
            )

        q = df.where(F.col(input_col).isNotNull()).select(
            F.col(input_col).cast("array<double>").alias("__pca_x")
        )
        return (
            q.mapInArrow(part, "i int, j int, sxy long")
            .groupBy("i", "j")
            .agg(F.sum("sxy").alias("sxy"))
        )

    def _probe_dim(df: DataFrame) -> int:
        probe = df.where(F.col(input_col).isNotNull()).select(
            F.min(F.size(input_col)).alias("lo"),
            F.max(F.size(input_col)).alias("hi"),
        ).first()
        if probe is None or probe["hi"] is None:
            return 0
        if probe["lo"] != probe["hi"]:
            raise ValueError(
                f"embedding_pca: mixed embedding widths {probe['lo']} vs "
                f"{probe['hi']} — uniform width required"
            )
        dim = int(probe["hi"])
        if dim > max_dim:
            raise ValueError(
                f"embedding_pca: width {dim} exceeds max_dim={max_dim} "
                "(driver-side eigh is O(dim^3); raise max_dim deliberately)"
            )
        return dim

    def _pca(df: DataFrame) -> DataFrame:
        dim = _probe_dim(df)
        if mode == "stats":
            if dim == 0:
                return df.sparkSession.createDataFrame(
                    [], "i int, j int, sxy long"
                )
            return _moments(df, dim)
        if dim == 0:
            return df.withColumn(output_col, F.lit(None).cast("array<double>"))
        k = min(n_components, dim)
        rows = _moments(df, dim).collect()
        n = 0
        S = np.zeros(dim, dtype=np.int64)
        G = np.zeros((dim, dim), dtype=np.int64)
        for r in rows:
            if r["i"] == -1:
                n = int(r["sxy"])
            elif r["j"] == -1:
                S[r["i"]] = r["sxy"]
            else:
                G[r["i"], r["j"]] = r["sxy"]
                G[r["j"], r["i"]] = r["sxy"]
        if n < 2:
            # a 0/1-row corpus has no covariance; project to zeros by
            # convention (centered single point is the origin)
            mean = S.astype(np.float64) / max(n, 1) / scale
            V = np.zeros((k, dim))
        else:
            mean_q = S.astype(np.float64) / n
            cov = (G.astype(np.float64) - np.outer(mean_q, mean_q) * n) / (
                (n - 1) * scale * scale
            )
            evals, evecs = np.linalg.eigh(cov)
            order = np.argsort(-evals, kind="stable")[:k]
            V = evecs[:, order].T  # k x dim
            # deterministic sign: largest-|entry| positive, ties -> lowest i
            for c in range(k):
                amax = int(np.argmax(np.abs(V[c])))
                if V[c, amax] < 0:
                    V[c] = -V[c]
            if whiten:
                # unit-variance components: divide each eigenvector by
                # sqrt(eigenvalue); degenerate directions (eigenvalue
                # below whiten_eps) stay unscaled-to-zero rather than
                # exploding to inf — they carry no signal to whiten
                lam = evals[order]
                inv = np.where(lam > whiten_eps, 1.0 / np.sqrt(
                    np.maximum(lam, whiten_eps)
                ), 0.0)
                V = V * inv[:, None]
            mean = mean_q / scale
        cols = df.columns

        @F.pandas_udf("array<double>")
        def project(v: pd.Series) -> pd.Series:
            res = np.empty(len(v), dtype=object)
            mask = v.notna().to_numpy()
            if mask.any():
                X = np.stack(v[mask].to_numpy()).astype(np.float64)
                Xq = np.floor(X * scale + 0.5) / scale
                Y = (Xq - mean) @ V.T
                # row-wise object assignment (a 2D ndarray would be
                # rejected by the masked setitem); matmul dominates
                for t, row in zip(np.nonzero(mask)[0], Y):
                    res[t] = row
            return pd.Series(res)

        return df.select(*cols, project(F.col(input_col)).alias(output_col))

    return _pca


@register("embedding_random_projection")
def embedding_random_projection(
    out_dim: int,
    input_col: str = "embedding",
    output_col: str = "embedding_rp",
    seed: str = "rp",
) -> TransformerFn:
    """Johnson-Lindenstrauss random projection: map ``array<float>``
    vectors to ``out_dim`` dimensions with a seeded Rademacher (±1)
    matrix, scaled by 1/sqrt(out_dim) — pairwise distances are preserved
    within (1±ε) w.h.p., so ANN/LSH/dedup downstream run on vectors 4–8×
    smaller. The standard cheap pre-step before brute/LSH search when the
    raw embedding dimension is large.

    Determinism: the ±1 weights derive from md5 of ``seed:i:j`` on the
    DRIVER, and each output component is an index-order LEFT-ASSOCIATIVE
    sum of ±x[j] scaled by 1/sqrt(out_dim) — a single numeric spec every
    execution path reproduces BIT-FOR-BIT.

    Two physical paths select on ``out_dim * d_in`` against
    ``RANDOM_PROJECTION_MAX_TERMS``:

    * unroll (≤ 65,536 terms): the fold as one whole-stage-codegen
      SQL expression — no shuffle, no Python, and an external SQL engine
      replays it exactly (the dp110 oracle surface). Past the budget the
      generated expression would blow Janino's 64 KB method limit, hence:
    * kernel (beyond the budget): an Arrow-batched numpy pass (the
      ``embedding_pq_encode`` pattern); the ±1 matrix is built once on
      the driver (an int8 ``out_dim × d_in`` closure — ~100 KB for
      768→128) and each batch folds column-by-column in the SAME
      left-associative index order on IEEE doubles, so kernel output is
      bit-identical to the unrolled expression at any width — one op
      definition across regimes, independent of partitioning and Arrow
      batch boundaries (per-row arithmetic only).

    Poisoned-row contract, IDENTICAL on both physical paths so the
    choice does not change results at the 65,536-term boundary (r14
    review finding): a null embedding, a null ELEMENT, or
    a NaN value all project to ``out_dim`` NULL components. NULL is the
    only marker both paths can emit — the Arrow boundary erases NaN in
    BOTH directions (null elements arrive at the kernel as float64 NaN;
    kernel NaN outputs convert back to null — both verified), so the
    unroll nullifies its NaN folds via ``nanvl`` to match. The one
    remaining divergence: under ANSI mode the unrolled ``element_at``
    raises on wrong-width rows while the kernel nulls them out — at
    100 TB one malformed row should poison its own output, not kill the
    job.
    """
    if out_dim < 1:
        raise ValueError("embedding_random_projection: out_dim must be >= 1")

    def _sign(i: int, j: int) -> int:
        import hashlib

        h = hashlib.md5(f"{seed}:{i}:{j}".encode()).hexdigest()
        return 1 if int(h[0], 16) < 8 else -1

    def _project_unroll(df: DataFrame, d_in: int, scale: float) -> DataFrame:
        quoted = "`" + input_col.replace("`", "``") + "`"
        comps = []
        for i in range(out_dim):
            terms = " ".join(
                ("+" if _sign(i, j) > 0 else "-")
                + f" cast(element_at({quoted}, {j + 1}) as double)"
                for j in range(d_in)
            ).lstrip("+ ")
            # NaN inputs fold to a NaN component; nullify it so the
            # unroll and the kernel agree (the Arrow boundary converts
            # the kernel's NaN to null on the way out — verified — so
            # NULL is the one poisoned-row marker both paths can emit)
            comps.append(
                F.expr(f"nanvl(({terms}) * {scale!r}, NULL)")
            )
        return df.withColumn(output_col, F.array(*comps))

    def _project_kernel(df: DataFrame, d_in: int, scale: float) -> DataFrame:
        # one md5 per cell, driver-side: 768*128 ≈ 100k hashes ≈ 0.1 s;
        # int8 in the closure, widened to float64 once per executor call
        S = np.empty((d_in, out_dim), dtype=np.int8)
        for i in range(out_dim):
            for j in range(d_in):
                S[j, i] = _sign(i, j)

        @F.pandas_udf("array<double>")
        def project(v: pd.Series) -> pd.Series:
            Sd = S.astype(np.float64)
            res = np.empty(len(v), dtype=object)
            nulls = [None] * out_dim
            arrs = v.to_numpy()
            ok = []
            for t, a in enumerate(arrs):
                if a is None or len(a) != d_in:
                    res[t] = nulls
                else:
                    ok.append(t)
            if ok:
                X = np.stack([arrs[t] for t in ok])
                if X.dtype == object:  # defensive: stray Nones -> NaN
                    X = np.where(pd.isnull(X), np.nan, X).astype(np.float64)
                else:
                    X = X.astype(np.float64)
                # column-by-column left-associative fold: the exact
                # IEEE op sequence of the unrolled SQL expression —
                # acc_j = acc_{j-1} + (±1.0)*x_j, then * scale
                acc = X[:, 0:1] * Sd[0][None, :]
                for j in range(1, d_in):
                    acc += X[:, j : j + 1] * Sd[j][None, :]
                Y = acc * scale
                for r, t in enumerate(ok):
                    res[t] = Y[r]
            return pd.Series(res)

        return df.withColumn(output_col, project(F.col(input_col)))

    def _project(df: DataFrame) -> DataFrame:
        from pyspark.sql.types import ArrayType

        dt = df.schema[input_col].dataType
        if not isinstance(dt, ArrayType):
            raise ValueError(
                f"embedding_random_projection: {input_col} must be an array"
            )
        d_in = vector_width(df, input_col)
        if d_in < 1:
            return df.withColumn(
                output_col,
                F.lit(None).cast("array<double>"),
            )
        scale = 1.0 / (out_dim**0.5)
        if out_dim * d_in > RANDOM_PROJECTION_MAX_TERMS:
            return _project_kernel(df, d_in, scale)
        return _project_unroll(df, d_in, scale)

    return _project


@register("embedding_sanitize", streaming_ok=True)
def embedding_sanitize(
    dim: int,
    embedding_col: str = "embedding",
    mode: str = "annotate",
) -> Callable[[DataFrame], DataFrame]:
    """Embedding corpus SANITATION — the audit gate every ANN/dedup
    pipeline needs before its vectors meet a kernel: a model-serving
    bug or a truncated batch upstream shows up as NULLs, NaN/Inf cells,
    wrong widths, or zero vectors, and each corrupts a different stage
    (NaN poisons every distance it touches, zero-norm has no cosine
    direction, a wrong width hard-crashes a reshaping kernel). The
    family's ops each defend locally (``knn_pq`` masks NaN rows,
    ``dedup_embedding_*`` skips zero-norm); this op is the UPFRONT
    corpus-wide screen that makes those defenses boring and gives the
    pipeline one auditable drop count.

    Emits one boolean per failure class plus the conjunction:

    * ``emb_null``: the column is NULL;
    * ``emb_wrong_dim``: width differs from ``dim`` (the model's
      declared output width — an ARGUMENT, not inferred: inference
      would need a corpus pass and a majority vote that silently blesses
      a majority-corrupt delivery);
    * ``emb_has_nan``: any cell NaN or NULL (an unscorable cell either
      way); ``emb_has_inf``: any cell ±Inf;
    * ``emb_zero``: every cell exactly 0.0 (no direction);
    * ``embedding_ok``: none of the above.

    ``mode="filter"`` keeps only ``embedding_ok`` rows (flags dropped);
    ``mode="annotate"`` emits the flags. Pure JVM higher-order-function
    projections over the array — one shuffle-free map pass, no Python,
    exact boolean semantics (SQL-oracle-able bit-for-bit).
    """
    if dim < 1:
        raise ValueError(f"embedding_sanitize: dim must be >= 1, got {dim}")
    if mode not in ("annotate", "filter"):
        raise ValueError(f"embedding_sanitize: unknown mode {mode!r}")

    def _sanitize(df: DataFrame) -> DataFrame:
        v = F.col(embedding_col)
        d = v.cast("array<double>")
        is_null = v.isNull()
        wrong_dim = ~is_null & (F.size(v) != dim)
        # NULL CELLS are classed with NaN (an unscorable cell either
        # way), and every element predicate is kept two-valued: a bare
        # `x == inf` over a null cell yields NULL under three-valued
        # logic, which would leak NULL (not false) out of exists() and
        # break the one-auditable-drop-count contract
        has_nan = ~is_null & F.exists(
            d, lambda x: x.isNull() | F.isnan(x)
        )
        inf = F.lit(float("inf"))
        has_inf = ~is_null & F.exists(
            d, lambda x: x.isNotNull() & ((x == inf) | (x == -inf))
        )
        # size>0: an EMPTY array is vacuously all-zero but that's the
        # wrong_dim flag's finding, not a zero-direction one
        zero = (
            ~is_null
            & (F.size(v) > 0)
            & ~F.exists(d, lambda x: x.isNull() | F.isnan(x) | (x != 0.0))
        )
        flags = {
            "emb_null": is_null,
            "emb_wrong_dim": wrong_dim,
            "emb_has_nan": has_nan,
            "emb_has_inf": has_inf,
            "emb_zero": zero,
        }
        ok = None
        for expr in flags.values():
            ok = ~expr if ok is None else ok & ~expr
        out = df.withColumns({**flags, "embedding_ok": ok})
        if mode == "filter":
            return out.filter(F.col("embedding_ok")).drop(
                *flags.keys(), "embedding_ok"
            )
        return out

    return _sanitize
