"""Similarity search over embedding columns.

* ``knn_brute_force`` — exact top-k cosine neighbors: broadcast the query
  set, score corpus partitions in place (no corpus shuffle), per-query top-k
  via window. This is the correctness baseline and is already the right plan
  for "few queries × huge corpus" at 100 TB: the only shuffle is the final
  k-rows-per-query sort.
* ``hyperplane_signatures`` / ``knn_lsh`` — random-hyperplane (sign) LSH:
  seeded hyperplane literals ship in the plan (no fitted model/state, and an
  external oracle can re-derive them). Probing = bucket equi-join; the same
  signatures back ``dedup_embedding_cosine(method='lsh')``.
* ``knn_ivf`` — IVF-style: coarse centroids (deterministic sample), assign
  by best cosine, probe ``nprobe`` nearest centroid lists.
"""

from __future__ import annotations

from typing import Callable, List, Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lakehouse_engine_spark.datapipes.colbuild import (
    grid_sq_dist,
    md5_fold,
    vector_width,
)
from lakehouse_engine_spark.datapipes.materialize import probe_materialize
from lakehouse_engine_spark.datapipes.parallel import ensure_parallelism

from lakehouse_engine_spark.datapipes.dedup import cosine
from lakehouse_engine_spark.datapipes.registry import register

TransformerFn = Callable[[DataFrame], DataFrame]


@register("knn_brute_force")
def knn_brute_force(
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    query_filter: str = "vec_id < 10",
    metric: str = "cosine",
) -> TransformerFn:
    """Exact top-k neighbors for the rows matching ``query_filter``.

    Output: (query_id, neighbor_id, score, rank) — rank 1 = most similar;
    self-matches excluded.

    Contract: the QUERY side broadcasts (the corpus is scanned once,
    never shuffled) — ``query_filter`` must select an executor-memory-
    sized set (thousands of vectors, the ANN norm). For query sets that
    approach corpus scale, this is the wrong operator: that is an
    all-pairs similarity join — use the LSH machinery
    (``dedup_embedding_cosine``/``knn_lsh``) instead.
    """

    def _knn(df: DataFrame) -> DataFrame:
        corpus = ensure_parallelism(df).select(
            F.col(id_col).alias("neighbor_id"),
            F.col(embedding_col).cast("array<double>").alias("__cv"),
        )
        queries = df.filter(query_filter).select(
            F.col(id_col).alias("query_id"),
            F.col(embedding_col).cast("array<double>").alias("__qv"),
        )
        if metric == "cosine":
            score = cosine(F.col("__qv"), F.col("__cv"))
        elif metric == "dot":
            score = F.aggregate(
                F.zip_with("__qv", "__cv", lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v
            )
        else:
            raise ValueError(f"knn_brute_force: unknown metric {metric}")
        scored = (
            F.broadcast(queries)
            .join(corpus, F.col("query_id") != F.col("neighbor_id"))
            .withColumn("score", F.round(score, 6))
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "score", "rank")
        )

    return _knn


def hyperplane_signatures(
    df: DataFrame,
    embedding_col: str,
    id_col: str,
    num_planes: int,
    num_tables: int,
    seed: int = 20240613,
    dim: Optional[int] = None,
) -> DataFrame:
    """``(__bid, __bv, __t, __sig)`` sign signatures against seeded
    hyperplanes, one row per (vector, table).

    All ``num_tables * num_planes`` dot products are computed in ONE
    Arrow-batched ``mapInArrow`` pass: per batch, a vectorized
    accumulate over components (numpy). This replaced a
    posexplode + 48-sum hash aggregate whose cost was dominated by plan
    build / codegen compile and a dim× row-amplification shuffle — the
    map pass has NO shuffle, no join-back, and its per-row cost is a
    C-loop FMA. Shared by knn_lsh and the LSH paths of
    dedup_embedding_cosine; the seeded RNG makes the signatures
    re-derivable by an external oracle.

    Bit-exactness contract (what the SQL oracles replay): each dot is the
    strict in-index-order left fold ``acc = acc + v[p] * w[p]`` in
    float64 — the accumulate loop below applies exactly those IEEE ops in
    exactly that order (one fused row-vectorized step per component), so
    values are bit-identical to the previous Spark fold and to the
    oracle's ordered list fold. NULL/short components simply don't
    contribute (SUM-skip semantics); a vector whose components are ALL
    null keeps the all-zero signature the old NULL-dot path produced.
    NULL/empty embeddings produce no signature rows (posexplode-drop
    semantics preserved).
    """
    import random

    vec = F.col(embedding_col).cast("array<double>")
    # dim avoids a probe job when the caller knows the embedding width;
    # an EMPTY corpus (or all-null embeddings) probes nothing — any dim
    # yields the correct empty signature frame, so use 1 instead of
    # crashing
    if dim is not None:
        real_dim = dim
    else:
        probe = (
            df.select(F.size(vec).alias("d")).filter(F.col("d") > 0).first()
        )
        real_dim = probe["d"] if probe is not None else 1
    rng = random.Random(seed)
    n_sigs = num_tables * num_planes
    # same draw order as the previous literal-array build: plane-major,
    # component-minor — existing oracles re-derive these exact floats
    import numpy as np

    weights = np.array(
        [[rng.gauss(0.0, 1.0) for _ in range(real_dim)] for _ in range(n_sigs)],
        dtype=np.float64,
    ).T  # (real_dim, n_sigs)

    base = (
        ensure_parallelism(df)
        .select(F.col(id_col).alias("__bid"), vec.alias("__bv"))
        .filter(F.col("__bv").isNotNull() & (F.size("__bv") > 0))
    )
    id_sql_type = base.schema["__bid"].dataType.simpleString()
    out_schema = f"`__bid` {id_sql_type}, `__bv` array<double>, `__sigs` array<bigint>"
    planes_per_table, n_tables, rdim = num_planes, num_tables, real_dim

    def _sign_sigs(batches):
        import numpy as _np
        import pyarrow as pa

        pow2 = (2 ** _np.arange(planes_per_table, dtype=_np.int64)).astype(
            _np.int64
        )
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            bv = batch.column(1)
            offs = bv.offsets.to_numpy(zero_copy_only=False).astype(_np.int64)
            lens = _np.diff(offs)
            flat = bv.values
            vals = flat.to_numpy(zero_copy_only=False).astype(
                _np.float64, copy=False
            )
            valid = (
                _np.ones(len(vals), dtype=bool)
                if flat.null_count == 0
                else _np.asarray(flat.is_valid())
            )
            # dense (n, rdim) component matrix + validity mask; rows
            # shorter than rdim (or with null components) contribute
            # nothing for those slots — SUM-skip semantics
            mat = _np.zeros((n, rdim), dtype=_np.float64)
            mask = _np.zeros((n, rdim), dtype=bool)
            widths = _np.minimum(lens, rdim)
            if (
                flat.null_count == 0
                and len(_np.unique(lens)) == 1
                and lens[0] == rdim
            ):
                mat = vals[offs[0] : offs[0] + n * rdim].reshape(n, rdim)
                mask[:] = True
            else:
                for i in range(n):
                    w_i = widths[i]
                    s = offs[i]
                    mat[i, :w_i] = _np.where(
                        valid[s : s + w_i], vals[s : s + w_i], 0.0
                    )
                    mask[i, :w_i] = valid[s : s + w_i]
            acc = _np.zeros((n, n_sigs), dtype=_np.float64)
            for p_i in range(rdim):
                # strict in-order fold: one IEEE mul + add per (row, sig)
                # per component — bit-identical to the SQL oracle's fold.
                # Invalid slots add exactly 0.0 (same bit pattern as the
                # oracle's skip for every non-NaN accumulator).
                contrib = mat[:, p_i : p_i + 1] * weights[p_i]
                _np.add(acc, contrib, out=acc, where=mask[:, p_i : p_i + 1])
            bits = acc >= 0.0
            any_valid = mask.any(axis=1)
            sigs = _np.empty((n, n_tables), dtype=_np.int64)
            for t in range(n_tables):
                sigs[:, t] = (
                    bits[:, t * planes_per_table : (t + 1) * planes_per_table]
                    * pow2
                ).sum(axis=1)
            # all components null -> every dot was NULL -> all bits 0
            sigs[~any_valid] = 0
            sig_list = pa.ListArray.from_arrays(
                _np.arange(0, (n + 1) * n_tables, n_tables, dtype=_np.int32),
                pa.array(sigs.ravel(), type=pa.int64()),
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), bv, sig_list],
                names=["__bid", "__bv", "__sigs"],
            )

    return base.mapInArrow(_sign_sigs, out_schema).select(
        "__bid", "__bv", F.posexplode("__sigs").alias("__t", "__sig")
    )


@register("knn_lsh")
def knn_lsh(
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    query_filter: str = "vec_id < 10",
    num_planes: int = 12,
    num_tables: int = 4,
    dim: Optional[int] = None,
) -> TransformerFn:
    """Approximate top-k: candidates share a hyperplane-LSH bucket in at
    least one of ``num_tables`` tables; exact cosine re-rank on candidates.

    The scale path: corpus signatures are a projection, candidate generation
    a bucket equi-join — no all-pairs scoring. ``dim`` (optional) skips the
    embedding-width probe job when known.
    """

    def _knn(df: DataFrame) -> DataFrame:
        sigs = hyperplane_signatures(
            df, embedding_col, id_col, num_planes, num_tables, dim=dim
        )
        corpus = sigs.select(
            F.col("__bid").alias("neighbor_id"), F.col("__bv").alias("__cv"), "__t", "__sig"
        )
        queries = sigs.join(
            F.broadcast(df.filter(query_filter).select(F.col(id_col).alias("__bid"))),
            "__bid",
        ).select(
            F.col("__bid").alias("query_id"), F.col("__bv").alias("__qv"), "__t", "__sig"
        )
        cands = (
            F.broadcast(queries)
            .join(corpus, ["__t", "__sig"])
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .dropDuplicates(["query_id", "neighbor_id"])
        )
        scored = cands.withColumn("score", F.round(cosine(F.col("__qv"), F.col("__cv")), 6))
        w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "score", "rank")
        )

    return _knn


@register("knn_ivf")
def knn_ivf(
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    query_filter: str = "vec_id < 10",
    num_centroids: int = 16,
    nprobe: int = 4,
    iters: int = 0,
) -> TransformerFn:
    """IVF-flat ANN: deterministic coarse centroids (smallest content-hash
    sample), inverted-list assignment by best cosine, queries probe
    ``nprobe`` lists.

    ``iters`` runs that many Lloyd (k-means) refinement rounds before the
    final assignment: broadcast-assign, per-cluster element-wise mean, ONE
    shuffle per round carrying (centroid_id, dim doubles) per vector —
    tighter clusters raise recall at the same ``nprobe``. ``iters=0`` (the
    default) keeps the sample centroids, which is fully replayable by the
    SQL oracle (the iterative refinement is not SQL-expressible).

    At scale the assignment is one broadcast-join pass over the corpus and
    search touches only ``nprobe/num_centroids`` of the data.
    """

    def _knn(df: DataFrame) -> DataFrame:
        vec = F.col(embedding_col).cast("array<double>")
        base = ensure_parallelism(df).select(F.col(id_col).alias("__vid"), vec.alias("__v"))
        # deterministic coarse centroids: the num_centroids rows with the
        # SMALLEST content-hash values — a pseudorandom sample that works
        # for ANY id distribution (id-residue filters miss arithmetic-
        # progression ids entirely; a bare .limit() depends on partition
        # order). orderBy+limit compiles to TakeOrderedAndProject:
        # per-partition partial top-k + driver merge of k rows, NOT a
        # global sort funnel. The md5-fold hash is the datapipes
        # convention, so the oracle replays the choice exactly.
        chash = md5_fold(F.col("__vid").cast("string"))
        centroids = (
            # null/empty embeddings can win the md5 order but are no
            # usable centroid (cosine(x, null)=0 makes a dead list that
            # negative-similarity vectors still assign to) — the
            # embedding_kmeans init rule (r14 review finding)
            base.filter(F.col("__v").isNotNull() & (F.size("__v") > 0))
            .orderBy(chash.asc(), F.col("__vid").asc())
            .limit(num_centroids)
            .select(F.col("__vid").alias("centroid_id"), F.col("__v").alias("__cv"))
        )
        if iters > 0:
            dim = vector_width(df, vec) or 1  # 1: empty corpus
            for _ in range(iters):
                # Lloyd round: broadcast-assign, then per-cluster mean. The
                # element-wise mean is dim scalar AVG aggregates (codegen,
                # map-side combined); the tiny result goes through
                # probe_materialize so lineage stays flat across rounds.
                assign_it = (
                    base.join(F.broadcast(centroids))
                    .withColumn("__sim", cosine(F.col("__v"), F.col("__cv")))
                    .groupBy("__vid")
                    .agg(F.max(F.struct("__sim", "centroid_id", "__v")).alias("__b"))
                    .select(F.col("__b.centroid_id").alias("centroid_id"),
                            F.col("__b.__v").alias("__v"))
                )
                centroids = probe_materialize(
                    assign_it.groupBy("centroid_id")
                    .agg(
                        F.expr(
                            "array({}) as __cv".format(
                                ", ".join(
                                    f"avg(element_at(__v, {i + 1}))"
                                    for i in range(dim)
                                )
                            )
                        )
                    )
                )
        # assign corpus vectors to their best centroid (broadcast centroids);
        # argmax via max(struct) — partial-aggregates map-side, so the shuffle
        # carries one row per vector, not one per (vector × centroid)
        assigned = (
            base.join(F.broadcast(centroids))
            .withColumn("__sim", cosine(F.col("__v"), F.col("__cv")))
            .groupBy("__vid")
            .agg(F.max(F.struct("__sim", "centroid_id", "__v")).alias("__best"))
            .select(
                "__vid",
                F.col("__best.__v").alias("__v"),
                F.col("__best.centroid_id").alias("centroid_id"),
            )
        )
        # queries probe nprobe nearest centroids
        q = df.filter(query_filter).select(F.col(id_col).alias("query_id"), vec.alias("__qv"))
        # centroid_id tie-break keeps probe choice deterministic (and
        # oracle-reproducible) when two centroids score identically
        probe_w = Window.partitionBy("query_id").orderBy(
            F.desc("__sim"), F.asc("centroid_id")
        )
        probes = (
            q.join(F.broadcast(centroids))
            .withColumn("__sim", cosine(F.col("__qv"), F.col("__cv")))
            .withColumn("__r", F.row_number().over(probe_w))
            .filter(F.col("__r") <= nprobe)
            .select("query_id", "__qv", "centroid_id")
        )
        scored = (
            F.broadcast(probes)
            .join(assigned, "centroid_id")
            .filter(F.col("query_id") != F.col("__vid"))
            .withColumn("score", F.round(cosine(F.col("__qv"), F.col("__v")), 6))
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("__vid"))
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", F.col("__vid").alias("neighbor_id"), "score", "rank")
        )

    return _knn


@register("knn_ivf_hier")
def knn_ivf_hier(
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    query_filter: str = "vec_id < 10",
    k_coarse: int = 4,
    k_fine: int = 4,
    coarse_iterations: int = 1,
    fine_iterations: int = 1,
    nprobe: int = 3,
    quant_scale: int = 1024,
) -> TransformerFn:
    """Two-level IVF ANN: the inverted lists are the HIERARCHICAL
    quantizer's cells (k_coarse x k_fine — the FAISS coarse-quantizer
    pattern for list counts past the flat trainer's per-batch cap).

    Deterministic, oracle-replayable semantics: cells come from
    ``embedding_kmeans_hier``; each cell's probing centroid is the
    floor-div mean of its members' quantized vectors, and queries rank
    cells by exact squared grid distance (ties -> smaller global cell
    id) — the exact contract of the ``datapipes/clustering.py`` module
    docstring. Queries probe ``nprobe`` cells and re-rank in-list by
    exact cosine on the RAW embeddings (ties -> smaller neighbor id).

    Scale: the cell table is k_eff rows (broadcast); assignment work per
    Arrow batch is rows x k_fine; search touches ~nprobe/k_eff of the
    corpus, and nothing corpus-sized converges on one node.
    """

    def _knn(df: DataFrame) -> DataFrame:
        from lakehouse_engine_spark.datapipes.clustering import (
            _quantize_expr,
            embedding_kmeans_hier,
        )

        assigned = df.transform(
            embedding_kmeans_hier(
                id_col=id_col,
                input_col=embedding_col,
                k_coarse=k_coarse,
                k_fine=k_fine,
                coarse_iterations=coarse_iterations,
                fine_iterations=fine_iterations,
                quant_scale=quant_scale,
                output_col="__cell",
            )
        )
        # probed: the width probe and the returned plan's three reads, which
        # prune different columns, would each re-run the cell assignment
        base = probe_materialize(
            ensure_parallelism(assigned)
            .filter(F.col(embedding_col).isNotNull())
            .select(
                F.col(id_col).alias("__vid"),
                F.col(embedding_col).cast("array<double>").alias("__v"),
                _quantize_expr(embedding_col, quant_scale).alias("__qv"),
                F.col("__cell"),
            )
        )
        dim = vector_width(base, "__qv")
        if dim == 0:
            # degenerate-corpus schema must MATCH the populated
            # path's (ids keep the caller's id_col type — the
            # knn_pq schema-flip lesson, r14 review finding)
            idt = df.schema[id_col].dataType
            return base.sparkSession.createDataFrame(
                [],
                T.StructType(
                    [
                        T.StructField("query_id", idt),
                        T.StructField("neighbor_id", idt),
                        T.StructField("score", T.DoubleType()),
                        T.StructField("rank", T.IntegerType()),
                    ]
                ),
            )
        sums = [
            F.expr(f"sum(element_at(__qv, {i + 1})) as __s{i}")
            for i in range(dim)
        ]
        cents_raw = base.groupBy("__cell").agg(
            F.count(F.lit(1)).alias("__n"), *sums
        )
        # exact floor-div mean per dimension (the trainer's update rule)
        mean_exprs = [
            F.expr(
                f"CASE WHEN __s{i} >= 0 THEN __s{i} DIV __n "
                f"ELSE -((-__s{i} + __n - 1) DIV __n) END"
            )
            for i in range(dim)
        ]
        cents = cents_raw.select(
            "__cell", F.array(*mean_exprs).alias("__cv")
        )
        # filter the CALLER's frame and semi-join (the knn_pq/knn_lsh
        # pattern): a naive rename-rewrite of the predicate corrupts
        # filters where id_col appears as a substring of another name
        # or that reference non-id columns (r14 review finding)
        qsrc = df.filter(query_filter) if query_filter else df
        q = base.join(
            F.broadcast(qsrc.select(F.col(id_col).alias("__vid"))),
            "__vid",
        ).select(
            F.col("__vid").alias("query_id"),
            F.col("__v").alias("__queryv"),
            F.col("__qv").alias("__queryq"),
        )
        probe_w = Window.partitionBy("query_id").orderBy(
            F.asc("__d"), F.asc("__cell")
        )
        probes = (
            q.join(F.broadcast(cents))
            .withColumn("__d", grid_sq_dist("__queryq", "__cv"))
            .withColumn("__r", F.row_number().over(probe_w))
            .filter(F.col("__r") <= nprobe)
            .select("query_id", "__queryv", "__cell")
        )
        scored = (
            F.broadcast(probes)
            .join(base, "__cell")
            .filter(F.col("query_id") != F.col("__vid"))
            .withColumn(
                "score", F.round(cosine(F.col("__queryv"), F.col("__v")), 6)
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("__vid")
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(
                "query_id", F.col("__vid").alias("neighbor_id"),
                "score", "rank",
            )
        )

    return _knn


@register("cluster_sample")
def cluster_sample(
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 8,
    n_per_bucket: Optional[int] = None,
    seed: int = 20240613,
    dim: Optional[int] = None,
    output_col: str = "cluster_bucket",
) -> TransformerFn:
    """Diversity-balanced corpus sampling: partition the embedding space
    into ``2^num_planes`` semantic buckets with ONE seeded-hyperplane LSH
    table, then keep ``ceil(sqrt(bucket_size))`` rows per bucket (or a
    flat ``n_per_bucket``) — the sublinear cap downweights big dense
    clusters (boilerplate, templated pages) and preserves the long tail,
    which is what training-data mixing wants from "diverse" sampling.
    Selection within a bucket is by ``md5(id)`` order: deterministic,
    re-derivable, no RNG state. Survivors carry their bucket id in
    ``output_col``.

    Scale design: the signature projection (shared
    ``hyperplane_signatures``, one Arrow-batched mapInArrow pass) is the
    linear-cost pass; sampling is one window over the bucket key — same
    cost class as any per-group top-k, and the sqrt cap bounds output
    skew: a bucket with 10^8 members emits 10^4 rows. The final attach is
    an ids-only semi-join shaped join back to the full rows, so wide
    payload columns never travel through the window sort.
    """
    if n_per_bucket is not None and n_per_bucket < 1:
        raise ValueError(f"n_per_bucket must be >= 1, got {n_per_bucket}")

    def _sample(df: DataFrame) -> DataFrame:
        sigs = hyperplane_signatures(
            df, embedding_col, id_col, num_planes, 1, seed, dim
        ).select(F.col("__bid"), F.col("__sig").alias(output_col))
        w = Window.partitionBy(output_col)
        wo = w.orderBy(
            F.md5(F.col("__bid").cast("string")).asc(), F.col("__bid").asc()
        )
        cap = (
            F.lit(n_per_bucket)
            if n_per_bucket is not None
            else F.ceil(F.sqrt(F.col("__cnt")))
        )
        kept = (
            sigs.withColumn("__rn", F.row_number().over(wo))
            .withColumn("__cnt", F.count(F.lit(1)).over(w))
            .filter(F.col("__rn") <= cap)
            .select("__bid", output_col)
        )
        return df.join(kept, df[id_col] == kept["__bid"]).drop("__bid")

    return _sample


@register("knn_mmr_rerank")
def knn_mmr_rerank(
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    shortlist: int = 20,
    lam_permille: int = 300,
    quant_scale: int = 1024,
    query_filter: str = "vec_id < 10",
) -> TransformerFn:
    """Diversity-aware top-k: Maximal Marginal Relevance re-rank
    (Carbonell & Goldstein 1998) — the retrieval-side answer to "my
    top-k are five near-copies of the same document": take each query's
    ``shortlist`` most RELEVANT candidates, then greedily pick k, each
    round choosing the candidate with the best trade-off of relevance
    against similarity to what is ALREADY picked::

        score = (1000 - λ) · rel − λ · max_{s ∈ selected} sim(c, s)

    with ``λ = lam_permille`` (0 = pure relevance, 1000 = pure
    diversity), ties → smaller id, round 1 scored with an empty
    selected set (max-sim = 0, i.e. pure relevance). Both ``rel`` (to
    the query) and ``sim`` (candidate-candidate) are EXACT int64 dot
    products of the family's quantized grid vectors (pre-normalize with
    ``embedding_normalize`` for cosine semantics), so the whole greedy
    trajectory is integer-deterministic and SQL-replayable round by
    round.

    Output: ``(query_id, neighbor_id, relevance, mmr_rank)`` —
    ``mmr_rank`` 1..k is the SELECTION order (rank 1 = most relevant by
    construction).

    Scale shape: relevance stage = the ``knn_brute_force`` posture (one
    corpus scan, broadcast queries, per-query top-``shortlist`` window —
    never an all-pairs join); the greedy stage runs per query over a
    shortlist-sized pandas group (``applyInPandas``), whose O(k·R·d)
    integer kernel is microscopic next to the scan. Shuffle volume is
    nq × shortlist skinny rows.
    """
    if k < 1:
        raise ValueError(f"knn_mmr_rerank: k must be >= 1, got {k}")
    if shortlist < k:
        raise ValueError(
            f"knn_mmr_rerank: shortlist ({shortlist}) must be >= k ({k})"
        )
    if not 0 <= lam_permille <= 1000:
        raise ValueError(
            f"knn_mmr_rerank: lam_permille must be in [0, 1000], "
            f"got {lam_permille}"
        )

    def _mmr(df: DataFrame) -> DataFrame:
        import numpy as np
        import pandas as pd

        # the family's ONE integer grid — shared with knn_pq/knn_ivf so
        # a future rounding fix cannot drift between the ANN operators
        from lakehouse_engine_spark.datapipes.clustering import _quantize_expr

        quant = _quantize_expr(embedding_col, quant_scale)
        corpus = ensure_parallelism(df).select(
            F.col(id_col).alias("neighbor_id"), quant.alias("__nv")
        ).filter(F.col("__nv").isNotNull())
        queries = (df.filter(query_filter) if query_filter else df).select(
            F.col(id_col).alias("query_id"), quant.alias("__qv")
        ).filter(F.col("__qv").isNotNull())
        rel = F.aggregate(
            F.zip_with("__qv", "__nv", lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("__rel"), F.asc("neighbor_id")
        )
        cand = (
            F.broadcast(queries)
            .join(corpus, F.col("query_id") != F.col("neighbor_id"))
            .withColumn("__rel", rel)
            # a null ELEMENT inside either quantized vector nulls the
            # relevance fold — such pairs are unrankable and would crash
            # (or INT64_MIN-poison) the greedy kernel's astype(int64)
            # (r14 review finding); a poisoned QUERY thereby yields no
            # output rows, a poisoned candidate just drops out
            .filter(F.col("__rel").isNotNull())
            .withColumn("__rr", F.row_number().over(w))
            .filter(F.col("__rr") <= shortlist)
            .select("query_id", "neighbor_id", "__rel", "__nv")
        )
        id_type = df.schema[id_col].dataType.simpleString()
        out_schema = (
            f"query_id {id_type}, neighbor_id {id_type}, "
            "relevance BIGINT, mmr_rank INT"
        )
        keep = 1000 - lam_permille

        def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
            V = np.stack(pdf["__nv"].to_numpy()).astype(np.int64)
            rels = pdf["__rel"].to_numpy().astype(np.int64)
            ids = pdf["neighbor_id"].to_numpy()
            # deterministic candidate order for tie resolution
            order = np.lexsort((ids,))
            # None until the first pick: a NEGATIVE sim to the selected
            # set must flow through the formula (zero-initialized max
            # would silently clamp it and mis-rank anti-correlated
            # candidates — caught by the oracle on real data)
            simmax = None
            chosen: list = []
            taken = np.zeros(len(ids), dtype=bool)
            for r in range(min(k, len(ids))):
                score = keep * rels - lam_permille * (
                    simmax if simmax is not None else 0
                )
                best, best_key = None, None
                for i in order:
                    if taken[i]:
                        continue
                    key = (-score[i], ids[i])
                    if best_key is None or key < best_key:
                        best, best_key = i, key
                taken[best] = True
                chosen.append((ids[best], int(rels[best]), r + 1))
                sims = V @ V[best]
                simmax = sims if simmax is None else np.maximum(simmax, sims)
            out = pd.DataFrame(
                chosen, columns=["neighbor_id", "relevance", "mmr_rank"]
            )
            out.insert(0, "query_id", pdf["query_id"].iloc[0])
            return out

        return cand.groupBy("query_id").applyInPandas(greedy, out_schema)

    return _mmr
