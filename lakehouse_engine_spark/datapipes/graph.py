"""Graph operators for corpus-quality pipelines.

Link-graph signals are a standard web-corpus curation input (PageRank /
centrality feeds quality filtering, crawl prioritization, and dedup
survivor choice). The operators here run the classic iterative
message-passing shape Spark-first: edges stay partitioned by source,
each iteration is one co-partitioned join + one map-side-combined
aggregation, and lineage is truncated per round with ``iter_materialize``
(localCheckpoint on static clusters; recomputable persist or reliable
checkpoint under dynamic allocation — see datapipes/materialize.py) so
iteration K's plan never replays rounds 1..K-1 (the same discipline as
``dedup_connected_components``).

Numeric design: ranks are SCALED BIGINTS (1e12 grid) and every
per-edge contribution is ``(rank * 17) div (20 * outdeg)`` — damping
0.85 as the exact rational 17/20 with integer floor division — so sums
are order-independent and an external SQL engine replays every
iteration bit-for-bit (no floating-point accumulation anywhere).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakehouse_engine_spark.datapipes.driver_tier import (
    bounded_collect,
    driver_safe_ids,
    labels_frame,
    min_labels,
)
from lakehouse_engine_spark.datapipes.materialize import (
    iter_materialize,
    release,
)
from lakehouse_engine_spark.datapipes.registry import register

TransformerFn = Callable[[DataFrame], DataFrame]

SCALE = 10**12

# Driver tier budget (see driver_tier.py): distinct undirected edges for
# connected components, edge rows for PageRank.
GRAPH_DRIVER_MAX_EDGES = 200_000


@register("graph_connected_components")
def connected_components(
    src_col: str = "src",
    dst_col: str = "dst",
    output_col: str = "component",
    max_iterations: int = 50,
) -> TransformerFn:
    """Connected components over an edge list via the alternating
    large-star / small-star algorithm (Kiveris et al., *Connected
    Components in MapReduce and Beyond*, SoCC'14 — a public paper).
    Returns one row per node: ``node``, ``<output_col>`` (the smallest
    node id in its component — deterministic, engine-independent).

    Input rows are undirected edges; direction is ignored, duplicates
    and self-loops are tolerated (a self-loop registers the node in the
    output universe without connecting it to anything — callers can
    union ``(n, n)`` rows to label isolated nodes). Ids may be any
    orderable type (numeric or string); "smallest" is Spark's ordering
    for that type.

    Scale design — this exists because the min-label-propagation loop in
    ``dedup_connected_components`` converges in O(graph diameter) rounds,
    which is the right shape for near-dup bucket cliques (diameter 1-3)
    but DIES on high-diameter graphs: a 1M-node path graph would need 1M
    rounds. The star transforms contract paths exponentially —
    O(log^2 n) rounds worst-case, 2-8 rounds in practice — so the same
    1M-node path converges in a handful of passes (see
    tools/scale_probes.py cc_path_1m). Each half-round is ONE node-keyed
    exchange feeding a window-min (r14: the earlier groupBy-min +
    join-back pair cost two exchanges plus a join per half-round for
    the identical per-row min — at scale the join was a sort-merge
    whose sort the window pays anyway, minus the second sorted side),
    shuffling only (node, node) pairs — never neighbor lists, never
    anything super-linear in the edge count. Skew safety: a hub of
    degree d lands its d rows in one sorted window partition
    (spillable), exactly the profile of the sort-merge join it
    replaces. ``localCheckpoint`` per round keeps plan depth constant;
    convergence is an exact changed-edge count (distinct sets:
    equal cardinality + empty one-sided ``exceptAll``).
    """
    if max_iterations < 1:
        raise ValueError(
            f"graph_connected_components: max_iterations must be >= 1, "
            f"got {max_iterations}"
        )

    def _cc(df: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        raw = df.select(
            F.col(src_col).alias("__a"), F.col(dst_col).alias("__b")
        )
        # lazy: only the final output join reads it (the old persist +
        # count was unpersisted before the output action ever ran, so it
        # cost a job and cached nothing the final plan used — r14)
        nodes = (
            raw.select(F.col("__a").alias("__node"))
            .union(raw.select(F.col("__b").alias("__node")))
            .distinct()
        )

        def _emit(labels: DataFrame) -> DataFrame:
            # roots and isolated nodes carry no label row: they label
            # themselves
            return nodes.join(labels, "__node", "left").select(
                F.col("__node").alias("node"),
                F.coalesce("__label", "__node").alias(output_col),
            )

        def _stats(e: DataFrame):
            row = e.agg(
                F.count(F.lit(1)).alias("n"),
                # decimal sum: an int64 hash sum overflows under ANSI
                F.sum(F.xxhash64("__u", "__v").cast("decimal(20,0)")).alias(
                    "h"
                ),
            ).first()
            return int(row["n"]), row["h"]

        canonical = (
            raw.where(F.col("__a") != F.col("__b"))
            .select(
                F.greatest("__a", "__b").alias("__u"),
                F.least("__a", "__b").alias("__v"),
            )
            .distinct()
        )
        # materialize once: the driver-tier probe and, above the gate,
        # the _stats probe both read these blocks
        edges = iter_materialize(canonical, eager=False, corpus_sized=True)
        rows = bounded_collect(edges, GRAPH_DRIVER_MAX_EDGES)
        if rows is not None and driver_safe_ids(rows, "__u", "__v"):
            labels = labels_frame(
                df.sparkSession,
                min_labels((r["__u"], r["__v"]) for r in rows),
                canonical.schema["__u"].dataType,
            )
            return _emit(F.broadcast(labels))
        prev_n, prev_h = _stats(edges)
        converged = prev_n == 0
        node_w = Window.partitionBy("__u")
        for _ in range(max_iterations):
            if converged:
                break
            # large-star: every node u sends its strictly-LARGER
            # neighbors to m = min(u, neighbors) — contracts tall
            # trees toward the minimum without growing edge count.
            # Window-min instead of groupBy-min + join-back: one
            # exchange per half-round instead of two, no join, and the
            # per-row __mv is the identical value. The half-round
            # outputs are multisets (the old intra-round distinct is
            # gone): every consumer is duplicate-insensitive — window
            # MIN, the filters, and the round-final distinct — so the
            # per-round edge SET is unchanged, round for round (pinned
            # by test_connected_components_round_set_identity).
            sym = edges.union(
                edges.select(F.col("__v").alias("__u"), F.col("__u").alias("__v"))
            )
            large = (
                sym.withColumn("__mv", F.min("__v").over(node_w))
                .where(F.col("__v") > F.col("__u"))
                .select(
                    F.col("__v").alias("__u"),
                    F.least("__u", "__mv").alias("__v"),
                )
            )
            # small-star: every node u re-points its smaller-or-equal
            # neighbors (and itself) at their collective minimum
            sm = large.withColumn("__m", F.min("__v").over(node_w))
            new_edges = (
                sm.where(F.col("__v") != F.col("__m"))
                .select(F.col("__v").alias("__u"), F.col("__m").alias("__v"))
                .union(sm.select(F.col("__u"), F.col("__m").alias("__v")))
                .distinct()
            )
            # lazy materialization: the stats aggregate right below is
            # the materializing action — one job per round, not two
            new_edges = iter_materialize(new_edges, eager=False, corpus_sized=True)
            # cheap necessary condition first (count + order-free hash
            # sum, ONE aggregate job); the exact exceptAll confirmation
            # runs only when it signals a fixpoint — distinct sets of
            # equal size with an empty one-sided difference are equal
            new_n, new_h = _stats(new_edges)
            if (
                new_n == prev_n
                and new_h == prev_h
                and new_edges.exceptAll(edges).count() == 0
            ):
                converged = True
            release(edges)  # previous round, now superseded
            edges, prev_n, prev_h = new_edges, new_n, new_h
        if not converged:
            raise RuntimeError(
                f"graph_connected_components: no convergence after "
                f"{max_iterations} alternating star rounds — the bound is "
                f"O(log^2 n); raise max_iterations only for graphs beyond "
                f"~2^{max_iterations // 2} nodes or report a bug"
            )
        # converged edge set is (child, root) stars rooted at each
        # component's minimum; roots + isolated nodes label themselves
        return _emit(
            edges.select(
                F.col("__u").alias("__node"), F.col("__v").alias("__label")
            )
        )

    return _cc


def _driver_pagerank(rows, iterations: int) -> dict:
    """The distributed loop's int64 recurrence over collected
    ``(__src, __dst)`` rows: node -> scaled rank. SQL equi-join semantics
    carry over: a NULL-src edge never matches the rank table, while a
    NULL destination aggregates as a regular group."""
    nodes = {r["__src"] for r in rows} | {r["__dst"] for r in rows}
    if not nodes:
        return {}
    outdeg: dict = {}
    for r in rows:
        outdeg[r["__src"]] = outdeg.get(r["__src"], 0) + 1
    base_s = (3 * SCALE) // (20 * len(nodes))
    ranks = dict.fromkeys(nodes, SCALE // len(nodes))
    for _ in range(iterations):
        contrib: dict = {}
        for r in rows:
            s = r["__src"]
            if s is not None:
                d = r["__dst"]
                c = (ranks[s] * 17) // (20 * outdeg[s])
                contrib[d] = contrib.get(d, 0) + c
        ranks = {m: base_s + contrib.get(m, 0) for m in nodes}
    return ranks


@register("graph_pagerank")
def pagerank(
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 5,
    output_col: str = "rank",
) -> TransformerFn:
    """Fixed-iteration PageRank over an edge list (one row per directed
    edge). Returns one row per node: ``node``, ``<output_col>_s`` (the
    exact scaled-bigint rank) and ``<output_col>`` (double, /1e12).

    Semantics: damping 0.85 (exactly 17/20), uniform init ``SCALE div
    N``, teleport term ``(3*SCALE) div (20*N)``; per-edge contribution
    ``(rank*17) div (20*outdeg)`` in integer floor division. Dangling
    nodes (no out-edges) leak their mass rather than redistributing it —
    the simple variant, stated here so the oracle can replay it; ranks
    therefore sum to slightly less than SCALE in graphs with dangling
    nodes. All arithmetic stays below 2^63 for any graph (rank ≤ SCALE,
    rank*17 ≤ 1.7e13).

    Scale design: each iteration is ONE join of the rank table against
    the (outdeg-annotated, persisted) edge list on the source key and one
    map-side-combined sum keyed by destination; nodes without in-edges
    get their base rank by riding a zero-contribution row through that
    same sum (r14 — previously a per-iteration ``nodes LEFT JOIN``,
    i.e. one more exchange and a join per round, for the identical
    int64 result). No broadcast of anything corpus-sized, no
    driver-side state beyond the node count. ``localCheckpoint`` per
    round keeps the plan depth constant.
    """
    if iterations < 1:
        raise ValueError(f"graph_pagerank: iterations must be >= 1, got {iterations}")

    def _pr(df: DataFrame) -> DataFrame:
        from pyspark import StorageLevel
        from pyspark.sql import types as T

        edges = df.select(
            F.col(src_col).alias("__src"), F.col(dst_col).alias("__dst")
        )
        endpoints = edges.select(F.col("__src").alias("__node")).union(
            edges.select(F.col("__dst").alias("__node"))
        )
        ndt = endpoints.schema["__node"].dataType

        def _emit(ranks: DataFrame) -> DataFrame:
            return ranks.select(
                F.col("__node").alias("node"),
                F.col("__label").alias(f"{output_col}_s"),
                (F.col("__label") / F.lit(float(SCALE))).alias(output_col),
            )

        rows = bounded_collect(edges, GRAPH_DRIVER_MAX_EDGES)
        if rows is not None and driver_safe_ids(rows, "__src", "__dst"):
            ranks = _driver_pagerank(rows, iterations)
            return _emit(labels_frame(df.sparkSession, ranks, ndt, T.LongType()))
        outdeg = edges.groupBy("__src").agg(
            F.count(F.lit(1)).cast("long").alias("__outdeg")
        )
        # annotate each edge with its source's out-degree ONCE — the
        # per-iteration join then only touches the rank table
        annotated = edges.join(outdeg, "__src").persist(StorageLevel.MEMORY_AND_DISK)
        nodes = endpoints.distinct().persist(StorageLevel.MEMORY_AND_DISK)
        try:
            n = nodes.count()
            if n == 0:
                return _emit(labels_frame(df.sparkSession, {}, ndt, T.LongType()))
            init_s = SCALE // n
            base_s = (3 * SCALE) // (20 * n)
            ranks = iter_materialize(
                nodes.select("__node", F.lit(init_s).cast("long").alias("__r")),
                eager=False,
                corpus_sized=True,
            )
            zero_rows = nodes.select(
                "__node", F.lit(0).cast("long").alias("__c")
            )
            for _ in range(iterations):
                # Every node's zero row rides the SAME exchange the
                # destination-keyed sum already pays (map-side combine folds
                # it away), replacing the per-iteration `nodes LEFT JOIN
                # contribs` — one fewer exchange and no join per round, and
                # sum(contribs + 0) == coalesce(sum(contribs), 0) exactly in
                # int64 (r14).
                contribs = (
                    annotated.join(
                        ranks.withColumnRenamed("__node", "__src"), "__src"
                    )
                    .select(
                        F.col("__dst").alias("__node"),
                        F.expr("(__r * 17) div (20 * __outdeg)").alias("__c"),
                    )
                    .union(zero_rows)
                    .groupBy("__node")
                    .agg(F.sum("__c").alias("__in"))
                )
                # LAZY truncation (eager=False): plan depth still resets per
                # round, but no per-round job is launched — the final action
                # computes the whole chain in one job, checkpointing each
                # round's blocks as it first computes them (identical work,
                # minus `iterations` job launches; r14). Safe because every
                # corpus_sized arm of iter_materialize is checkpoint-based
                # (release() is a no-op there) — the persist-wrapper arm,
                # which must be materialized before its predecessor is
                # released, is never taken for corpus-sized frames.
                nxt = iter_materialize(
                    contribs.select(
                        "__node",
                        (F.lit(base_s) + F.col("__in")).cast("long").alias("__r"),
                    ),
                    eager=False,
                    corpus_sized=True,
                )
                release(ranks)  # previous round, now superseded
                ranks = nxt
        finally:
            annotated.unpersist()
            nodes.unpersist()
        return _emit(ranks.withColumnRenamed("__r", "__label"))

    return _pr
