"""Operator scale probes: synthetic inputs 10-1000x the oracle scale, built
from the sf0.1 tables, that stress one operator's plan at a time. Each
probe prints one line per measurement; BASELINE.md records the results
under the round each probe was written in.

    python tools/scale_probes.py --list         # round and name; starts no Spark
    python tools/scale_probes.py [probe ...]    # run the named probes (all if none)

``SPARK_GRAFT_SF_DIR`` picks the source tables (default
``/root/testdata/sf0.1``). Probes stage their inputs under ``/tmp``.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys
import tempfile
import time
from typing import Callable, Dict, Tuple

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from lakehouse_engine_spark.core.definitions import TransformerSpec  # noqa: E402
from lakehouse_engine_spark.transformers.transformer_factory import (  # noqa: E402
    TransformerFactory,
)

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# probe name -> (round it was written in, probe(spark))
PROBES: Dict[str, Tuple[int, Callable]] = {}

QUALITY_BUCKETS = {"head": 3, "middle": 3, "tail": 4}


def probe(rnd: int):
    """Register ``probe_<name>`` as ``<name>``, written in round ``rnd``."""

    def _add(fn):
        PROBES[fn.__name__[len("probe_"):]] = (rnd, fn)
        return fn

    return _add


def t(name, **args):
    return TransformerFactory.get_transformer(TransformerSpec(name, args))


def replicate(df, n, id_col, shift):
    """n copies with shifted ids (keeps key cardinality structure)."""
    return df.crossJoin(
        df.sparkSession.range(n).withColumnRenamed("id", "__rep")
    ).withColumn(id_col, F.col(id_col) + F.col("__rep") * shift).drop("__rep")


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def _docs_20x(spark):
    """100k docs: sf0.1 documents x20 with shifted ids, persisted."""
    return replicate(_docs(spark), 20, "doc_id", 1_000_000).persist()


def _docs_10x(spark):
    """50k docs: sf0.1 documents x10 with distinct integral ids. Each copy
    ROTATES its text by a copy-specific offset, so the copies are textually
    distinct (distinct shingles and fingerprints) and the corpus behaves
    like 50k real docs rather than 10 exact clones of 5k (clones inflate
    every fingerprint bucket past the boilerplate cap)."""
    big = (
        _docs(spark)
        .crossJoin(spark.range(10).withColumnRenamed("id", "__c"))
        .withColumn("__shift", (F.col("__c") * 29 + 1).cast("int"))
        .select(
            (F.col("doc_id") * 10 + F.col("__c")).alias("doc_id"),
            F.col("lang"),
            (F.col("n_chars") + F.col("__c")).alias("n_chars"),
            F.expr(
                "concat(substring(text, __shift, 100000), ' ', "
                "substring(text, 1, __shift - 1))"
            ).alias("text"),
        )
        .repartition(32)
    )
    loc = "/tmp/probe_docs10x"
    big.write.mode("overwrite").parquet(loc)
    return spark.read.parquet(loc)


def _emb_1m(spark, widen):
    """1M vectors: sf0.1 embeddings x500 with per-replica jitter,
    persisted; ``widen`` tiles each vector 4x wide first (256 dims)."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    if widen:
        emb = emb.select(
            "vec_id",
            F.flatten(
                F.array(*[
                    F.transform("embedding", lambda x, i=i: x + F.lit(0.001) * i)
                    for i in range(4)
                ])
            ).alias("embedding"),
        )
    return (
        emb.crossJoin(spark.range(500).withColumnRenamed("id", "__rep"))
        .select(
            (F.col("vec_id") * 1000 + F.col("__rep")).alias("vec_id"),
            F.transform(
                "embedding", lambda x: x + F.col("__rep").cast("double") / 997.0
            ).alias("embedding"),
        )
        .repartition(32)
        .persist()
    )


def _knee_corpus(spark):
    """200k x 256-dim vectors: sf0.1 embeddings x100, each tiled 4x wide
    with per-tile scaling and a per-copy offset."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    big = (
        emb.crossJoin(spark.range(100).withColumnRenamed("id", "__c"))
        .select(
            (F.col("vec_id") * 100 + F.col("__c")).alias("vec_id"),
            F.flatten(
                F.array(
                    *[
                        F.transform(
                            "embedding",
                            lambda x, i=i: x * (1.0 + 0.01 * i)
                            + F.col("__c") * 0.001,
                        )
                        for i in range(4)
                    ]
                )
            ).alias("embedding"),
        )
        .repartition(32)
    )
    loc = "/tmp/probe_knee_emb"
    big.write.mode("overwrite").parquet(loc)
    return spark.read.parquet(loc)


def _stream_1m(spark, schema, half, op, report):
    """Stage ``half(0)`` and ``half(1)`` (500k rows each, 4 files each),
    drain them through ``op`` with availableNow at 4 files per
    micro-batch, then call ``report(output frame, start time)``."""
    base = tempfile.mkdtemp(prefix="probe_stream_")
    src, out, ck = [os.path.join(base, d) for d in ("src", "out", "ck")]
    try:
        for h in (0, 1):
            half(h).coalesce(4).write.mode("append").parquet(src)
        t0 = time.time()
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 4)
            .parquet(src)
            .transform(op)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)
        report(spark.read.parquet(out), t0)
    finally:
        shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------- round 4


@probe(4)
def probe_fuzzy_join(spark):
    """10k mangled supplier names vs the 10k clean set, nation-blocked.
    Worst-case blocking: every synthetic name has the same length, so the
    length bands prune nothing and cost is pairs-per-block bound —
    25 blocks x 400x400 = 4M levenshtein DPs. (Real-name corpora have
    length spread; for uniform-length keys pick a stronger block key.)"""
    sup = spark.read.parquet(f"{SF}/supplier.parquet")
    big = replicate(sup, 10, "s_suppkey", 1_000_000).persist()
    n = big.count()
    mangle = (
        "concat(substring(s_name, 1, pmod(s_suppkey, length(s_name))), "
        "substring(s_name, pmod(s_suppkey, length(s_name)) + 2))"
    )
    left = big.selectExpr("s_suppkey AS l_id", "s_nationkey", f"{mangle} AS name_m")
    right = big.select("s_suppkey", "s_nationkey", "s_name")
    t0 = time.time()
    out = left.transform(
        t("fuzzy_join", right=right, left_col="name_m", right_col="s_name",
          max_distance=2, block_on=["s_nationkey"])
    )
    rows = out.count()
    print(f"fuzzy_join: {n} x {n} rows, {rows} matches, {time.time()-t0:.1f}s")
    big.unpersist()


def _events_20x(spark):
    """2M events over 30k users: sf0.1 events x20, persisted."""
    ev = spark.read.parquet(f"{SF}/events.parquet")
    return replicate(ev, 20, "user_id", 1_000_000).persist()


@probe(4)
def probe_merge_intervals(spark):
    """2M intervals over 30k keys through the running-max span windows."""
    big = _events_20x(spark)
    n = big.count()
    iv = big.selectExpr(
        "user_id", "ts AS s",
        "ts + make_dt_interval(0, 0, CAST(FLOOR(value % 30) AS INT) + 1, 0) AS e",
    )
    t0 = time.time()
    rows = iv.transform(
        t("merge_intervals", on=["user_id"], start_col="s", end_col="e")
    ).count()
    print(f"merge_intervals: {n} intervals -> {rows} spans, {time.time()-t0:.1f}s")
    big.unpersist()


@probe(4)
def probe_scd2(spark):
    """2M state events over 30k keys: lag-filter-lead on one exchange."""
    big = _events_20x(spark)
    n = big.count()
    states = big.groupBy("user_id", "ts").agg(F.min("event_type").alias("state"))
    t0 = time.time()
    rows = states.transform(
        t("scd2_build", key_cols=["user_id"], ts_col="ts", attr_cols=["state"])
    ).count()
    print(f"scd2_build: {n} events -> {rows} versions, {time.time()-t0:.1f}s")
    big.unpersist()


@probe(4)
def probe_cdc_chunk(spark):
    """100k documents (20x) through content-defined chunking — pure
    row-space array expressions, zero shuffle."""
    big = _docs_20x(spark)
    n = big.count()
    t0 = time.time()
    rows = big.transform(t("text_cdc_chunk", window=8, divisor=16)).count()
    print(f"text_cdc_chunk: {n} docs -> {rows} chunks, {time.time()-t0:.1f}s")
    big.unpersist()


@probe(4)
def probe_cluster_sample(spark):
    """40k embeddings (20x) through hyperplane bucketing + sqrt caps."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    big = replicate(emb, 20, "vec_id", 1_000_000).persist()
    n = big.count()
    t0 = time.time()
    rows = big.transform(t("cluster_sample", num_planes=6, dim=64)).count()
    print(f"cluster_sample: {n} vectors -> {rows} sampled, {time.time()-t0:.1f}s")
    big.unpersist()


@probe(4)
def probe_ewma(spark):
    """2M rows over 30k keys through the sorted-partition mapInPandas fold."""
    big = _events_20x(spark)
    n = big.count()
    series = big.groupBy("user_id", "ts").agg(
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("v")
    )
    t0 = time.time()
    rows = series.transform(
        t("streaming_ewma_anomaly", on=["user_id"], value_col="v",
          ts_col="ts", alpha=0.25, threshold=2.5, min_periods=5)
    ).count()
    print(f"streaming_ewma_anomaly: {n} rows, {time.time()-t0:.1f}s")
    big.unpersist()


@probe(4)
def probe_snapshot_diff(spark):
    """3M-row snapshots through the full-outer key diff."""
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    old = replicate(orders, 20, "o_orderkey", 100_000_000).persist()
    n = old.count()
    new = old.filter("o_orderkey % 97 != 0").withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 13 == 0, F.col("o_totalprice") + 1)
        .otherwise(F.col("o_totalprice")),
    )
    t0 = time.time()
    res = {r["status"]: r["n"] for r in new.transform(
        t("snapshot_diff", right=old, key_cols=["o_orderkey"],
          compare_cols=["o_totalprice", "o_orderstatus"])
    ).collect()}
    print(f"snapshot_diff: {n} x {n} rows -> {res}, {time.time()-t0:.1f}s")
    old.unpersist()


# ---------------------------------------------------------------- round 5


@probe(5)
def probe_gap_fill_dense(spark):
    """The sequence() blow-up surface: 32 sparse keys, each with TWO events
    ~11 days apart, filled at '1 second' → ~960k buckets per key, just
    under the 1M default cap — 30M output rows materialized from 64 input
    rows. Measures the per-key array expansion + explode + grid join."""
    rows = spark.range(32).selectExpr(
        "concat('k', id) AS k",
        "to_timestamp_ntz('2024-01-01 00:00:00') AS ts",
        "1.0 AS v",
    ).union(
        spark.range(32).selectExpr(
            "concat('k', id) AS k",
            "to_timestamp_ntz('2024-01-12 02:39:59') AS ts",
            "2.0 AS v",
        )
    )
    t0 = time.time()
    out = rows.transform(
        t("gap_fill", on=["k"], ts_col="ts", step="1 second",
          aggs={"n": "CAST(count(1) AS LONG)"}, fill={"n": 0})
    )
    n = out.count()
    print(f"gap_fill_dense: 64 events -> {n} grid rows, {time.time()-t0:.1f}s")
    # and the cap trips cleanly one second past it
    bad = rows.withColumn(
        "ts",
        F.when(F.col("v") == 2.0,
               F.expr("to_timestamp_ntz('2024-01-13 00:00:00')")).otherwise(
            F.col("ts")
        ),
    )
    t0 = time.time()
    try:
        bad.transform(
            t("gap_fill", on=["k"], ts_col="ts", step="1 second",
              aggs={"n": "count(1)"})
        ).count()
        print("gap_fill_cap: ERROR — no raise")
    except Exception as exc:
        ok = "gap_fill: a key's grid needs" in str(exc)
        print(f"gap_fill_cap: raised={ok} in {time.time()-t0:.1f}s (fail-fast)")


@probe(5)
def probe_funnel(spark):
    """sf0.1 events replicated 20x -> 2M events, 30k users, 3-stage funnel.
    Cost profile: one user-keyed exchange, stacked min-ts conditional
    aggregation per stage — no per-stage joins."""
    big = _events_20x(spark)
    n = big.count()
    t0 = time.time()
    out = big.transform(
        t("funnel", on=["user_id"], stage_col="event_type", ts_col="ts",
          stages=["view", "click", "purchase"])
    )
    rows = out.count()
    print(f"funnel: {n} events -> {rows} stage rows, {time.time()-t0:.1f}s")
    big.unpersist()


@probe(5)
def probe_line_dedup(spark):
    """sf0.1 documents replicated 20x -> 100k docs with every line
    duplicated 20-fold across the corpus: worst case for first-occurrence
    line dedup (every hash bucket is hot). Digest-keyed window, ids-only."""
    big = _docs_20x(spark)
    n = big.count()
    t0 = time.time()
    out = big.transform(t("text_line_dedup"))
    rows = out.count()
    print(f"line_dedup: {n} docs -> {rows} rows, {time.time()-t0:.1f}s")
    big.unpersist()


@probe(5)
def probe_codec_throughput(spark):
    """20k constructed payloads per codec (PNG with cycling filters, GIF
    real-LZW, baseline JPEG) through multimodal_image_decode — measures
    the native decoders' Arrow-batched throughput. JPEG is entropy-serial
    Python and documented fixture-grade; PNG/GIF inflate/LZW are also
    serial but cheaper; all scale linearly with cores and payload count."""
    import numpy as np
    import pandas as pd

    from lakehouse_engine_spark.datapipes.media_codecs import encode_gif, encode_png
    from lakehouse_engine_spark.datapipes.media_jpeg import encode_jpeg

    n = 20_000
    for name, maker in (
        ("png", lambda i: encode_png(
            np.full((16, 16, 3), (i % 256, (3 * i) % 256, (7 * i) % 256),
                    dtype=np.uint8),
            row_filters=[y % 5 for y in range(16)])),
        ("gif", lambda i: encode_gif(
            np.full((16, 16, 3), (i % 256, (3 * i) % 256, (7 * i) % 256),
                    dtype=np.uint8))),
        ("jpeg", lambda i: encode_jpeg(
            np.full((16, 16, 3), (i % 256, (3 * i) % 256, (7 * i) % 256),
                    dtype=np.uint8))),
    ):
        def _mk(ids, maker=maker):
            return pd.Series([maker(int(i)) for i in ids])

        mk = F.pandas_udf(_mk, "binary")
        payloads = spark.range(n).select(
            F.col("id"), mk("id").alias("payload")
        ).persist()
        rows = payloads.count()  # materialize fixtures OUTSIDE the timing
        t0 = time.time()
        decoded = payloads.transform(t("multimodal_image_decode", id_col="id"))
        ok = decoded.filter("codec IS NOT NULL").count()
        dt = time.time() - t0
        print(f"codec_{name}: {rows} payloads decoded={ok} in {dt:.1f}s"
              f" ({rows/dt:,.0f} img/s)")
        payloads.unpersist()


@probe(5)
def probe_pagerank(spark):
    """1M-edge synthetic graph (200k nodes, out-degree 5), 5 iterations —
    measures the per-round join+agg cadence at 12 exchanges total."""
    edges = spark.range(200_000).selectExpr("id AS src").crossJoin(
        spark.range(5).withColumnRenamed("id", "k")
    ).selectExpr("src", "(src * 7 + k * 13 + 1) % 200000 AS dst")
    t0 = time.time()
    out = edges.transform(t("graph_pagerank", iterations=5))
    n = out.count()
    total = out.agg(F.sum("rank_s")).first()[0]
    print(f"pagerank: 1M edges, {n} nodes, 5 iters in {time.time()-t0:.1f}s"
          f" (mass {total/1e12:.6f})")


@probe(5)
def probe_bm25(spark):
    """sf0.1 documents replicated 20x -> 100k docs, 5 keyword queries:
    the corpus-side broadcast-prune means shuffled volume is matching
    tokens only."""
    big = _docs_20x(spark)
    n = big.count()
    qs = spark.createDataFrame(
        [(1, "hash join strategy"), (2, "window agg stream"),
         (3, "vector scan filter"), (4, "slow merge sort"),
         (5, "spark query plan")],
        "query_id LONG, query STRING",
    )
    t0 = time.time()
    out = big.transform(t("text_bm25_topk", queries_df=qs, k=10))
    rows = out.count()
    print(f"bm25: {n} docs, 5 queries -> {rows} rows in {time.time()-t0:.1f}s")
    big.unpersist()


# ---------------------------------------------------------------- round 6


@probe(6)
def probe_bm25_10k_queries(spark):
    """10k keyword queries over 100k docs with the query-side broadcasts
    PINNED OFF — the exact plan an eval-set-mining run with millions of
    queries gets after the size gate. Each doc carries two
    discriminative id-terms alongside the common-word body and each query
    pairs one discriminative term with one hub term — the realistic
    retrieval shape (selective terms bound the candidate set; the hub
    term exercises the per-term skew surface). A query set built ONLY of
    corpus-common words is the pathological case: every doc becomes a
    candidate for every query and scored pairs grow as |Q|x|D| (~10^9
    here) — that cost is inherent to dense-vocabulary BM25, not to the
    join strategy, and such query sets should be pruned upstream."""
    big = (
        replicate(_docs(spark), 20, "doc_id", 1_000_000)
        # two selective id-terms per doc: ent<doc_id mod 20k>, ref<doc_id mod 7k>
        .withColumn(
            "text",
            F.concat_ws(
                " ",
                F.col("text"),
                F.concat(F.lit("ent"), (F.col("doc_id") % 20_000)),
                F.concat(F.lit("ref"), (F.col("doc_id") % 7_000)),
            ),
        )
        .persist()
    )
    n = big.count()
    # 10k selective queries + every 1000th also carries the hub term
    # 'table' (matches every doc -> 100k candidates for those 10 queries)
    qs = spark.range(10_000).selectExpr(
        "id AS query_id",
        "concat('ent', id % 20000, ' ref', (id * 3) % 7000, "
        "CASE WHEN id % 1000 = 0 THEN ' table' ELSE '' END) AS query",
    )
    t0 = time.time()
    out = big.transform(
        t("text_bm25_topk", queries_df=qs, k=5, broadcast_queries=False)
    )
    rows = out.count()
    print(
        f"bm25_10k_queries: {n} docs x 10k queries (shuffle-join path) -> "
        f"{rows} rows in {time.time()-t0:.1f}s",
        flush=True,
    )
    big.unpersist()


@probe(6)
def probe_pagerank_10m_skew(spark):
    """10M edges, 1M source nodes x 10 out-edges, destinations drawn from
    a u^8 power law — node 0 alone receives ~18% of all edges (a 1.8M
    in-degree hub). Proves the per-iteration groupBy(dst) survives hub
    skew via map-side partial aggregation (the combine collapses each
    input partition's contribution to the hub into ONE row before the
    exchange, so the hub's shuffle input is #partitions rows, not 1.8M)."""
    edges = (
        spark.range(1_000_000)
        .selectExpr("id AS src")
        .crossJoin(spark.range(10).withColumnRenamed("id", "k"))
        .selectExpr(
            "src",
            # deterministic uniform in [0,1) from a Knuth hash, raised to
            # the 8th power -> heavy concentration at low node ids
            "CAST(pow(pmod(src * 2654435761 + k * 40503, 2147483647)"
            " / 2147483647.0, 8.0) * 1000000 AS LONG) AS dst",
        )
    )
    hub = edges.groupBy("dst").count().orderBy(F.desc("count")).first()
    t0 = time.time()
    out = edges.transform(t("graph_pagerank", iterations=5))
    n = out.count()
    top = out.orderBy(F.desc("rank_s")).first()
    print(
        f"pagerank_10m_skew: 10M edges, {n} nodes, hub in-degree "
        f"{hub['count']} (node {hub['dst']}), 5 iters in "
        f"{time.time()-t0:.1f}s; top rank node {top['node']} "
        f"({top['rank']:.4f})", flush=True
    )


@probe(6)
def probe_incremental_dedup_50_runs(spark):
    """50 accumulated ingest runs against one digest state with
    compaction (compact_after_files=16): each run ingests 10k rows, 20%
    repeats of earlier runs. Without compaction the state degrades into
    50+ part files; the probe records the final file count and the
    last-run wall time (dominated by the anti-join against the full
    state)."""
    tmp = tempfile.mkdtemp(prefix="dedup50_")
    state = os.path.join(tmp, "digests")
    try:
        last = 0.0
        for run in range(50):
            # 8k fresh keys + 2k repeats from the previous run
            df = spark.range(10_000).selectExpr(
                f"id + {run} * 10000 AS doc_id",
                f"CASE WHEN id < 8000 THEN concat('doc-', {run} * 8000 + id) "
                f"ELSE concat('doc-', {max(run - 1, 0)} * 8000 + id - 8000) "
                "END AS text",
            )
            t0 = time.time()
            df.transform(
                t("dedup_incremental_exact", state_location=state,
                  key_cols=["text"], id_col="doc_id",
                  compact_after_files=16)
            ).count()
            last = time.time() - t0
        parts = [
            p for p in os.listdir(state) if p.startswith("part-")
        ]
        digests = spark.read.parquet(state).count()
        print(
            f"incremental_dedup_50_runs: 50 runs x 10k rows -> {digests} "
            f"state digests in {len(parts)} files; last run "
            f"{last:.1f}s", flush=True
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@probe(6)
def probe_semantic_dedup_40k(spark):
    """sf0.1 embeddings replicated 20x -> 40k vectors with 20 identical
    copies each (every copy pair lands in the same best-cosine cluster):
    the centroid-blocked pairwise path must collapse the corpus to the
    unique 2000 vectors. 64 centroids -> clusters of ~625 -> ~13M verify
    pairs; this O(sum cluster^2) cost is the num_centroids /
    max_cluster_size knob (SemDeDup runs cluster counts proportional to
    corpus size). History: the array-carrying formulation took 134.7s
    (element_at chains and struct-max-with-arrays fall out of codegen);
    scalar-column expansion of the same plan runs in ~12s."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    big = replicate(emb, 20, "vec_id", 1_000_000).persist()
    n = big.count()
    t0 = time.time()
    out = big.transform(
        t("dedup_semantic_centroid", threshold=0.9999, num_centroids=64,
          dim=64)
    )
    kept = out.count()
    print(
        f"semantic_dedup_40k: {n} vectors (20 copies each), 64 centroids "
        f"-> {kept} survivors in {time.time()-t0:.1f}s",
        flush=True,
    )
    big.unpersist()


@probe(6)
def probe_hash_embedding_100k(spark):
    """sf0.1 documents replicated 20x -> 100k docs through
    text_hash_embedding(dim=64): explode + (id, bucket) map-side-combined
    aggregate + dense assembly — cost linear in corpus tokens."""
    big = _docs_20x(spark)
    n = big.count()
    t0 = time.time()
    out = big.transform(t("text_hash_embedding", dim=64))
    total = out.selectExpr(
        "sum(aggregate(hash_embedding, 0.0D, (s, v) -> s + v * v)) AS m"
    ).first()["m"]
    print(
        f"hash_embedding_100k: {n} docs -> 64-dim vectors in "
        f"{time.time()-t0:.1f}s (sum-sq {total:.1f})",
        flush=True,
    )
    big.unpersist()


@probe(6)
def probe_bloom_decontaminate_100k(spark):
    """Bloom decontamination at 100k docs against a 10k-doc benchmark:
    the joinless probe path — the benchmark folds to one ~131 KiB bitmap
    map no matter its size, the corpus side is pure codegen bit tests +
    one hit-count aggregate. Contrast: the exact n-gram join ships every
    distinct benchmark gram hash to every task."""
    big = _docs_20x(spark)
    n = big.count()
    bench = big.filter("doc_id % 10 = 0")  # 10k docs play the eval set
    t0 = time.time()
    out = big.transform(
        t("text_decontaminate_bloom", benchmark_df=bench, ngram=8,
          num_bits=1 << 20, num_hashes=4)
    )
    flagged = out.filter("maybe_contaminated").count()
    dt = time.time() - t0
    print(f"[bloom_decontaminate_100k] {n} docs vs 10k-doc benchmark: "
          f"{flagged} flagged in {dt:.1f}s")
    big.unpersist()


@probe(6)
def probe_zorder_10m(spark):
    """layout_zorder at 10M rows, 2 dims x 16 bits, 64 range partitions:
    the write-side layout cost is one min/max agg + a codegen projection
    + ONE range exchange (sampled bounds). Also probes rank-CDF mode on a
    100k-distinct skewed dimension (guarded single-task window)."""
    df = (
        spark.range(10_000_000)
        .selectExpr(
            "id",
            "cast(id % 1000000 as long) AS ck",
            "timestamp'2020-01-01 00:00:00' + make_interval(0,0,0,0,0,0, id % 86400) AS ts",
        )
    )
    t0 = time.time()
    out = df.transform(
        t("layout_zorder", cols=["ck", "ts"], bits_per_col=16,
          num_partitions=64)
    )
    n = out.count()
    dt = time.time() - t0
    print(f"[zorder_10m] minmax: {n} rows laid out in {dt:.1f}s")
    skew = spark.range(10_000_000).selectExpr(
        "id", "cast(pow(id % 100000, 2) as long) AS x", "id % 1000 AS y"
    )
    t0 = time.time()
    out2 = skew.transform(
        t("layout_zorder", cols=["x", "y"], bits_per_col=16, method="rank",
          num_partitions=64)
    )
    n2 = out2.count()
    dt2 = time.time() - t0
    print(f"[zorder_10m] rank-CDF (100k-distinct skewed dim): {n2} rows "
          f"in {dt2:.1f}s")


@probe(6)
def probe_incremental_minhash_20_runs(spark):
    """20 sequential near-dup ingest runs x 10k docs (30% near-repeats of
    earlier runs) against one band-bucket state with compaction: state
    stays bucket-hashes-only and the last run's cost is flat."""
    state = tempfile.mkdtemp() + "/bk"
    docs = _docs(spark).select("doc_id", "text").persist()
    docs.count()
    last = 0.0
    total_survivors = 0
    for run in range(20):
        batch = (
            docs.limit(500)
            .withColumn("doc_id", F.col("doc_id") + F.lit(run * 1_000_000))
            .withColumn(
                "text",
                F.when(
                    (F.col("doc_id") % 10) < 3,
                    F.col("text"),  # exact repeat of an earlier run's doc
                ).otherwise(F.concat_ws(" ", F.col("text"), F.lit(f"r{run}"))),
            )
        )
        t0 = time.time()
        out = batch.transform(
            t("dedup_incremental_minhash", state_location=state,
              compact_after_files=8)
        )
        total_survivors += out.count()
        last = time.time() - t0
    n_files = len(glob.glob(state + "/part-*"))
    print(f"[incremental_minhash_20_runs] 20 runs x 500 docs: "
          f"{total_survivors} total survivors, state files={n_files}, "
          f"last-run {last:.1f}s")
    docs.unpersist()


@probe(6)
def probe_interval_overlap_1m(spark):
    """interval_overlap_join at 1M x 1M intervals (100 keys, ~5k-unit
    spans, 10k-unit buckets): the bucketed equi-join + first-shared-bucket
    dedup plan — contrast a nested-loop inequality join, which at this
    size evaluates ~10^10 key-local pairs."""
    left = spark.range(1_000_000).selectExpr(
        "id AS lid", "cast(id % 100 as long) AS g",
        "cast((id * 37) % 1000000000 as long) AS s",
    ).selectExpr("lid", "g", "s", "s + 5000 AS e")
    right = spark.range(1_000_000).selectExpr(
        "id AS rid", "cast(id % 100 as long) AS g",
        "cast((id * 53 + 1234) % 1000000000 as long) AS s",
    ).selectExpr("rid", "g", "s", "s + 4000 AS e")
    t0 = time.time()
    out = left.transform(
        t("interval_overlap_join", right=right, on=["g"],
          left_start="s", left_end="e", right_start="s", right_end="e",
          bucket_width=10_000)
    )
    n = out.count()
    dt = time.time() - t0
    print(f"[interval_overlap_1m] 1M x 1M intervals, 100 keys: "
          f"{n} overlapping pairs in {dt:.1f}s")


# ---------------------------------------------------------------- round 7


def _docs_20x_32(spark):
    """_docs_20x spread over 32 partitions."""
    return replicate(_docs(spark), 20, "doc_id", 1_000_000).repartition(32).persist()


@probe(7)
def probe_kmeans_1m_k64_d256(spark):
    """embedding_kmeans at 1M vectors x 256 dims, k=64, 2 Lloyd rounds —
    the configuration whose first formulation would have spent hours in
    Catalyst analysis (O(k^2*dim) literal trees) and whose O(k*dim)
    scalar expansion dies at Janino's 64 KB method limit by k*dim ~ 1024.
    The Arrow-batched int64 kernel keeps the plan constant-size, so the
    interesting numbers are (a) transform BUILD time — driver-side
    planning + 2 iteration rounds of k*dim-row collects — and (b) the
    final assignment action."""
    big = _emb_1m(spark, widen=True)
    n = big.count()
    t0 = time.time()
    out = big.transform(t("embedding_kmeans", k=64, iterations=2))
    t_build = time.time() - t0
    t0 = time.time()
    stats = out.groupBy("cluster").count().orderBy(F.desc("count"))
    top = stats.first()
    t_exec = time.time() - t0
    n_clusters = stats.count()
    print(
        f"[kmeans_1m_k64_d256] {n} vectors x 256 dims, k=64, 2 rounds: "
        f"build (planning + 2 Lloyd collects) {t_build:.1f}s, final "
        f"assignment+agg {t_exec:.1f}s, {n_clusters} non-empty clusters, "
        f"largest {top['count']}"
    )
    big.unpersist()


@probe(7)
def probe_corpus_overlap_100k(spark):
    """corpus_overlap_stats at 100k docs vs a 10k-doc reference corpus —
    the two distinct-shingle aggregates + semi-join audit at 20x the
    oracle scale. Cost should be linear in corpus shingles (map-side
    combined distincts), with the overlap a bucket-keyed semi-join."""
    docs = _docs(spark)
    big = (
        replicate(docs, 20, "doc_id", 1_000_000)
        .withColumn(
            "text",
            F.concat_ws(
                " ", F.col("text"),
                F.concat(F.lit("uniq"), F.col("doc_id") % 50_000),
            ),
        )
        .repartition(32)
        .persist()
    )
    other = replicate(docs.limit(500), 20, "doc_id", 1_000_000)
    n = big.count()
    t0 = time.time()
    row = big.transform(t("corpus_overlap_stats", other_df=other)).first()
    dt = time.time() - t0
    print(
        f"[corpus_overlap_100k] {n} docs vs 10k reference: {dt:.1f}s "
        f"({row.asDict()})"
    )
    big.unpersist()


@probe(7)
def probe_ngram_counts_100k(spark):
    """text_ngram_counts at 100k docs: the corpus n-gram count aggregate
    at 20x oracle scale — one explode + map-side-combined count with a
    TakeOrderedAndProject top-k cut (no global sort). Linear in corpus
    tokens."""
    big = _docs_20x_32(spark)
    n = big.count()
    t0 = time.time()
    out = big.transform(t("text_ngram_counts", n=3, k=1000)).collect()
    dt = time.time() - t0
    print(
        f"[ngram_counts_100k] {n} docs, 3-grams top-1000: {len(out)} rows "
        f"in {dt:.1f}s"
    )
    big.unpersist()


@probe(7)
def probe_dsir_100k(spark):
    """text_dsir_score at 100k source docs vs a 5k-doc target slice:
    two gram-explode bucket aggregates (~20M grams total) + the
    broadcast-attached scoring join + one doc-keyed aggregate. Linear
    in corpus grams; the bucket table stays 10k rows at any corpus
    size."""
    big = _docs_20x_32(spark)
    n = big.count()
    target = big.filter("doc_id % 20 = 0")
    t0 = time.time()
    out = big.transform(t("text_dsir_score", target_df=target))
    cnt = out.filter("dsir_score > 0").count()
    dt = time.time() - t0
    print(f"[dsir_100k] {n} docs vs 5k target: {dt:.1f}s, "
          f"{cnt} docs score target-positive")
    big.unpersist()


@probe(7)
def probe_pq_1m(spark):
    """embedding_pq_encode + knn_pq at 1M x 64-dim vectors (m=4, 256
    codes): both are one Arrow-batched corpus pass; the ANN side adds
    only the per-query top-k window over corpus x n_queries skinny
    rows."""
    big = _emb_1m(spark, widen=False)
    n = big.count()
    t0 = time.time()
    enc = big.transform(t("embedding_pq_encode", m=4, k=256))
    total = enc.selectExpr("sum(pq_code_dist) AS s").first()["s"]
    t_enc = time.time() - t0
    t0 = time.time()
    ann = big.transform(
        t("knn_pq", k=10, m=4, num_codes=256, query_filter="vec_id < 8")
    )
    rows = ann.count()
    t_ann = time.time() - t0
    print(f"[pq_1m] {n} vectors: encode {t_enc:.1f}s (residual sum "
          f"{total}), ADC top-10 for 8 queries {t_ann:.1f}s ({rows} rows)")
    big.unpersist()


@probe(7)
def probe_cc_path_1m(spark):
    """graph_connected_components on the adversarial shapes: (a) a
    1M-node PATH (diameter 10^6 — naive min-propagation would need 10^6
    rounds / 2x10^6 shuffles; the alternating star transform contracts
    it in O(log^2 n) rounds), and (b) a 1M-leaf STAR hub merged with a
    100k-node path (degree skew: one node touches 1M edges — the min
    combine is map-side partial, no neighbor-list materialization)."""
    n = 1_000_000
    path = spark.range(n - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    t0 = time.time()
    out = path.transform(t("graph_connected_components", max_iterations=60))
    comps = out.agg(
        F.countDistinct("component").alias("c"), F.count("*").alias("n")
    ).collect()[0]
    dt = time.time() - t0
    print(f"[cc_path_1m] path 1M nodes: {comps['c']} component(s) over "
          f"{comps['n']} nodes in {dt:.1f}s")
    assert comps["c"] == 1 and comps["n"] == n
    hub = spark.range(n).select(
        F.lit(5_000_000).alias("src"), (F.col("id") + 2_000_000).alias("dst")
    )
    tail = spark.range(100_000).select(
        (F.col("id") + 2_000_000).alias("src"),
        (F.col("id") + 2_000_001).alias("dst"),
    )
    t0 = time.time()
    out = hub.unionAll(tail).transform(
        t("graph_connected_components", max_iterations=60)
    )
    comps = out.agg(
        F.countDistinct("component").alias("c"), F.count("*").alias("n")
    ).collect()[0]
    dt = time.time() - t0
    print(f"[cc_hub_1m] 1M-leaf hub + 100k path: {comps['c']} component(s) "
          f"over {comps['n']} nodes in {dt:.1f}s")
    assert comps["c"] == 1


@probe(7)
def probe_pca_1m_d256(spark):
    """embedding_pca at 1M vectors x 256 dims: the moments pass is one
    Arrow scan emitting <= dim*(dim+3)/2+1 partial rows per partition
    (dim^2-sized shuffle, row-count independent), eigh is driver-side
    O(dim^3), the projection a second stateless Arrow pass. Records the
    fit (moments+eigh) and project+agg phases separately."""
    big = _emb_1m(spark, widen=True)
    n = big.count()
    t0 = time.time()
    out = big.transform(t("embedding_pca", n_components=16))
    t_fit = time.time() - t0
    t0 = time.time()
    agg = out.select(
        F.avg(F.element_at("pca", 1)).alias("m1"),
        F.count("*").alias("n"),
    ).first()
    t_proj = time.time() - t0
    print(
        f"[pca_1m_d256] {n} vectors x 256 dims -> 16 components: "
        f"fit (1 Arrow moments pass + driver eigh) {t_fit:.1f}s, "
        f"project+agg {t_proj:.1f}s, mean(PC1)={agg['m1']:.3e} "
        f"(centered => ~0) over {agg['n']} rows"
    )
    big.unpersist()


@probe(7)
def probe_frequent_terms_100k(spark):
    """text_frequent_terms at 100k docs (20x oracle scale): two corpus
    scans — a Misra-Gries candidate pass whose shuffle is bounded by
    k = ceil(1/min_support)+1 rows per partition regardless of
    vocabulary size, then a broadcast-pruned exact recount. Compare
    against the groupBy-everything shape vocab_top_k uses (which
    shuffles every distinct term)."""
    big = _docs_20x_32(spark)
    n = big.count()
    t0 = time.time()
    out = big.transform(t("text_frequent_terms", min_support=0.001)).collect()
    dt = time.time() - t0
    print(
        f"[frequent_terms_100k] {n} docs, min_support=0.1%: {len(out)} "
        f"exact heavy hitters in {dt:.1f}s (candidate shuffle bounded at "
        f"1001 rows/partition)"
    )
    big.unpersist()


@probe(7)
def probe_hilbert_vs_zorder_spans(spark):
    """The file-skipping comparison layout_hilbert exists for: lay 10M
    (x, y) rows into 64 range partitions by Morton key vs Hilbert key,
    then measure the per-partition min/max BOX on each dimension — the
    exact statistics parquet footers would carry, partition = file proxy.
    Skipping power is the mean normalized box AREA (smaller = a point
    predicate on either dim prunes more files). Hilbert's unit-step
    adjacency removes Morton's cross-space seams, so its boxes should be
    measurably tighter at equal cost."""
    df = spark.range(10_000_000).selectExpr(
        "id",
        "cast(id % 3163 as long) AS x",
        "cast((id * 2654435761) % 3163 as long) AS y",
    )

    def boxes(out):
        p = out.withColumn("__pid", F.spark_partition_id())
        stats = (
            p.groupBy("__pid")
            .agg(
                F.min("x").alias("x0"), F.max("x").alias("x1"),
                F.min("y").alias("y0"), F.max("y").alias("y1"),
                F.count("*").alias("n"),
            )
            .collect()
        )
        span = 3163.0
        area = sum(
            ((r["x1"] - r["x0"] + 1) / span) * ((r["y1"] - r["y0"] + 1) / span)
            for r in stats
        ) / len(stats)
        return area, len(stats)

    t0 = time.time()
    hz = df.transform(
        t("layout_hilbert", cols=["x", "y"], bits_per_col=8,
          num_partitions=64)
    )
    a_h, n_h = boxes(hz)
    dt_h = time.time() - t0
    t0 = time.time()
    zz = df.transform(
        t("layout_zorder", cols=["x", "y"], bits_per_col=8,
          num_partitions=64)
    )
    a_z, n_z = boxes(zz)
    dt_z = time.time() - t0
    print(
        f"[hilbert_vs_zorder] 10M rows, 64 partitions: mean normalized "
        f"min/max box area hilbert={a_h:.4f} ({dt_h:.1f}s, {n_h} parts) "
        f"vs zorder={a_z:.4f} ({dt_z:.1f}s, {n_z} parts) — "
        f"{a_z / a_h:.2f}x tighter"
    )


@probe(7)
def probe_frequent_trigrams_100k(spark):
    """text_frequent_terms ngram=3 at 100k docs — the unbounded-
    vocabulary regime the MG pass exists for: the distinct 3-gram count
    here is corpus-sized (millions), but the candidate shuffle stays at
    k+1 = 1001 rows per partition. Contrast: text_ngram_counts must
    shuffle every distinct shingle a partition holds."""
    big = _docs_20x_32(spark)
    n = big.count()
    distinct_grams = (
        big.selectExpr(
            "explode(filter(transform(sequence(1, greatest(size(split(trim("
            "lower(text)), '\\\\s+')) - 2, 1)), i -> concat_ws(' ', slice("
            "split(trim(lower(text)), '\\\\s+'), i, 3))), s -> s <> '')) g"
        )
        .agg(F.approx_count_distinct("g"))
        .first()[0]
    )
    t0 = time.time()
    out = big.transform(
        t("text_frequent_terms", min_support=0.001, ngram=3)
    ).collect()
    dt = time.time() - t0
    print(
        f"[frequent_trigrams_100k] {n} docs, ~{distinct_grams} distinct "
        f"3-grams, min_support=0.1%: {len(out)} exact heavy hitters in "
        f"{dt:.1f}s (candidate shuffle capped at 1001 rows/partition)"
    )
    big.unpersist()


@probe(7)
def probe_decon_spans_100k(spark):
    """text_decontaminate_spans at 100k docs vs a 5k-doc benchmark: the
    islands path must touch only CONTAMINATED documents (~5% here), so
    cost is the broadcast gram probe + a small exploded window."""
    big = _docs_20x_32(spark)
    n = big.count()
    bench = _docs(spark).filter("doc_id % 10 = 0").selectExpr(
        "doc_id AS bid", "text"
    )
    t0 = time.time()
    out = big.transform(
        t("text_decontaminate_spans", benchmark_df=bench, ngram=8,
          min_fragment_tokens=5)
    )
    stats = out.selectExpr(
        "count(*) AS docs",
        "sum(CASE WHEN n_removed_tokens > 0 THEN 1 ELSE 0 END) AS dirty",
        "sum(n_removed_tokens) AS removed",
    ).first()
    dt = time.time() - t0
    print(f"[decon_spans_100k] {n} docs vs 5k benchmark: {dt:.1f}s — "
          f"{stats['dirty']} dirty docs, {stats['removed']} tokens removed")
    big.unpersist()


# ---------------------------------------------------------------- round 9


@probe(9)
def probe_curation_pipeline_100k(spark):
    """The q31 composed ACON chain (stage -> gopher -> corpus line dedup
    -> MinHash+LSH -> 8-gram decontamination -> mixture plan) over a
    100k-doc corpus tiled from sf0.1, all through ONE ``load_data`` run.
    Composition through ``transform_specs`` should cost the SUM of its
    stages — no multiplicative re-computation (each stage's frame feeds
    the next lazily; one action)."""
    from lakehouse_engine_spark import load_data
    import __spark_entry__ as entry

    big = replicate(_docs(spark), 20, "doc_id", 1_000_000).repartition(32)
    loc = "/tmp/probe_curation_docs"
    big.write.mode("overwrite").parquet(loc)
    n = spark.read.parquet(loc).count()

    staged_text = (
        "concat(substring(text, 1, 60), chr(10), "
        f"'{entry._Q31_FOOTER}', chr(10), substring(text, 61, 100000))"
    )
    acon = {
        "input_specs": [
            {"spec_id": "docs", "data_format": "parquet", "location": loc}
        ],
        "transform_specs": [
            {
                "spec_id": "bench",
                "input_id": "docs",
                "transformers": [
                    {
                        "function": "expression_filter",
                        "args": {"exp": "doc_id % 1000 = 0"},
                    }
                ],
            },
            {
                "spec_id": "curated",
                "input_id": "docs",
                "transformers": [
                    {
                        "function": "with_expressions",
                        "args": {"cols_and_exprs": {"text": staged_text}},
                    },
                    {
                        "function": "text_gopher_rules",
                        "args": {
                            "min_words": 30,
                            "stopwords": list(entry._Q31_STOPWORDS),
                            "min_stopword_hits": 2,
                        },
                    },
                    {
                        "function": "expression_filter",
                        "args": {"exp": "gopher_keep"},
                    },
                    {"function": "text_line_dedup", "args": {}},
                    {
                        "function": "dedup_minhash_lsh",
                        "args": {
                            "text_col": "text_deduped",
                            "num_hashes": 12,
                            "bands": 4,
                            "shingle_size": 3,
                        },
                    },
                    {
                        "function": "text_decontaminate_with",
                        "args": {
                            "benchmark_with": "bench",
                            "input_col": "text_deduped",
                            "ngram": 8,
                            "mode": "drop",
                        },
                    },
                    {
                        "function": "mixture_plan",
                        "args": {
                            "group_col": "lang",
                            "weights": {"en": 50, "de": 30, "fr": 15, "xx": 5},
                            "budget_tokens": 20_000_000,
                            "token_col": "n_chars",
                            "max_epochs_ppm": 2_000_000,
                        },
                    },
                ],
            },
        ],
        "output_specs": [
            {"spec_id": "out", "input_id": "curated", "data_format": "dataframe"}
        ],
    }
    t0 = time.time()
    res = load_data(acon)
    rows = res["out"].collect()
    dt = time.time() - t0
    avail = {r["lang"]: r["available"] for r in rows}
    print(
        f"[curation_pipeline_100k] {n} docs through the 7-stage composed "
        f"chain in {dt:.1f}s; per-lang available tokens: {avail}"
    )


@probe(9)
def probe_kmeans_knee(spark):
    """embedding_kmeans at 200k x 256-dim vectors, k in {64, 256, 1024,
    4096}: locates the knee where the Arrow kernel's per-batch (batch x
    k) int64 distance tensor starts to dominate the scan (the
    SemDeDup-realistic coarse-quantizer regime)."""
    big = _knee_corpus(spark)
    n = big.count()
    for k in (64, 256, 1024, 4096):
        op = t("embedding_kmeans", k=k, iterations=1)
        t0 = time.time()
        big.transform(op).count()
        print(f"[kmeans_knee] {n} x 256 dims, k={k}: {time.time() - t0:.1f}s")


# --------------------------------------------------------------- round 10


@probe(10)
def probe_kmeans_hier_widek(spark):
    """embedding_kmeans_hier over the kmeans_knee corpus, effective k in
    {32768 = 256x128, 65536 = 256x256}: the regime the flat trainer's
    MAX_K=4096 cap points at. Per-batch assignment work is rows x k_fine
    (not rows x k_eff), so the wide-k runs stay inside the same Arrow
    kernel budget the knee probe mapped; driver control state is
    sum(cell sub-centroids) x dim int64 (~67 MB at 32k x 256)."""
    big = _knee_corpus(spark)
    n = big.count()
    for k1, k2 in ((256, 128), (256, 256)):
        op = t("embedding_kmeans_hier", k_coarse=k1, k_fine=k2,
               coarse_iterations=1, fine_iterations=1)
        t0 = time.time()
        out = big.transform(op)
        n_clusters = out.select("cluster").distinct().count()
        print(
            f"[kmeans_hier_widek] {n} x 256 dims, k_eff={k1 * k2} "
            f"({k1}x{k2}): {time.time() - t0:.1f}s, "
            f"{n_clusters} non-empty clusters"
        )


# --------------------------------------------------------------- round 11


@probe(11)
def probe_semantic_hier_widek(spark):
    """dedup_semantic_hier over the kmeans_knee corpus at k_eff = 32768
    (256x128): SemDeDup at the cluster count web-scale runs use, which
    the flat arm (dedup_semantic_centroid, capped at MAX_K=4096) cannot
    reach. Expected cell size ~ N/k_eff ~ 6, so the in-cell pair join's
    sum(cell^2) term is tiny and the hier trainer dominates."""
    big = _knee_corpus(spark)
    n = big.count()
    k1, k2 = 256, 128
    op = t(
        "dedup_semantic_hier",
        threshold=0.95,
        k_coarse=k1,
        k_fine=k2,
        coarse_iterations=1,
        fine_iterations=1,
        keep="all",
        dim=256,
    )
    t0 = time.time()
    out = big.transform(op)
    dups = out.filter("is_duplicate").count()
    kept = n - dups
    print(
        f"[semantic_hier_widek] {n} x 256 dims, k_eff={k1 * k2} "
        f"({k1}x{k2}), threshold=0.95: {time.time() - t0:.1f}s, "
        f"{dups} duplicates dropped, {kept} kept"
    )


@probe(11)
def probe_incremental_embedding_runs(spark):
    """dedup_incremental_embedding over three consecutive 100k x 64-dim
    deliveries against one persistent bucket-hash state: per-run cost
    must stay flat (state is hashes-only — num_tables strings per kept
    vector — so run N's history semi-join scales with kept-corpus size,
    not with N), and the state parts stay compacted."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    state = "/tmp/probe_incemb_state"
    shutil.rmtree(state, ignore_errors=True)
    for run in range(3):
        # each delivery: 100k 64-dim vectors, half fresh, half near-dups
        # of the PREVIOUS delivery (shifted ids, jittered values)
        big = (
            emb.crossJoin(spark.range(100).withColumnRenamed("id", "__c"))
            .select(
                (
                    F.col("vec_id") * 1000 + F.col("__c") * 10 + run
                ).alias("vec_id"),
                F.transform(
                    "embedding",
                    lambda x: x * (1.0 + 0.0001 * run) + F.col("__c") * 0.01,
                ).alias("embedding"),
            )
            .repartition(32)
        )
        loc = f"/tmp/probe_incemb_run{run}"
        big.write.mode("overwrite").parquet(loc)
        delivery = spark.read.parquet(loc)
        n = delivery.count()
        op = t(
            "dedup_incremental_embedding",
            state_location=state,
            threshold=0.98,
            num_planes=12,
            num_tables=4,
            dim=64,
            compact_after_files=8,
            # this synthetic corpus is 2000 true directions x 100 jittered
            # copies — hot buckets are the POINT of the cap: at the default
            # 10k cap a degenerate bucket still yields 50M pairs; 2000 keeps
            # the pair budget ~2M/bucket (the production tuning rule: cap^2/2
            # x hot-bucket-count must fit the shuffle budget)
            max_bucket_size=2000,
        )
        t0 = time.time()
        kept = delivery.transform(op).count()
        state_rows = spark.read.parquet(state).count()
        parts = len(
            [p for p in os.listdir(state) if p.startswith("part-")]
        )
        print(
            f"[incremental_embedding_runs] run {run}: {n} x 64 dims in "
            f"{time.time() - t0:.1f}s, kept {kept}, state {state_rows} "
            f"hashes / {parts} parts"
        )


@probe(11)
def probe_linear_fit_10m(spark):
    """linear_fit_normal over 10M rows x 3 features in 32 groups — the
    trainer must stay SCAN-BOUND (one map-side-combined decimal-moment
    pass; the Cramer solve is a projection on 32 rows). Compare against a
    plain count() of the same generated input: the fit should cost ~the
    scan, not a multiple."""
    rows = 10_000_000
    base = (
        spark.range(rows)
        .select(
            (F.col("id") % 32).alias("g"),
            (F.col("id") % 1013).cast("double").alias("x1"),
            ((F.col("id") * 7) % 997).cast("double").alias("x2"),
            ((F.col("id") * 13) % 1009).cast("double").alias("x3"),
        )
        .withColumn(
            "y",
            2.0 + 3.0 * F.col("x1") - 1.5 * F.col("x2") + 0.25 * F.col("x3"),
        )
    )
    t0 = time.time()
    base.count()
    scan = time.time() - t0
    t0 = time.time()
    out = base.transform(
        t(
            "linear_fit_normal",
            feature_cols=["x1", "x2", "x3"],
            y_col="y",
            group_cols=["g"],
        )
    ).collect()
    fit = time.time() - t0
    ok = all(abs(r["w1"] - 3.0) < 1e-6 and abs(r["r2"] - 1.0) < 1e-9 for r in out)
    print(
        f"linear_fit_10m: scan {scan:.1f}s fit {fit:.1f}s "
        f"({len(out)} groups, exact-recovery={ok})"
    )


@probe(11)
def probe_winnow_long_docs(spark):
    """text_winnow_fingerprint over 20k synthetic ~2000-char docs (40M
    chars, ~40M grams) — per-doc cost must stay linear in length x window
    (the staged hash-array projection; the un-staged form was O(len^2)
    and measured pathological). Reports wall + selected-fingerprint count
    (~1/window of grams)."""
    docs = (
        spark.range(20_000)
        .select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ",
                F.transform(
                    F.sequence(F.lit(1), F.lit(300)),
                    lambda i: F.concat(
                        F.lit("w"),
                        ((F.col("id") * 31 + i * 17) % 5000).cast("string"),
                    ),
                ),
            ).alias("text"),
        )
    )
    t0 = time.time()
    n = docs.transform(t("text_winnow_fingerprint", k=5, window=4)).count()
    wall = time.time() - t0
    print(f"winnow_long_docs: {wall:.1f}s for 20k x ~2k chars -> {n} fingerprints")


@probe(11)
def probe_streaming_pattern_1m(spark):
    """streaming_event_pattern over 1M events / 10k keys delivered as two
    availableNow micro-batches — per-key state is O(max_span) and
    per-batch work is one pandas sort + regex per key, so wall should
    track event volume, not state size. Reports per-run wall + the final
    match totals."""
    types = ["view", "click", "purchase", "error"]

    def half(h):
        return spark.range(500_000).select(
            (F.col("id") % 10_000).alias("user_id"),
            F.timestamp_seconds(
                F.lit(1_700_000_000) + h * 500_000 + F.col("id")
            ).cast("timestamp_ntz").alias("ts"),
            (F.col("id") + h * 500_000).alias("event_id"),
            F.element_at(
                F.array(*[F.lit(x) for x in types]),
                # vary per user-step: id%10000 is the user, id//10000
                # the step — a pure id*k%4 is constant per user
                (
                    (F.col("id") % 10_000 + (F.col("id") / 10_000).cast("long"))
                    % 4 + 1
                ).cast("int"),
            ).alias("event_type"),
        )

    def report(res, t0):
        wall = time.time() - t0
        latest = res.groupBy("user_id").agg(F.max("seq_len").alias("m"))
        total = (
            res.join(latest, ["user_id"])
            .filter(F.col("seq_len") == F.col("m"))
            .agg(F.sum("n_matches"))
            .first()[0]
        )
        print(
            f"streaming_pattern_1m: {wall:.1f}s for 1M events / 10k keys "
            f"(2 micro-batches) -> {total} total matches"
        )

    op = t(
        "streaming_event_pattern",
        on=["user_id"],
        symbols={"view": "v", "click": "c", "purchase": "p", "error": "e"},
        pattern="vc*p",
        max_span=20,
        tiebreak_col="event_id",
    )
    _stream_1m(
        spark,
        "user_id BIGINT, ts TIMESTAMP_NTZ, event_id BIGINT, event_type STRING",
        half, op, report,
    )


# --------------------------------------------------------------- round 12

SHARED = (
    "this shared boilerplate disclaimer paragraph appears in every "
    "document of the corpus and must dedup to one surviving copy"
)


@probe(12)
def probe_paragraph_dedup_10x(spark):
    """text_paragraph_dedup over the 50k-doc _docs_10x corpus, with dp147's
    3-paragraph staging and a corpus-wide shared boilerplate middle.
    Signatures stay a projection (per-paragraph codegen folds); the only
    shuffles are the band bucket-min, the dup semi-join and the per-doc
    reassembly, so wall should scale ~linearly with paragraphs."""
    big = _docs_10x(spark)
    n = big.count()
    staged = big.withColumn(
        "text",
        F.concat(
            F.substring("text", 1, 50),
            F.lit("\n" + SHARED + "\n"),
            F.substring("text", 51, 100000),
        ),
    )
    t0 = time.time()
    out = staged.transform(t("text_paragraph_dedup"))
    agg = out.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_paragraphs").alias("paras"),
        F.sum("n_kept").alias("kept"),
    ).collect()[0]
    print(
        f"[paragraph_dedup_10x] {n} docs / {agg['paras']} paragraphs in "
        f"{time.time() - t0:.1f}s; {agg['kept']} paragraphs kept "
        f"({agg['paras'] - agg['kept']} boilerplate copies dropped)"
    )


@probe(12)
def probe_winnow_cross_10x(spark):
    """text_winnow_cross_overlap screening 50k main docs against a
    2k-excerpt reference (both 10x dp148's shape), at dp148's cap (50)
    AND at 10x the cap (500): fingerprint doc-frequency scales with
    corpus size, so a fixed cap silently reclassifies detection-carrying
    fingerprints as boilerplate at 10x — the production tuning rule this
    probe quantifies is cap ∝ expected per-phrase doc frequency, with the
    pair budget bounded by cap_main x cap_ref per hot fingerprint either
    way."""
    big = _docs_10x(spark)
    n = big.count()
    ref = big.filter("doc_id % 25 = 0").select(
        "doc_id", F.substring("text", 20, 120).alias("text")
    )
    nref = ref.count()
    for cap in (50, 500):
        t0 = time.time()
        out = big.transform(
            t(
                "text_winnow_cross_overlap",
                other_df=ref,
                min_shared=3,
                max_bucket_size=cap,
            )
        )
        pairs = out.count()
        print(
            f"[winnow_cross_10x] cap={cap}: {n} main docs x {nref} "
            f"reference excerpts in {time.time() - t0:.1f}s; "
            f"{pairs} overlap pairs"
        )


@probe(12)
def probe_streaming_topk_1m(spark):
    """streaming_topk_score over 1M scored events / 10k keys in two
    availableNow micro-batches: per-key state is the k (score, id)
    pairs, per-batch work one dict merge + sort per key — wall should
    track event volume. Emission volume = 10k keys x k x batches."""

    def half(h):
        return spark.range(500_000).select(
            (F.col("id") % 10_000).alias("src_key"),
            (F.col("id") + h * 500_000).alias("id"),
            ((F.col("id") * 2654435761) % 1_000_003).cast("double").alias("v"),
        )

    def report(res, t0):
        n = res.count()
        print(
            f"[streaming_topk_1m] 1M events / 10k keys, k=5: "
            f"{time.time() - t0:.1f}s end-to-end, {n} snapshot rows"
        )

    op = t("streaming_topk_score", on=["src_key"], id_col="id", score_col="v", k=5)
    _stream_1m(spark, "src_key BIGINT, id BIGINT, v DOUBLE", half, op, report)


# --------------------------------------------------------------- round 13


@probe(13)
def probe_quality_buckets_10x(spark):
    """quality_bucket_split (dp149) AND the streaming_quality_buckets
    batch arm (dp152) over the 50k-doc _docs_10x corpus. Both are
    histogram-shaped: one map-side-combined aggregate over (group,
    score), a cumulative window over DISTINCT grid values, and (for
    dp149) a broadcast attach — wall should track corpus volume while
    the tier table stays grid-sized."""
    big = _docs_10x(spark)
    n = big.count()
    t0 = time.time()
    tagged = big.transform(
        t("quality_bucket_split", score_col="n_chars", buckets=QUALITY_BUCKETS,
          group_cols=["lang"])
    )
    dist = tagged.groupBy("bucket").count().collect()
    t1 = time.time() - t0
    t0 = time.time()
    table = big.transform(
        t("streaming_quality_buckets", on=["lang"], score_col="n_chars",
          buckets=QUALITY_BUCKETS)
    )
    grid = table.count()
    t2 = time.time() - t0
    print(
        f"[quality_buckets_10x] {n} docs: attach (dp149) {t1:.1f}s "
        f"{sorted((r['bucket'], r['count']) for r in dist)}; "
        f"tier table (dp152 batch arm) {t2:.1f}s, grid={grid} rows "
        f"(state bound per group = distinct scores, not corpus size)"
    )


@probe(13)
def probe_ccnet_10x(spark):
    """The full q33 chain (text_lm_score → persist → quality_bucket_split
    → mixture_sample) over the 50k-doc _docs_10x corpus: the persist
    splice should hold the lm-score chain to ONE corpus pass however
    many downstream consumers read it."""
    big = _docs_10x(spark)
    n = big.count()
    t0 = time.time()
    out = (
        big.transform(t("text_lm_score", top_v=500))
        .persist()
        .transform(
            t("quality_bucket_split", score_col="avg_logprob",
              buckets=QUALITY_BUCKETS, group_cols=["lang"])
        )
        .transform(
            t("mixture_sample", group_col="bucket", id_col="doc_id",
              weights={"head": 1.0, "middle": 0.5, "tail": 0.1})
        )
    )
    kept = out.count()
    print(
        f"[ccnet_10x] {n} docs scored+tiered+downsampled in "
        f"{time.time() - t0:.1f}s; {kept} docs kept"
    )


@probe(13)
def probe_char_entropy_10x(spark):
    """text_char_entropy (dp151) over the 50k-doc _docs_10x corpus: two
    keyed map-side-combined aggregations over exploded characters; wall
    should track total characters."""
    big = _docs_10x(spark)
    n = big.count()
    t0 = time.time()
    out = big.transform(t("text_char_entropy"))
    agg = out.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_chars_counted").alias("chars"),
    ).collect()[0]
    print(
        f"[char_entropy_10x] {n} docs / {agg['chars']} chars in "
        f"{time.time() - t0:.1f}s"
    )


@probe(13)
def probe_streaming_quality_buckets_1m(spark):
    """The dp152 STREAMING arm over 1M scored events / 100 groups x a
    997-value per-group grid in two availableNow micro-batches: per-group
    state is the (score → count) map (O(grid)), per-batch work one dict
    merge + sort per group. Emission volume = groups x grid x batches
    (~200k snapshot rows)."""

    def half(h):
        return spark.range(500_000).select(
            (F.col("id") % 100).alias("grp"),
            # 997-value grid (prime, coprime with the group modulus, so
            # EVERY group sees the full grid — the bounded-grid
            # contract's worst in-contract case)
            (((F.col("id") + h * 500_000) * 2654435761) % 997)
            .cast("double").alias("v"),
        )

    def report(res, t0):
        n = res.count()
        print(
            f"[streaming_quality_buckets_1m] 1M events / 100 groups x "
            f"997-value per-group grid in {time.time() - t0:.1f}s "
            f"end-to-end, {n} snapshot rows"
        )

    op = t("streaming_quality_buckets", on=["grp"], score_col="v",
           buckets=QUALITY_BUCKETS)
    _stream_1m(spark, "grp BIGINT, v DOUBLE", half, op, report)


def _emb_10x(spark):
    """20k vectors: sf0.1 embeddings x10 with distinct ids and a
    copy-specific deterministic perturbation (distinct directions, so
    ANN candidate structure is real rather than 10 exact clones)."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    big = (
        emb.crossJoin(spark.range(10).withColumnRenamed("id", "__c"))
        .select(
            (F.col("vec_id") * 10 + F.col("__c")).alias("vec_id"),
            F.expr(
                "transform(embedding, (x, i) -> CAST(x + 0.01 * __c * "
                "CASE WHEN i % 2 = 0 THEN 1 ELSE -1 END AS FLOAT))"
            ).alias("embedding"),
        )
        .repartition(32)
    )
    loc = "/tmp/probe_emb10x"
    big.write.mode("overwrite").parquet(loc)
    return spark.read.parquet(loc)


@probe(13)
def probe_ann_rerank_10x(spark):
    """knn_pq_refine and knn_mmr_rerank over a 20k-vector corpus, 100
    queries: the ADC/relevance scans dominate (one corpus pass each),
    the gather stays a broadcast semi-join of 100 x shortlist ids, and
    the re-rank windows/greedy groups stay shortlist-sized — wall
    should track corpus volume, emission stays queries x k."""
    big = _emb_10x(spark)
    n = big.count()
    t0 = time.time()
    ref = big.transform(
        t("knn_pq_refine", k=5, shortlist=20, m=4, num_codes=16,
          query_filter="vec_id < 100")
    )
    nr = ref.count()
    t1 = time.time() - t0
    t0 = time.time()
    mmr = big.transform(
        t("knn_mmr_rerank", k=5, shortlist=20, lam_permille=300,
          query_filter="vec_id < 100")
    )
    nm = mmr.count()
    t2 = time.time() - t0
    print(
        f"[ann_rerank_10x] {n} vectors / 100 queries: pq_refine "
        f"{t1:.1f}s ({nr} rows), mmr_rerank {t2:.1f}s ({nm} rows)"
    )


@probe(13)
def probe_merge_fallback_1m(spark):
    """The parquet merge fallback is O(target) by design (full
    join-rewrite + atomic swap — real Delta touches only matched files).
    This probe puts a number on that trade at 1M target rows / 10k-row
    delta, measured end-to-end through the public load_data merge path
    (WriterLock engaged), so the degraded-runtime cost model in
    BASELINE.md is a measurement, not an estimate."""
    from lakehouse_engine_spark import load_data

    base = tempfile.mkdtemp(prefix="probe_merge_")
    tgt = os.path.join(base, "tgt")
    try:
        (
            spark.range(1_000_000)
            .select(
                F.col("id").alias("k"),
                (F.col("id") % 97).alias("v"),
                F.lit("base").alias("src"),
            )
            .repartition(32)
            .write.parquet(tgt)
        )
        delta = spark.range(10_000).select(
            (F.col("id") * 100).alias("k"),
            F.lit(-1).cast("long").alias("v"),
            F.lit("delta").alias("src"),
        )
        t0 = time.time()
        load_data(
            {
                "input_specs": [
                    {"spec_id": "new", "data_format": "dataframe",
                     "df_name": delta}
                ],
                "output_specs": [
                    {"spec_id": "o", "input_id": "new",
                     "data_format": "parquet", "location": tgt,
                     "write_type": "merge",
                     "merge_opts": {
                         "merge_predicate": "current.k = new.k"
                     }}
                ],
            }
        )
        dt = time.time() - t0
        got = spark.read.parquet(tgt)
        n = got.count()
        upd = got.filter("src = 'delta'").count()
        print(
            f"[merge_fallback_1m] 1M-row target, 10k-row delta: "
            f"{dt:.1f}s end-to-end (join-rewrite + atomic swap, "
            f"lock engaged); {n} rows after, {upd} updated"
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


def main(argv) -> int:
    if argv == ["--list"]:
        for name, (rnd, _) in PROBES.items():
            print(f"r{rnd:<3} {name}")
        return 0
    unknown = [a for a in argv if a not in PROBES]
    if unknown:
        print(f"unknown probe(s) {unknown}; see --list", file=sys.stderr)
        return 2
    from lakehouse_engine_spark.core.exec_env import ExecEnv

    spark = ExecEnv.get_or_create()
    for name, (_, fn) in PROBES.items():
        if not argv or name in argv:
            fn(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
