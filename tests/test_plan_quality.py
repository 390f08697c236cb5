"""Physical-plan quality gates for the headline queries.

These assert the *shape* that keeps the engine fast at 100 TB: dimension
joins broadcast (no shuffle of the fact side), filters reach the parquet
scan (PushedFilters), and projection pruning reaches ReadSchema. A plan
regression here is a performance bug even when results stay correct.
"""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entry


def _plans(df):
    qe = df._jdf.queryExecution()
    return qe.executedPlan().toString(), qe.toString()


def _executed_nodes(df):
    """Collect ``df``, then ``(class name, node)`` of every node of the
    plan that ran: the final adaptive plan, inside its query stages."""
    df.collect()
    nodes, todo = [], [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        name = node.getClass().getSimpleName()
        nodes.append((name, node))
        if name == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif name.endswith("QueryStageExec"):
            todo.append(node.plan())
        else:
            children = node.children()
            todo.extend(children.apply(i) for i in range(children.size()))
    return nodes


def _count(nodes, kind):
    return sum(kind in name for name, _ in nodes)


def test_three_table_join_broadcasts_dimensions(spark, sf_dir):
    df = entry.queries()["q02_revenue_by_segment"](spark, sf_dir)
    physical, full = _plans(df)
    assert physical.count("BroadcastHashJoin") >= 2, physical[:2000]
    assert "SortMergeJoin" not in physical
    # fact scan reads only the needed lineitem columns
    m = re.search(r"ReadSchema: struct<(l_[^>]*)>", full)
    assert m, full[:2000]
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols <= {"l_orderkey", "l_extendedprice", "l_discount"}


def test_incremental_filter_pushes_down(spark, sf_dir):
    df = entry.queries()["q05_incremental_filter"](spark, sf_dir)
    _, full = _plans(df)
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThan\(l_shipdate", full), full[:2000]


def test_gab_calendar_join_broadcasts(spark, sf_dir):
    df = entry.queries()["q17_gab_weekly_rollup"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "BroadcastNestedLoopJoin" in physical or "BroadcastHashJoin" in physical
    assert "SortMergeJoin" not in physical


def test_gab_quarterly_is_join_free(spark, sf_dir):
    """QUARTER cadence uses the join-free arm of _cadence_join_config:
    bucket bounds are pure date expressions, so the rollup must contain no
    join at all — one scan, one aggregate."""
    df = entry.queries()["q21_gab_quarterly_rollup"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "Join" not in physical, physical[:2000]


def test_gab_snapshot_calendar_join_broadcasts(spark, sf_dir):
    """The snapshot cadence joins the generated calendar dimension — tiny,
    so it must broadcast (never shuffle the orders side)."""
    df = entry.queries()["q22_gab_quarter_month_snapshot"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "BroadcastNestedLoopJoin" in physical or "BroadcastHashJoin" in physical
    assert "SortMergeJoin" not in physical


def test_pricing_summary_prunes_columns(spark, sf_dir):
    df = entry.queries()["q01_pricing_summary"](spark, sf_dir)
    _, full = _plans(df)
    m = re.search(r"ReadSchema: struct<([^\n]*)", full)
    assert m
    # the needed measure columns reach the scan…
    assert "l_quantity" in m.group(1) and "l_extendedprice" in m.group(1)
    # …and the wide unused ones are pruned out (display may truncate, so
    # check the leading, untruncated portion)
    head = m.group(1)[:80]
    assert "l_comment" not in head and "l_orderkey" not in head


def test_minhash_dedup_no_cartesian(spark, sf_dir):
    """LSH dedup must never degenerate to an all-pairs join: the candidate
    join is an equi-join on the band-bucket key."""
    df = entry.queries()["dp06_dedup_minhash"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "CartesianProduct" not in physical
    assert "BroadcastNestedLoopJoin" not in physical


def test_ngram_jaccard_no_cartesian(spark, sf_dir):
    df = entry.queries()["dp07_dedup_ngram_jaccard"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "CartesianProduct" not in physical
    assert "BroadcastNestedLoopJoin" not in physical


def test_knn_brute_broadcasts_query_side(spark, sf_dir):
    """Brute-force ANN: the small query set broadcasts, the corpus never
    shuffles for the scoring join."""
    df = entry.queries()["dp09_knn_brute"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "BroadcastNestedLoopJoin" in physical or "BroadcastHashJoin" in physical
    assert "CartesianProduct" not in physical


def test_text_ops_are_pure_projections(spark, sf_dir):
    """Token counting / quality scoring / langid must not shuffle: one scan,
    no Exchange other than possibly the final agg in the query wrapper."""
    df = entry.queries()["dp03_token_count"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "Exchange" not in physical, physical[:1500]


def test_hash_sampling_pushes_scan_pruning(spark, sf_dir):
    """Deterministic hash sample is a filter projection — no shuffle."""
    df = entry.queries()["dp15_hash_sample"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "Exchange" not in physical, physical[:1500]


def test_events_hourly_distinct_agg_shape(spark, sf_dir):
    """Hourly rollup with count(distinct user): the optimal Spark shape is
    the two-phase distinct aggregate — partial per (key, user) → merge —
    i.e. exactly two hash exchanges, both preceded by map-side partials."""
    df = entry.queries()["q15_events_hourly"](spark, sf_dir)
    physical, _ = _plans(df)
    assert physical.count("Exchange hashpartitioning") == 2, physical[:2000]
    assert "partial_count" in physical  # map-side combine present


def test_range_join_no_nested_loop(spark, sf_dir):
    """The bucketed range join must compile to an equi-join (SMJ/BHJ), never
    a BroadcastNestedLoopJoin/CartesianProduct."""
    df = entry.queries()["dp17_range_join"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "BroadcastNestedLoopJoin" not in physical
    assert "CartesianProduct" not in physical


def test_join_transformer_broadcasts(spark, sf_dir):
    df = entry.queries()["q19_join_transformer"](spark, sf_dir)
    physical, _ = _plans(df)
    assert physical.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in physical


def test_decontaminate_broadcasts_benchmark(spark, sf_dir):
    """The benchmark n-gram probe must broadcast — corpus n-grams are never
    shuffled for the join (only the per-doc hit count aggregates)."""
    df = entry.queries()["dp23_decontaminate"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "BroadcastHashJoin" in physical, physical[:2000]
    assert "SortMergeJoin" not in physical


def test_decontaminate_bloom_probe_is_joinless(spark, sf_dir):
    """The bloom probe must reach the corpus with NO join of any kind —
    the bitmap rides as a shared binary literal inside expressions, never
    as a row column or a joined relation. The only join allowed anywhere
    is the final per-doc hit-count attach."""
    df = entry.queries()["dp102_decontaminate_bloom"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "BroadcastNestedLoopJoin" not in physical, physical[:2000]
    assert "SortMergeJoin" not in physical
    assert physical.count("BroadcastHashJoin") <= 1


def test_zorder_layout_single_range_exchange(spark, sf_dir):
    """Z-order layout must be: one broadcast of the 1-row min/max stats +
    exactly one rangepartitioning exchange on the key — no hash shuffle of
    the data, no sort-merge join."""
    df = entry.queries()["dp103_zorder_layout"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "BroadcastNestedLoopJoin" in physical, physical[:2000]
    assert "SortMergeJoin" not in physical
    assert physical.count("rangepartitioning") >= 1, physical[:2000]
    assert "hashpartitioning" not in physical, physical[:2000]


def test_round6_new_ops_join_shapes(spark, sf_dir):
    """dp104/106/107/108: no sort-merge join anywhere; broadcast-nested-
    loop only as 1-row stats attaches (profile_skew totals, overlap
    counts); the temperature thresholds attach as ONE broadcast hash
    join."""
    for name, max_bnl in (
        ("dp104_zorder_rank", 0),
        ("dp106_temperature_sample", 0),
        ("dp107_profile_skew", 1),
        ("dp108_corpus_overlap", 2),
    ):
        df = entry.queries()[name](spark, sf_dir)
        physical, _ = _plans(df)
        assert "SortMergeJoin" not in physical, name
        assert physical.count("BroadcastNestedLoopJoin") <= max_bnl, name


def test_vocab_top_k_uses_take_ordered(spark, sf_dir):
    """Corpus top-k must plan as TakeOrderedAndProject (per-partition top-k
    merged on the driver), not a global Sort exchange over the vocabulary."""
    df = entry.queries()["dp24_vocab_top_k"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "TakeOrderedAndProject" in physical, physical[:2000]


def test_embedding_lsh_dedup_no_cartesian(spark, sf_dir):
    """The LSH embedding dedup (dp28) must pair candidates via the
    (table, signature) equi-join — never an all-pairs product — and the
    bucket-cap window must not introduce a nested-loop shape."""
    df = entry.queries()["dp28_embedding_dedup_lsh"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "CartesianProduct" not in physical
    assert "BroadcastNestedLoopJoin" not in physical


def test_embedding_dedup_default_is_lsh_not_all_pairs(spark, sf_dir):
    """dedup_embedding_cosine with DEFAULT args must take the LSH path:
    candidates from the (table, signature) equi-join, never the O(n²)
    all-pairs product. Exact all-pairs stays opt-in via method='exact'
    (~20 min at 200k vectors per BASELINE.md's probe)."""
    from lakehouse_engine_spark.transformers.transformer_factory import (
        TransformerFactory,
    )
    from lakehouse_engine_spark.core.definitions import TransformerSpec

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    fn = TransformerFactory.get_transformer(
        TransformerSpec("dedup_embedding_cosine", {"threshold": 0.9})
    )
    physical, _ = _plans(emb.transform(fn))
    assert "CartesianProduct" not in physical
    assert "BroadcastNestedLoopJoin" not in physical


def test_capped_simhash_no_cartesian(spark, sf_dir):
    df = entry.queries()["dp11_dedup_simhash"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "CartesianProduct" not in physical
    assert "BroadcastNestedLoopJoin" not in physical


def test_image_decode_is_arrow_batched(spark, sf_dir):
    """dp27 runs the decoder through Arrow-batched mapInPandas (one python
    worker pass), not row-at-a-time UDF evaluation."""
    df = entry.queries()["dp27_image_decode"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "MapInPandas" in physical
    assert "BatchEvalPython" not in physical  # the row-at-a-time slow path


def test_constructed_corpus_decode_is_one_python_stage(spark, sf_dir):
    """dp84/dp85/dp86 (r14): payload generation + decode are FUSED into
    one mapInPandas — the synthetic image bytes are born and decoded in
    the same Python task, never crossing the JVM↔Python boundary. The
    plan must contain exactly one Python stage (MapInPandas) and no
    ArrowEvalPython (the pre-r14 separate generation stage); the only
    exchange is the id-spreading repartition, which carries 8-byte ids,
    not payloads."""
    for q in ("dp84_png_decode", "dp85_jpeg_decode", "dp86_gif_decode"):
        df = entry.queries()[q](spark, sf_dir)
        physical, _ = _plans(df)
        assert physical.count("MapInPandas") == 1, (q, physical[:2000])
        assert "ArrowEvalPython" not in physical, (q, physical[:2000])
        assert "BatchEvalPython" not in physical, (q, physical[:2000])


def test_fused_image_meta_equals_operator_route(spark, sf_dir):
    """The fused generate+decode path (_fused_image_meta) must stay
    row-identical to routing the same generated payloads through the
    registered multimodal_image_decode transformer — the decode body is
    shared (multimodal.image_meta_columns), this pins that it stays so."""
    import pandas as pd
    from pyspark.sql import functions as F

    from lakehouse_engine_spark.core.definitions import TransformerSpec
    from lakehouse_engine_spark.datapipes.media_codecs import encode_png
    from lakehouse_engine_spark.transformers.transformer_factory import (
        TransformerFactory,
    )

    def _mk(ids):
        import numpy as np

        payloads = []
        for i in ids:
            i = int(i)
            arr = np.full((3, 2 + i % 3, 3), (i * 31) % 256, dtype=np.uint8)
            payloads.append(encode_png(arr, row_filters=[y % 5 for y in range(3)]))
        return pd.Series(payloads)

    ids = spark.range(0, 40).select(F.col("id").alias("doc_id"))
    fused = entry._fused_image_meta(ids, _mk)

    gen = F.pandas_udf(_mk, "binary")
    op = TransformerFactory.get_transformer(
        TransformerSpec("multimodal_image_decode", {})
    )
    routed = ids.select("doc_id", gen("doc_id").alias("payload")).transform(op)

    assert sorted(map(tuple, fused.collect())) == sorted(
        map(tuple, routed.collect())
    )


def test_text_chunk_is_shuffle_free(spark, sf_dir):
    """Chunking is a pure row expansion (sequence + explode + slice): the
    plan must contain no Exchange and no Python evaluation."""
    df = entry.queries()["dp33_text_chunk"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "Exchange" not in physical, physical[:2000]
    assert "BatchEvalPython" not in physical


def test_audio_decode_is_arrow_batched(spark, sf_dir):
    df = entry.queries()["dp32_audio_decode"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "MapInPandas" in physical
    assert "BatchEvalPython" not in physical


def test_quality_prune_is_pure_projection(spark, sf_dir):
    """All six quality gates (incl. the top-word mode) compute in row space:
    no Exchange, no Python — one codegen'd scan+project."""
    df = entry.queries()["dp34_quality_prune"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "Exchange" not in physical, physical[:2000]
    assert "Python" not in physical


def test_lm_score_broadcasts_vocab(spark, sf_dir):
    """The capped vocabulary (top_v rows) must broadcast onto the token
    stream — the corpus side never shuffles for the probability lookup —
    and the top-v cut must be TakeOrdered, not a global sort."""
    df = entry.queries()["dp35_lm_score"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "BroadcastHashJoin" in physical, physical[:2000]
    assert "TakeOrderedAndProject" in physical
    assert "Python" not in physical


def test_tfidf_broadcasts_doc_freq(spark, sf_dir):
    """The document-frequency side (vocabulary-sized) broadcasts back onto
    the (doc, term) tf pairs; no sort-merge join anywhere."""
    df = entry.queries()["dp36_tfidf_top_terms"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "BroadcastHashJoin" in physical, physical[:2000]
    assert "SortMergeJoin" not in physical


def test_global_shuffle_single_exchange(spark, sf_dir):
    """One hash Exchange on the shard key (the per-shard position window) —
    never a global orderBy funnel (rangepartitioning) or extra shuffles."""
    df = entry.queries()["dp37_global_shuffle"](spark, sf_dir)
    physical, _ = _plans(df)
    assert physical.count("Exchange hashpartitioning") == 1, physical[:2000]
    assert "rangepartitioning" not in physical


def test_embedding_quantize_is_pure_projection(spark, sf_dir):
    """Normalize + quantize are index-order array folds in row space: no
    Exchange, no Python worker."""
    df = entry.queries()["dp38_embedding_quantize"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "Exchange" not in physical, physical[:2000]
    assert "Python" not in physical


def test_cross_dedup_joins_on_digest_only(spark, sf_dir):
    """The reference side reduces to distinct md5 digests before the join —
    the join key is the 32-char digest."""
    from lakehouse_engine_spark.datapipes.dedup import dedup_cross_exact
    from lakehouse_engine_spark.utils.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    ref = docs.filter("doc_id % 3 = 0")
    out = docs.transform(
        dedup_cross_exact(other_df=ref, key_cols=["text"])
    )
    physical, _ = _plans(out)
    assert "LeftAnti" in physical, physical[:2000]


def test_cross_minhash_semi_joins_digests(spark, sf_dir):
    """Reference side must reduce to distinct band digests and the corpus
    probe must be a semi join on the digest — never a pair join carrying
    texts/signatures, never a cartesian."""
    df = entry.queries()["dp40_cross_near_dedup"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "LeftSemi" in physical, physical[:2000]
    assert "BroadcastNestedLoopJoin" not in physical
    assert "CartesianProduct" not in physical


def test_quantile_prune_no_global_sort_of_rows(spark, sf_dir):
    """The threshold comes from the score HISTOGRAM: the only ordering in
    the plan is the window over distinct scores (tiny), never a
    rangepartitioning global sort of the data rows."""
    df = entry.queries()["dp41_quantile_prune"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "rangepartitioning" not in physical, physical[:2000]


def test_cross_embedding_dedup_no_cartesian(spark, sf_dir):
    """Cross-corpus semantic dedup must candidate-generate through the
    (table, signature) bucket equi-join — never BroadcastNestedLoop or
    cartesian main×ref scoring."""
    df = entry.queries()["dp42_cross_embedding_dedup"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "CartesianProduct" not in physical, physical[:2000]
    assert "BroadcastNestedLoopJoin" not in physical


def test_token_budget_sample_broadcasts_thresholds(spark, sf_dir):
    """Pass 1 reduces to one row per group; the threshold side must
    broadcast onto the data pass — never shuffle the corpus for the join."""
    df = entry.queries()["dp46_token_budget_sample"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "BroadcastHashJoin" in physical, physical[:2000]
    assert "SortMergeJoin" not in physical


def test_substring_dedup_no_pairwise_joins(spark, sf_dir):
    """Substring dedup must key everything on digest/(id,pos)/id — never a
    cartesian or nested-loop pair join; the kept-token filter is an anti
    join."""
    df = entry.queries()["dp48_substring_dedup"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "CartesianProduct" not in physical, physical[:2000]
    assert "BroadcastNestedLoopJoin" not in physical
    assert "LeftAnti" in physical


def test_hopping_window_expand_then_partial_agg(spark, sf_dir):
    """Sliding windows must be a codegen'd Expand (each row -> its
    window/slide assignments) feeding map-side partial aggregation — never
    a self-join or range join against a window table."""
    df = entry.queries()["dp50_hopping_window"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "Expand" in physical, physical[:2000]
    assert "Join" not in physical
    # partial aggregation runs below the exchange (map-side combine), so the
    # shuffle carries partial aggregates, not the 4x-amplified rows
    assert physical.index("HashAggregate") < physical.index("Exchange")


def test_winsorize_broadcasts_percentile_bounds(spark, sf_dir):
    """The learned per-group bounds are one row per group — they must
    broadcast back onto the corpus, never shuffle it for the join."""
    df = entry.queries()["dp51_winsorize"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "BroadcastHashJoin" in physical, physical[:2000]
    assert "SortMergeJoin" not in physical


def test_zscore_broadcasts_group_stats(spark, sf_dir):
    df = entry.queries()["dp52_zscore_normalize"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "BroadcastHashJoin" in physical, physical[:2000]
    assert "SortMergeJoin" not in physical


def test_weighted_sample_is_pure_filter(spark, sf_dir):
    """Probability-proportional sampling must stay a codegen'd scan+filter:
    no shuffle, no join, and column pruning reaches the parquet scan."""
    df = entry.queries()["dp53_weighted_sample"](spark, sf_dir)
    physical, full = _plans(df)
    assert "Exchange" not in physical, physical[:2000]
    assert "Join" not in physical
    m = re.search(r"ReadSchema: struct<([^>]*)>", full)
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols <= {"doc_id", "lang", "n_chars"}


def test_trailing_window_single_shuffle_sort(spark, sf_dir):
    """Trailing RANGE metrics = one hash shuffle on the keys + per-key
    sort — never a time self-join (no Join operator in the plan)."""
    df = entry.queries()["dp54_trailing_window"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "Join" not in physical, physical[:2000]
    assert physical.count("Exchange") == 1
    assert "Window" in physical


def test_funnel_single_exchange_stacked_windows(spark, sf_dir):
    """The k-stage funnel must evaluate all stage minima over ONE user_id
    exchange (stacked Window operators) — never a per-stage join chain."""
    df = entry.queries()["dp55_funnel"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "Join" not in physical, physical[:2000]
    # one exchange for the window partitioning + one for the distinct
    assert physical.count("Exchange") <= 3


def test_robust_scale_broadcasts_both_stat_passes(spark, sf_dir):
    """Median and MAD are one row per group — both must broadcast back onto
    the corpus (two BroadcastHashJoins, zero corpus shuffles)."""
    df = entry.queries()["dp57_robust_scale"](spark, sf_dir)
    physical, _ = _plans(df)
    assert physical.count("BroadcastHashJoin") >= 2, physical[:2000]
    assert "SortMergeJoin" not in physical


def test_quantile_summary_single_aggregation(spark, sf_dir):
    """All probs come from one (partial+final) aggregation pass — never one
    agg per percentile; the scan reads only the grouped/valued columns."""
    df = entry.queries()["dp58_quantile_summary"](spark, sf_dir)
    physical, full = _plans(df)
    assert physical.count("Exchange") <= 1, physical[:2000]
    assert "Join" not in physical
    m = re.search(r"ReadSchema: struct<([^>]*)>", full)
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols <= {"event_type", "value"}


def test_event_pivot_no_discovery_scan(spark, sf_dir):
    """Explicit pivot values: the plan has exactly the two pivot
    aggregations and NO extra distinct-collect job (a values-less pivot
    adds one); scan pruned to the pivot/key/value columns."""
    df = entry.queries()["dp59_event_pivot"](spark, sf_dir)
    physical, full = _plans(df)
    assert "pivotfirst" in physical
    assert physical.count("Exchange") <= 2, physical[:2000]
    m = re.search(r"ReadSchema: struct<([^>]*)>", full)
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols <= {"user_id", "event_type", "value"}


def test_salted_join_partitions_on_salt(spark, sf_dir):
    """With broadcast disabled, the salted join must exchange on
    (key, __salt) — the hot key spreads over salt partitions — and never
    fall back to a nested-loop join."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = entry.queries()["dp60_salted_join"](spark, sf_dir)
        physical, _ = _plans(df)
        assert "__salt" in physical
        assert "BroadcastNestedLoopJoin" not in physical
        assert "CartesianProduct" not in physical
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_cluster_sample_ids_only_window(spark, sf_dir):
    """The sqrt-cap window sorts only (id, bucket) rows — the embedding
    arrays must NOT travel through the window sort (they re-attach via the
    final join)."""
    df = entry.queries()["dp62_cluster_sample"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "CartesianProduct" not in physical
    assert "BroadcastNestedLoopJoin" not in physical
    # the Window operator's child must not carry the embedding column
    win = physical[physical.index("Window") :]
    seg = win[: win.index("Exchange")] if "Exchange" in win else win[:600]
    assert "embedding" not in seg, seg


def test_cdc_chunk_is_shuffle_free(spark, sf_dir):
    """Content-defined chunking is a pure row-space expansion: no Exchange,
    no Join, no Python — boundary hashing + slicing all in codegen'd array
    expressions."""
    df = entry.queries()["dp63_cdc_chunk"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "Exchange" not in physical, physical[:2000]
    assert "Join" not in physical
    assert "Python" not in physical


def test_ewma_single_shuffle_sorted_partitions(spark, sf_dir):
    """Batch EWMA: pre-agg exchange + ONE key repartition with an intra-
    partition sort feeding mapInPandas — never a per-key grouped-map plan,
    never a global sort."""
    df = entry.queries()["dp64_ewma_anomaly"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "MapInPandas" in physical
    assert "FlatMapGroupsInPandas" not in physical
    assert physical.count("Exchange") <= 3, physical[:2000]
    # intra-partition sort only: Sort prints "], false, 0" when global=false
    assert "Sort [" in physical and ", false, 0" in physical, physical[:2000]
    assert ", true, 0" not in physical  # no global sort


def test_rollup_single_expand_aggregation(spark, sf_dir):
    """ROLLUP compiles to one Expand + aggregation over broadcast dims —
    not a union of three separate aggregation jobs."""
    df = entry.queries()["q23_rollup_grouping_sets"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "Expand" in physical
    assert "Union" not in physical
    assert physical.count("BroadcastHashJoin") >= 2, physical[:2000]


def test_fuzzy_join_is_banded_equi_join(spark, sf_dir):
    """Blocking keeps the fuzzy join an equi-join on (block, band): no
    CartesianProduct / BroadcastNestedLoopJoin even with the levenshtein
    residual; the distance DP runs post-join on candidates only."""
    df = entry.queries()["dp65_fuzzy_join"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "CartesianProduct" not in physical, physical[:2000]
    assert "BroadcastNestedLoopJoin" not in physical
    assert "__band" in physical
    assert "levenshtein" in physical


def test_scd2_single_exchange_stacked_windows(spark, sf_dir):
    """lag-filter-lead must stack on ONE user_id exchange after the
    dedup agg — no self-joins, no extra shuffle for the second window."""
    df = entry.queries()["dp66_scd2_build"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "Join" not in physical, physical[:2000]
    assert physical.count("Exchange") <= 2  # (user,ts) agg + user window


def test_merge_intervals_no_join_two_exchanges(spark, sf_dir):
    """Interval union: stacked windows on one user_id exchange + the span
    aggregate — never a self-join or interval explosion."""
    df = entry.queries()["dp67_merge_intervals"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "Join" not in physical, physical[:2000]
    assert physical.count("Exchange") <= 2


def test_json_props_no_inference_scan(spark, sf_dir):
    """from_json with an explicit schema: a codegen'd parse projection into
    one map-side-combined agg — one exchange, no schema-inference job, no
    Python."""
    df = entry.queries()["dp68_json_props"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "from_json" in physical
    assert physical.count("Exchange") <= 1, physical[:2000]
    assert "Python" not in physical


def test_bpe_encode_broadcasts_dictionary(spark, sf_dir):
    """The word→pieces dictionary must never shuffle the corpus: on these
    corpora the vocabulary fits the literal-map tier, so the WHOLE encode
    (dp69's BPE, dp125's scored unigram) is a shuffle-free projection —
    no join, no Python stage, no Exchange at all (the trainer's merge
    table and the unigram LM are driver-side rows)."""
    for name in ("dp69_bpe_tokenize", "dp125_unigram_encode"):
        df = entry.queries()[name](spark, sf_dir)
        physical, _ = _plans(df)
        assert "ArrowEvalPython" not in physical, (name, physical[:2000])
        assert "BatchEvalPython" not in physical
        assert "Join" not in physical, (name, physical[:2000])
        assert "Exchange" not in physical, (name, physical[:2000])
        assert "CartesianProduct" not in physical


_LADDER_DOCS = [
    (1, "low lower newest widest"),
    (2, "lower lowest new wide low"),
    (3, "widest wide wider zebra"),
    (4, ""),
    (5, None),
    (6, "low low low"),
]


@pytest.fixture(scope="module")
def ladder_encoders(spark):
    """{encoder: (factory args, output column, Python reference
    ``word -> pieces`` or ``word -> (pieces, score)``)} over _LADDER_DOCS."""
    from lakehouse_engine_spark.datapipes import bpe as bpe_mod
    from lakehouse_engine_spark.datapipes.registry import SIMPLE

    docs = spark.createDataFrame(_LADDER_DOCS, "doc_id LONG, text STRING")
    merges = docs.transform(SIMPLE["bpe_train"](num_merges=6))
    byte_merges = docs.transform(SIMPLE["bpe_byte_train"](num_merges=6))
    mlist = [(r["left"], r["right"]) for r in merges.orderBy("rank").collect()]
    blist = [
        (r["left"], r["right"]) for r in byte_merges.orderBy("rank").collect()
    ]
    wp_vocab = ["low", "new", "wid", "##er", "##est", "##e", "##s", "##t"]
    ug_pieces = ["low", "er", "est", "new", "wid", "e", "w", "i", "d", "l", "o"]
    ug = {p: -1000 * (4 - min(len(p), 3)) for p in ug_pieces}
    max_piece = max(len(p) for p in ug)
    wp_df = spark.createDataFrame([(v,) for v in wp_vocab], "piece STRING")
    ug_df = spark.createDataFrame(list(ug.items()), "piece STRING, logp_s LONG")
    return {
        "bpe": (
            {"merges": merges}, "bpe_tokens",
            lambda w: bpe_mod.apply_merges_py(w, mlist),
        ),
        "bpe_byte": (
            {"merges": byte_merges}, "bpe_tokens",
            lambda w: bpe_mod.apply_merges_byte_py(w, blist),
        ),
        "wordpiece": (
            {"vocab": wp_df}, "wp_tokens",
            lambda w: bpe_mod.wordpiece_py(w, set(wp_vocab)),
        ),
        "unigram": (
            {"vocab": ug_df}, "ug_tokens",
            lambda w: bpe_mod.unigram_viterbi_py(w, ug, max_piece),
        ),
    }


@pytest.mark.parametrize("tier", [1, 2, 3, 4])
@pytest.mark.parametrize("encoder", ["bpe", "bpe_byte", "wordpiece", "unigram"])
def test_dictionary_encode_tier_ladder(
    spark, monkeypatch, ladder_encoders, encoder, tier
):
    """One dictionary-encode plan, four attach tiers, four encoders. Each
    tier has its plan shape — 1: literal-map projection (no Join,
    Exchange or Python stage); 2: driver-encoded rows, broadcast join, no
    Python stage; 3: ONE pandas encode over distinct words, broadcast
    join; 4: with auto-broadcast off, a shuffle join and no broadcast
    hint left — and every tier returns the rows of the Python reference
    encoder (so all tiers agree, scores included). Session hygiene: the
    encode leaves no CacheManager entry after ``collect()``."""
    from lakehouse_engine_spark.datapipes import bpe as bpe_mod
    from lakehouse_engine_spark.datapipes import driver_tier
    from lakehouse_engine_spark.datapipes.registry import SIMPLE

    spark.catalog.clearCache()
    args, out, ref = ladder_encoders[encoder]
    if tier >= 2:
        monkeypatch.setattr(bpe_mod, "_LITERAL_MAP_THRESHOLD_ROWS", 0)
    if tier >= 3:
        monkeypatch.setattr(bpe_mod, "_DRIVER_ENCODE_THRESHOLD_ROWS", 0)
    if tier == 4:
        monkeypatch.setattr(driver_tier, "BROADCAST_MAX_ROWS", 0)
    docs = spark.createDataFrame(_LADDER_DOCS, "doc_id LONG, text STRING")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    if tier == 4:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        encoded = docs.transform(SIMPLE[f"{encoder}_encode"](**args))
        physical, _ = _plans(encoded)
        rows = sorted(tuple(r) for r in encoded.collect())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    python_stages = physical.count("ArrowEvalPython")
    if tier == 1:
        assert "Join" not in physical, physical[:2000]
        assert "Exchange" not in physical, physical[:2000]
        assert python_stages == 0, physical[:2000]
    elif tier == 2:
        assert "BroadcastHashJoin" in physical, physical[:2000]
        assert python_stages == 0, physical[:2000]
    elif tier == 3:
        assert "BroadcastHashJoin" in physical, physical[:2000]
        assert "SortMergeJoin [__w" not in physical, physical[:2000]
        assert python_stages == 1, physical[:2000]
    else:
        assert ("SortMergeJoin" in physical) or ("ShuffledHashJoin" in physical), (
            physical[:2000]
        )
        assert "BroadcastHashJoin" not in physical, physical[:2000]

    want = []
    for doc_id, text in _LADDER_DOCS:
        encs = [ref(w) for w in (text or "").split()]
        if encoder == "unigram":
            toks = [p for e in encs for p in e[0]]
            extra = (sum(e[1] for e in encs),)
        else:
            toks = [p for e in encs for p in e]
            extra = ()
        want.append((doc_id, text, toks, len(toks)) + extra)
    assert rows == sorted(want)
    scored = [f"{out}_score_s"] if encoder == "unigram" else []
    assert encoded.columns == ["doc_id", "text", out, f"{out}_n"] + scored
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_semi_anti_join_shapes(spark, sf_dir):
    """EXISTS/NOT EXISTS compile to LeftSemi/LeftAnti hash joins — the
    right side ships only its join key, never a full-row join followed by
    dedup."""
    df = entry.queries()["q24_semi_anti_join"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "LeftSemi" in physical, physical[:2000]
    assert "LeftAnti" in physical
    assert "CartesianProduct" not in physical


def test_tfidf_large_vocab_does_not_broadcast(spark, monkeypatch):
    """The df-side broadcast is SIZE-GATED: above
    driver_tier.BROADCAST_MAX_ROWS (here forced to 0) the op must NOT
    plant a broadcast hint — on 100 TB of web text min_df=1 makes dfreq
    the full distinct-term vocabulary and a forced broadcast OOMs
    executors regardless of autoBroadcastJoinThreshold. With the hint
    gone, Spark's own size stats decide; with auto-broadcast disabled
    (simulating a too-big-to-estimate side) the join degrades to a
    shuffle join, proving no hint survives."""
    from lakehouse_engine_spark.core.definitions import TransformerSpec
    from lakehouse_engine_spark.datapipes import driver_tier
    from lakehouse_engine_spark.transformers.transformer_factory import (
        TransformerFactory,
    )

    df = spark.createDataFrame(
        [(i, f"alpha beta gamma{i} delta word{i % 7}") for i in range(40)],
        "doc_id LONG, text STRING",
    )
    fn = TransformerFactory.get_transformer(
        TransformerSpec("text_tfidf_top_terms", {})
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        with monkeypatch.context() as mp:
            mp.setattr(driver_tier, "BROADCAST_MAX_ROWS", 0)
            out = df.transform(fn)
        physical, _ = _plans(out)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert ("SortMergeJoin" in physical) or ("ShuffledHashJoin" in physical), (
        physical[:2000]
    )
    # and the gate is two-sided: the default auto mode on the same tiny
    # vocab still picks the broadcast plan
    fn_auto = TransformerFactory.get_transformer(
        TransformerSpec("text_tfidf_top_terms", {})
    )
    physical_auto, _ = _plans(df.transform(fn_auto))
    assert "BroadcastHashJoin" in physical_auto, physical_auto[:2000]


def test_bm25_prunes_corpus_by_broadcast_query_vocab(spark, sf_dir):
    """The corpus-side token stream must be pruned by a BROADCAST join on
    the (tiny) query vocabulary BEFORE the only corpus-keyed aggregation —
    shuffled volume is matching tokens, not the corpus. No sort-merge join
    anywhere in the plan."""
    df = entry.queries()["dp83_bm25_topk"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "BroadcastHashJoin" in physical, physical[:2000]
    assert "SortMergeJoin" not in physical, physical[:2000]
    assert "CartesianProduct" not in physical

def test_bm25_large_query_set_does_not_broadcast(spark, monkeypatch):
    """The three query-derived broadcasts in text_bm25_topk (qterms, query
    vocab, per-term dfreq) are SIZE-GATED: with
    driver_tier.BROADCAST_MAX_ROWS forced to 0 every query-side join must
    plan as a shuffle join — the docstring pitches eval-set mining, where
    query sets reach millions and a forced broadcast blows the executors. Values must be identical
    either way (the gate changes the plan, not the scores)."""
    from lakehouse_engine_spark.core.definitions import TransformerSpec
    from lakehouse_engine_spark.datapipes import driver_tier
    from lakehouse_engine_spark.transformers.transformer_factory import (
        TransformerFactory,
    )

    def tf(name, **args):
        return TransformerFactory.get_transformer(TransformerSpec(name, args))

    docs = spark.createDataFrame(
        [(i, f"spark shuffle join table scan row{i % 5}") for i in range(40)],
        "doc_id LONG, text STRING",
    )
    qs = spark.createDataFrame(
        [(1, "shuffle join"), (2, "table scan"), (3, "row0 spark")],
        "query_id LONG, query STRING",
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        with monkeypatch.context() as mp:
            mp.setattr(driver_tier, "BROADCAST_MAX_ROWS", 0)
            out = docs.transform(tf("text_bm25_topk", queries_df=qs, k=3))
        physical, _ = _plans(out)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "BroadcastHashJoin" not in physical, physical[:2000]
    assert ("SortMergeJoin" in physical) or ("ShuffledHashJoin" in physical), (
        physical[:2000]
    )
    # two-sided: pinning broadcast_queries=True restores the broadcast
    # plan and the scores are identical
    pinned = docs.transform(
        tf("text_bm25_topk", queries_df=qs, k=3, broadcast_queries=True)
    )
    physical_b, _ = _plans(pinned)
    assert "BroadcastHashJoin" in physical_b, physical_b[:2000]
    got = sorted(map(tuple, out.collect()))
    want = sorted(map(tuple, pinned.collect()))
    assert got == want

def test_semantic_dedup_broadcast_assignment_equi_pairs_scalar_dot(
    spark, sf_dir, monkeypatch
):
    """dedup_semantic_centroid: assignment must be a BROADCAST centroid
    cross (centroids are a tiny literal table — the corpus is never
    shuffled against them) with the dot product over SCALAR columns
    (array-column element_at chains and per-centroid literal
    mega-expressions both fall out of whole-stage codegen — measured 26 s
    for 40k assignments); the in-cluster pair join must be EQUI-keyed on
    the centroid id (no CartesianProduct — pairing never goes corpus x
    corpus). The assignment runs in the probed ``assigned`` frame, so the
    plans checked are the probe's and the returned one."""
    from lakehouse_engine_spark.datapipes import dedup

    probed = []
    probe = dedup.probe_materialize

    def spy(frame):
        probed.append(_plans(frame)[0])
        return probe(frame)

    monkeypatch.setattr(dedup, "probe_materialize", spy)
    df = entry.queries()["dp97_semantic_dedup"](spark, sf_dir)
    assert len(probed) == 1
    physical = "\n".join(probed + [_plans(df)[0]])
    assert "BroadcastNestedLoopJoin" in physical, physical[:2000]
    assert "CartesianProduct" not in physical, physical[:2000]
    assert ("SortMergeJoin" in physical) or ("ShuffledHashJoin" in physical)
    # scalar expansion reached the plan: the pair dot references __e
    # component columns, not element_at over arrays
    assert "__e0" in physical


def test_semantic_hier_dedup_equi_pairs_scalar_dot_no_cartesian(spark, sf_dir):
    """dedup_semantic_hier: cluster assignment rides the hierarchical
    quantizer's Arrow kernels (joinless per dp130's gate), so the ONLY
    join in the dedup plan should be the in-cell pair join — EQUI-keyed
    on the cell id (no CartesianProduct / BroadcastNestedLoopJoin:
    pairing never goes corpus x corpus), with the verify dot product
    over SCALAR __e columns (the codegen-friendly expansion, same
    rationale as the flat arm's gate)."""
    df = entry.queries()["dp132_semantic_dedup_hier"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "CartesianProduct" not in physical, physical[:2000]
    assert "BroadcastNestedLoopJoin" not in physical, physical[:2000]
    assert ("SortMergeJoin" in physical) or ("ShuffledHashJoin" in physical)
    assert "__e0" in physical


def test_ngram_counts_take_ordered_no_global_sort(spark, sf_dir):
    """text_ngram_counts: the top-k cut must plan as TakeOrderedAndProject
    (per-partition partial top-k merged on the driver), not a global Sort
    exchange over the full n-gram table; the count aggregate must be
    map-side combined (partial_count before the exchange)."""
    df = entry.queries()["dp98_ngram_counts"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "TakeOrderedAndProject" in physical, physical[:2000]
    assert "partial_count" in physical or "partial_" in physical, physical[:2000]


def test_kmeans_assignment_constant_size_plan(spark, sf_dir):
    """embedding_kmeans: the assignment must NOT inline centroid literals
    into the plan — the round-6 formulation re-inlined every k*dim-literal
    distance tree into each of the k argmin branches (O(k^2*dim) nodes,
    78 s of Catalyst analysis for 0.15 s of execution at k=8/dim=64), and
    even the O(k*dim) scalar expansion dies at Janino's 64 KB method
    limit by k=16. The shipped shape is one Arrow-batched vectorized
    projection: plan text stays ~constant in k and centroids ride the
    closure, so analysis cost is flat and there is nothing for codegen
    to blow up. Gate: the plan is ArrowEvalPython + joinless, and its
    size does not grow with k (k=32 within 20% of k=4)."""
    import pyspark.sql.functions as F

    from lakehouse_engine_spark.datapipes import clustering as C

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(64)
    sizes = {}
    for k in (4, 32):
        from lakehouse_engine_spark.transformers.transformer_factory import (
            TransformerFactory,
        )
        from lakehouse_engine_spark.core.definitions import TransformerSpec

        out = TransformerFactory.get_transformer(
            TransformerSpec("embedding_kmeans", {"k": k, "iterations": 0})
        )(emb)
        physical, _ = _plans(out)
        assert "ArrowEvalPython" in physical, physical[:2000]
        for bad in ("Join", "CartesianProduct", "Exchange"):
            assert bad not in physical, (bad, physical[:2000])
        sizes[k] = len(physical)
    assert sizes[32] <= sizes[4] * 1.2, sizes


def test_gopher_rules_single_codegen_pass(spark, sf_dir):
    """text_gopher_rules: ONE shuffle-free projection — no Exchange, no
    Join, no Python workers (the token/line lambdas are JVM higher-order
    functions, which keep the pass single-stage even though HOFs sit
    outside whole-stage codegen)."""
    df = entry.queries()["dp114_gopher_rules"](spark, sf_dir)
    physical, _ = _plans(df)
    for bad in ("Exchange", "Join", "ArrowEvalPython", "BatchEvalPython"):
        assert bad not in physical, (bad, physical[:2000])


def test_group_quantile_prune_broadcasts_threshold_table(spark, sf_dir):
    """dp129 (per-group quantile prune): the groups-sized threshold table
    attaches by ONE broadcast hash join — no sort-merge, no cartesian,
    and no per-row window over the corpus (the cumulative window runs on
    the bounded-grid histogram only)."""
    df = entry.queries()["dp129_group_quantile_prune"](spark, sf_dir)
    physical, _ = _plans(df)
    assert physical.count("BroadcastHashJoin") == 1, physical[:2000]
    for bad in ("SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in physical, (bad, physical[:2000])


def test_prototype_prune_composition_inherits_scale_posture(spark, sf_dir):
    """dp133 (prototypicality pruning = kmeans -> per-cluster quantile
    prune): the composition must keep both constituents' scale shapes —
    the trainer's joinless Arrow assignment (no join shuffles the
    corpus against centroids) and the prune's broadcast threshold
    attach; no cartesian, no sort-merge join, and no per-row window
    over the corpus (the cumulative window runs on the bounded-grid
    distance histogram only)."""
    df = entry.queries()["dp133_prototype_prune"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "BroadcastHashJoin" in physical, physical[:2000]
    for bad in ("SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in physical, (bad, physical[:2000])
    assert "ArrowEvalPython" in physical  # the trainer's assignment kernel


def test_curation_pipeline_composes_scale_correct_plans(spark, sf_dir):
    """q31 (the composed ACON curation chain) must inherit every stage's
    scale posture through composition: no cartesian product anywhere, no
    sort-merge join (the decontamination probe, minhash bucket attach and
    mixture arithmetic all broadcast at these sizes), and the small
    side-tables attach by broadcast hash join."""
    df = entry.queries()["q31_curation_pipeline"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "CartesianProduct" not in physical
    assert "BroadcastNestedLoopJoin" not in physical
    assert "SortMergeJoin" not in physical, physical[:3000]
    assert physical.count("BroadcastHashJoin") >= 4, physical[:3000]


def test_dsir_broadcasts_bucket_table(spark, sf_dir):
    """text_dsir_score: the bucket stats attach to the corpus by
    BROADCAST joins only — the corpus-side shuffles are the bounded
    bucket-count aggregates and the final doc-id aggregate, never a
    corpus x bucket-table sort-merge."""
    df = entry.queries()["dp115_dsir_score"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "BroadcastHashJoin" in physical or "BroadcastNestedLoopJoin" in physical
    assert "CartesianProduct" not in physical
    # exactly two sort-merge joins are legitimate: the bounded
    # bucket-table full-outer (both sides aggregates of <= num_buckets
    # rows) and the final doc-id rejoin (co-keyed corpus join). The
    # corpus-sized exploded gram frame itself must attach its bucket
    # stats by BROADCAST hash join, which the count pins: a third SMJ
    # would mean the scoring join fell back to a shuffle.
    assert physical.count("SortMergeJoin") <= 2, physical[:3000]
    assert "BroadcastHashJoin" in physical, physical[:3000]
    # the single (doc, bucket) aggregate feeds BOTH the source bucket
    # distribution and the per-doc scoring — the gram explode must run
    # ONCE (the regression the round-8 single-aggregate rework exists to
    # prevent). AQE only materializes exchange reuse at runtime, so gate
    # on the FINAL adaptive plan after an action: exactly 2 Generates
    # (source explode + target explode) and the (doc,bucket) exchange
    # deduped by ReusedExchange.
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    final = executed.split("+- == Initial Plan ==")[0]
    assert "isFinalPlan=true" in final, final[:500]
    assert "ReusedExchange" in final, final[:3000]
    assert final.count("Generate") == 2, final[:3000]


def test_pq_ops_joinless_arrow_projection(spark, sf_dir):
    """embedding_pq_encode / knn_pq: the corpus pass is one joinless
    Arrow-batched projection (codebooks/LUTs ride the closure — no
    literal tables in codegen, nothing broadcast-joined against the
    corpus); knn_pq's only exchange is the per-query top-k window."""
    enc = entry.queries()["dp116_pq_encode"](spark, sf_dir)
    physical, _ = _plans(enc)
    assert "ArrowEvalPython" in physical
    for bad in ("Join", "CartesianProduct"):
        assert bad not in physical, (bad, physical[:2000])
    ann = entry.queries()["dp117_knn_pq"](spark, sf_dir)
    physical, _ = _plans(ann)
    # integral ids take the partition-local top-k kernel (MapInPandas);
    # the exploded fallback would show ArrowEvalPython + Generate
    assert "MapInPandas" in physical or "ArrowEvalPython" in physical
    for bad in ("Join", "CartesianProduct"):
        assert bad not in physical, (bad, physical[:2000])
    assert "Window" in physical


def test_frequent_terms_candidate_broadcast_recount(spark, sf_dir):
    """text_frequent_terms pass 2: the corpus token stream is pruned by a
    BROADCAST hash join on the (bounded, <= k rows/partition) candidate
    set — no sort-merge join of the long tail, no cartesian — and the
    exact recount aggregate is map-side combined (partial + final
    HashAggregate pair)."""
    df = entry.queries()["dp123_frequent_terms"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "BroadcastHashJoin" in physical, physical[:2000]
    assert "SortMergeJoin" not in physical, physical[:2000]
    assert "CartesianProduct" not in physical
    assert physical.count("HashAggregate") >= 2, physical[:2000]


def test_connected_components_no_broadcast_of_edges(spark, sf_dir):
    """graph_connected_components: per-round work is min-aggregations and
    node-keyed equi-joins over (node, node) pairs — nothing corpus-sized
    is broadcast (edge tables grow with the graph), and no cartesian
    anywhere in the converged plan."""
    df = entry.queries()["dp121_graph_components"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "CartesianProduct" not in physical


def test_pca_moments_single_arrow_pass(spark, sf_dir):
    """embedding_pca stats mode: ONE Arrow scan (MapInArrow) feeding one
    map-side-combined (i, j) aggregate — no join, no window, nothing
    broadcast; shuffle volume is O(partitions * dim^2)."""
    df = entry.queries()["dp122_pca_moments"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "MapInArrow" in physical, physical[:2000]
    for bad in ("Join", "CartesianProduct", "Window"):
        assert bad not in physical, (bad, physical[:2000])
    assert physical.count("HashAggregate") >= 2, physical[:2000]


def test_word_pmi_broadcast_attach_take_ordered(spark, sf_dir):
    """text_word_pmi: unigram counts are computed only for surviving-pair
    words (broadcast semi-join prune before the count), count attach is
    broadcast, the top-k is TakeOrderedAndProject — no sort-merge join,
    no cartesian (the totals cross join is a broadcast of ONE row), no
    global sort."""
    df = entry.queries()["dp124_word_pmi"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "BroadcastHashJoin" in physical, physical[:2000]
    assert "SortMergeJoin" not in physical, physical[:2000]
    assert "CartesianProduct" not in physical
    assert "TakeOrderedAndProject" in physical, physical[:2000]


def test_hilbert_layout_single_range_exchange(spark, sf_dir):
    """layout_hilbert (dp127): one broadcast stats row + pure-codegen key
    arithmetic + ONE range exchange — same plan shape as layout_zorder;
    no sort-merge join, no cartesian, and exactly one rangepartitioning
    exchange (the write-side layout step)."""
    df = entry.queries()["dp127_hilbert_layout"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "SortMergeJoin" not in physical, physical[:2000]
    assert "CartesianProduct" not in physical
    assert physical.count("rangepartitioning") == 1, physical[:2000]


def test_random_projection_regime_gate(spark):
    """embedding_random_projection's physical regime switch: under the
    65,536-term budget the fold is ONE whole-stage-codegen expression (no
    Python in the plan); past it (768->128 here would be ~100k terms,
    beyond Janino's 64 KB method limit) the plan swaps to a single
    ArrowEvalPython with no unrolled element_at chain — and never a
    shuffle in either regime (pure row-space projection)."""
    from lakehouse_engine_spark.core.definitions import TransformerSpec
    from lakehouse_engine_spark.transformers.transformer_factory import (
        TransformerFactory,
    )

    def t(name, **args):
        return TransformerFactory.get_transformer(TransformerSpec(name, args))

    small = spark.createDataFrame(
        [(1, [float(i) for i in range(16)])],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    physical, _ = _plans(
        small.transform(t("embedding_random_projection", out_dim=4))
    )
    assert "ArrowEvalPython" not in physical, physical[:2000]
    assert "Exchange" not in physical, physical[:2000]
    big = spark.createDataFrame(
        [(1, [float(i) for i in range(768)])],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    physical, _ = _plans(
        big.transform(t("embedding_random_projection", out_dim=128))
    )
    assert "ArrowEvalPython" in physical, physical[:2000]
    assert "element_at" not in physical, physical[:3000]
    assert "Exchange" not in physical, physical[:2000]


def test_q31_persist_knob_collapses_corpus_scans(spark, sf_dir):
    """The composed curation chain's verdict-join stages (minhash,
    decontaminate) each re-derive the upstream corpus when un-persisted
    (documented q31 characteristic, same as the reference's composition).
    The registry's `persist` transformer is the ACON-level knob users
    reach for at 100 TB: inserted after the gopher stage it must collapse
    the executed plan to ONE documents parquet scan on the curated
    branch (vs 3 un-persisted), with the persisted subtree read back as
    InMemoryTableScan."""
    from lakehouse_engine_spark import load_data

    def acon(persist_after_gopher):
        gopher = [
            {"function": "text_gopher_rules",
             "args": {"min_words": 5, "stopwords": ["the", "a"],
                      "min_stopword_hits": 0}},
            {"function": "expression_filter", "args": {"exp": "gopher_keep"}},
        ]
        if persist_after_gopher:
            gopher.append({"function": "persist"})
        return {
            "input_specs": [
                {"spec_id": "docs", "data_format": "parquet",
                 "location": f"{sf_dir}/documents.parquet"}
            ],
            "transform_specs": [
                {"spec_id": "bench", "input_id": "docs", "transformers": [
                    {"function": "expression_filter",
                     "args": {"exp": "doc_id % 50 = 0"}}]},
                {"spec_id": "curated", "input_id": "docs", "transformers": gopher + [
                    {"function": "dedup_minhash_lsh",
                     "args": {"num_hashes": 12, "bands": 4, "shingle_size": 3}},
                    {"function": "text_decontaminate_with",
                     "args": {"benchmark_with": "bench", "ngram": 8,
                              "mode": "drop"}},
                ]},
            ],
            "output_specs": [
                {"spec_id": "out", "input_id": "curated",
                 "data_format": "dataframe"}
            ],
        }

    def corpus_scans(df):
        df.count()
        plan = df._jdf.queryExecution().executedPlan()
        # AdaptiveSparkPlanExec reports ITSELF as a leaf — unwrap to the
        # physical plan it wraps (cache substitution happens before AQE)
        if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            plan = plan.inputPlan()
        # walk the REAL plan tree: cached blocks re-print their child
        # plan in toString (phantom FileScan text), but collectLeaves
        # only yields live leaves (FileSourceScan / InMemoryTableScan)
        leaves = plan.collectLeaves()
        live = 0
        inmem = 0
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            nm = leaf.getClass().getSimpleName()
            if "FileSourceScan" in nm and "documents.parquet" in leaf.toString():
                live += 1
            if "InMemoryTableScan" in nm:
                inmem += 1
        return live, inmem, plan.toString()

    plain_scans, plain_inmem, _ = corpus_scans(load_data(acon(False))["out"])
    pers_scans, pers_inmem, executed = corpus_scans(load_data(acon(True))["out"])
    try:
        # the persisted variant must collapse every post-gopher re-scan of
        # the curated branch into cache reads: only the bench (benchmark)
        # branch still scans the corpus. Pin both counts so a recompute
        # creeping back in (or a new hidden scan) fails loudly.
        assert (plain_scans, plain_inmem) == (5, 0), (
            f"un-persisted: expected 5 live scans / 0 cache reads, saw "
            f"{(plain_scans, plain_inmem)}"
        )
        assert pers_scans < plain_scans and pers_inmem >= 2, (
            f"persisted: expected collapsed scans + cache reads, saw "
            f"{(pers_scans, pers_inmem)}:\n{executed[:3000]}"
        )
        assert (pers_scans, pers_inmem) == (1, 4), (
            f"persisted: pinned (1 live corpus scan [the bench branch], "
            f"4 cache reads [both minhash verdict sides + both "
            f"decontaminate sides]), saw {(pers_scans, pers_inmem)}"
        )
    finally:
        spark.catalog.clearCache()


def test_kmeans_hier_plan_is_join_free_and_bounded(spark, sf_dir):
    """The hierarchical quantizer's final assignment: Arrow-batched
    kernels only — no join anywhere (cell routing happens inside the
    grouped kernel), and the per-round control tables reduce through a
    partial-combine aggregate, so nothing corpus-sized ever converges on
    one node."""
    df = entry.queries()["dp130_kmeans_hier"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "Join" not in physical, physical[:2000]
    assert "ArrowEvalPython" in physical or "PythonUDF" in physical


def test_knn_ivf_hier_broadcasts_cells_no_smj(spark, sf_dir):
    """Two-level IVF: the cell-centroid table and the probe list both
    BROADCAST onto the corpus — a shuffle join on either side would drag
    the whole corpus through an exchange at 100 TB."""
    df = entry.queries()["dp131_knn_ivf_hier"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "SortMergeJoin" not in physical, physical[:2000]
    assert "BroadcastHashJoin" in physical or "BroadcastNestedLoopJoin" in physical


def test_linear_fit_single_pass_no_join(spark, sf_dir):
    """Training is ONE map-side-combined moment aggregation over the
    corpus followed by a constant-size solve projection: the plan must
    contain partial+final HashAggregate, no join of any kind, and no
    global sort — the corpus is scanned exactly once."""
    df = entry.queries()["dp134_linear_fit"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "Join" not in physical, physical[:2000]
    assert "rangepartitioning" not in physical
    assert physical.count("Scan parquet") == 1, physical[:2000]
    assert "HashAggregate" in physical


def test_event_pattern_match_single_key_shuffle(spark, sf_dir):
    """The fold is one aggregation keyed on the user: exactly one
    exchange, no join, no global sort — the regex runs on the folded
    string, never per raw event row."""
    df = entry.queries()["dp135_event_pattern"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "Join" not in physical, physical[:2000]
    assert "rangepartitioning" not in physical
    assert physical.count("Exchange") == 1, physical[:2000]


def test_source_divergence_single_corpus_scan(spark, sf_dir):
    """The corpus feeds ONE (source, token) count; the corpus-wide
    re-agg (and through it the total) and the join probe read that
    count's exchange — so the plan that ran has exactly one parquet scan,
    one token explode and two reused exchanges, no global sort, no
    cartesian (the 1-row total broadcasts)."""
    df = entry.queries()["dp136_source_divergence"](spark, sf_dir)
    nodes = _executed_nodes(df)
    plan = nodes[0][1].toString()
    assert (_count(nodes, "FileSourceScan"), _count(nodes, "Generate")) == (1, 1), plan[:3000]
    assert _count(nodes, "ReusedExchange") == 2, plan[:3000]
    assert _count(nodes, "InMemoryTableScan") == 0, plan[:3000]
    assert "rangepartitioning" not in plan
    assert "CartesianProduct" not in plan


def test_ngram_novelty_digest_equi_joins_only(spark, sf_dir):
    """Grams travel as md5 digests through distinct -> document-frequency
    count -> digest equi-join; never a cartesian/nested-loop pairing and
    never a global sort of the gram table."""
    df = entry.queries()["dp137_ngram_novelty"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "CartesianProduct" not in physical
    assert "BroadcastNestedLoopJoin" not in physical
    assert "rangepartitioning" not in physical


def test_winnow_fingerprint_projection_until_distinct(spark, sf_dir):
    """The gram/hash/winnow pipeline is one codegen projection per doc —
    the ONLY data exchange is the final distinct on the selected
    fingerprints (~1/window of the grams); no join, no global sort. A
    deficit-gated ensure_parallelism round-robin may precede the heavy
    projection on starved local inputs (no-op at production split
    counts)."""
    df = entry.queries()["dp138_winnow_fingerprint"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "Join" not in physical, physical[:2000]
    assert "rangepartitioning" not in physical
    assert physical.count("Exchange hashpartitioning") == 1, physical[:2000]
    assert physical.count("Exchange") <= 2, physical[:2000]


def test_seed_classifier_broadcasts_vocab(spark, sf_dir):
    """The capped vocab table broadcasts onto the scoring pass (the
    text_lm_score posture): the token probe must be a
    BroadcastHashJoin — never a sort-merge on the token key (a
    sort-merge is fine for the vocabulary-sized full-outer class merge
    and the doc-id result attach; raw SMJ counts are unreliable here
    because the persisted vocab's build plan re-prints at every cache
    reference). No cartesian anywhere."""
    df = entry.queries()["dp139_seed_classifier"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "BroadcastHashJoin [__w" in physical, physical[:2000]
    assert not re.search(r"SortMergeJoin \[__w\S*\], \[__w\S*\], LeftOuter", physical), physical[:2000]
    assert "CartesianProduct" not in physical


def test_correlation_matrix_single_pass_no_join(spark, sf_dir):
    """One map-side-combined moment pass + constant-size pair inline:
    no join, no global sort, exactly one corpus scan."""
    df = entry.queries()["dp140_correlation_matrix"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "Join" not in physical, physical[:2000]
    assert "rangepartitioning" not in physical
    assert physical.count("Scan parquet") == 1, physical[:2000]


def test_winnow_overlap_equi_join_on_fingerprint(spark, sf_dir):
    """The pair join must be an equi-join on the fingerprint value over
    distinct (doc, fp) rows — never a cartesian/nested-loop, with the
    LSH family's bucket cap applied before pairing."""
    df = entry.queries()["dp141_winnow_overlap"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "CartesianProduct" not in physical
    assert "BroadcastNestedLoopJoin" not in physical
    assert "rangepartitioning" not in physical


def test_q32_tokenize_pipeline_composition_shapes(spark, sf_dir):
    """The composed tokenize-and-pack ACON keeps each stage's posture:
    the BPE dictionary attaches via broadcast (size-gated), packing
    shuffles only on the shard key — no cartesian, no global sort
    anywhere in the composition."""
    df = entry.queries()["q32_tokenize_pipeline"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "CartesianProduct" not in physical
    assert "rangepartitioning" not in physical, physical[:2000]


def test_paragraph_dedup_no_pair_joins(spark, sf_dir):
    """Paragraph near-dedup uses the bucket-min rule — keyed aggregates
    and semi-join-shaped attaches only, never a pairwise/cartesian join
    and never a global sort."""
    df = entry.queries()["dp147_paragraph_dedup"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "CartesianProduct" not in physical
    assert "BroadcastNestedLoopJoin" not in physical
    assert "rangepartitioning" not in physical


def test_winnow_cross_overlap_fp_equi_join_only(spark, sf_dir):
    """Main x reference pairing is an fp equi-join over distinct (id, fp)
    rows with the union boilerplate cap applied first — no cartesian, no
    nested loop, no global sort."""
    df = entry.queries()["dp148_winnow_cross"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "CartesianProduct" not in physical
    assert "BroadcastNestedLoopJoin" not in physical
    assert "rangepartitioning" not in physical


def test_winnow_cross_overlap_scans_each_side_once(spark, sf_dir):
    """Both fingerprint sets feed the union boilerplate cap AND the pair
    join: both uses read the set's one distinct() exchange, so the
    expensive per-doc winnow projection runs once per side — the plan
    that ran scans the main and the reference corpus once each, explodes
    each side's grams once, and reuses the exchange for the second use
    (a recompute per use was a measured 7x variance lever)."""
    df = entry.queries()["dp148_winnow_cross"](spark, sf_dir)
    nodes = _executed_nodes(df)
    plan = nodes[0][1].toString()
    # one scan and one gram explode per side
    assert (_count(nodes, "FileSourceScan"), _count(nodes, "Generate")) == (2, 2), plan[:3000]
    assert _count(nodes, "ReusedExchange") >= 1, plan[:3000]
    assert _count(nodes, "InMemoryTableScan") == 0, plan[:3000]


def test_quality_bucket_split_broadcasts_tier_table(spark, sf_dir):
    """dp149: the (group, score) -> tier table attaches via a BROADCAST
    join (it is distinct-score-sized, never corpus-sized) and the data
    side is never sort-merge joined; no per-row global sort anywhere —
    the only window runs over the distinct-score histogram."""
    df = entry.queries()["dp149_quality_buckets"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "BroadcastHashJoin" in physical, physical[:2000]
    assert "SortMergeJoin" not in physical, physical[:2000]
    assert "CartesianProduct" not in physical


def test_q33_ccnet_chain_keeps_gated_postures(spark, sf_dir):
    """q33: the composed CCNet ACON keeps every stage's plan posture —
    vocab probe and tier attach broadcast, the tier downsample is a
    filter (no extra shuffle), and no cartesian products appear."""
    df = entry.queries()["q33_ccnet_curation"](spark, sf_dir)
    physical, _ = _plans(df)
    assert physical.count("BroadcastHashJoin") >= 2, physical[:2000]
    assert "CartesianProduct" not in physical


def test_c4_and_script_mix_are_pure_projections(spark, sf_dir):
    """The r13 text screens keep the family's cost class: one scan, no
    Exchange — a shuffle appearing in either is a plan regression."""
    for q in ("dp153_c4_rules", "dp154_script_mix"):
        df = entry.queries()[q](spark, sf_dir)
        physical, _ = _plans(df)
        assert "Exchange" not in physical, (q, physical[:1500])


def test_pq_refine_gather_broadcasts_no_cartesian(spark, sf_dir):
    """knn_pq_refine's gather must broadcast the nq x shortlist id set
    against the corpus scan (no corpus shuffle join) and the query
    vectors; any CartesianProduct or SortMergeJoin on the corpus side
    defeats the two-stage design at scale."""
    df = entry.queries()["dp155_knn_pq_refine"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "CartesianProduct" not in physical, physical[:2000]
    assert "SortMergeJoin" not in physical, physical[:2000]
    assert physical.count("BroadcastHashJoin") >= 2, physical[:2000]


def test_q35_multimodal_curation_plan_gate(spark, sf_dir):
    """q35 (composed multimodal curation ACON): both branches decode in
    Arrow-batched python stages (no per-row Python UDF in the hot path
    besides the Arrow evals), the branch join is hash-based — never a
    CartesianProduct/BroadcastNestedLoopJoin pair blowup — and the final
    report is one aggregation (no per-row window over the corpus)."""
    df = entry.queries()["q35_multimodal_curation"](spark, sf_dir)
    physical, full = _plans(df)
    assert "CartesianProduct" not in physical
    assert "BroadcastNestedLoopJoin" not in physical
    # decode/dedup branches run as Arrow-batched python stages
    assert ("MapInPandas" in physical) or ("ArrowEvalPython" in physical), \
        physical[:2000]
    # the dedup window partitions by the hash key (bounded groups), and
    # the report collapses to one exchange-fed aggregate
    assert "HashAggregate" in physical


def test_gpt2_byte_bpe_dictionary_join_shape(spark, sf_dir):
    """dp159 (gpt2 byte BPE encode): the distinct-pretoken dictionary is
    BROADCAST back onto the corpus (vocabulary-sized under the gate —
    never a corpus shuffle join), the pandas encode runs over the
    distinct table only, and no cartesian/nested-loop appears. The
    pretokenize itself is a pure regexp expression chain (no Python)."""
    df = entry.queries()["dp159_gpt2_bpe"](spark, sf_dir)
    physical, _ = _plans(df)
    assert "CartesianProduct" not in physical
    assert "BroadcastNestedLoopJoin" not in physical
    # r14: the pretoken vocabulary fits the literal-map tier, so the
    # whole encode is ONE shuffle-free projection — no dictionary join,
    # no Python stage, no Exchange (the >tier fallbacks keep the
    # broadcast shape, pinned in test_bpe_encode_fallback_tiers_*)
    assert "ArrowEvalPython" not in physical, physical[:2000]
    assert "BatchEvalPython" not in physical
    assert "Exchange" not in physical, physical[:2000]
