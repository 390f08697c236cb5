"""Degenerate-input robustness net: every listed operator must handle an
EMPTY corpus and a SINGLE-ROW corpus without raising — the edges where
driver-side probes return None, aggregates produce empty/NULL stats,
divisions see zero denominators, and windows see one row. (The
zero-vector ANSI divide-by-zero in the embedding family and the
int(None) crash in profile_columns on empty input were exactly this
class of bug; this net covers the whole surface.)

Each case is (op name, args, fixture, empty_mode):
``empty_mode="zero"`` — zero output rows on empty input (row-wise ops,
grouped aggregates); ``"any"`` — a global aggregate legitimately emits
its summary row(s) even on an empty corpus (just must not raise).
The assertion is "plan builds and executes, column set stable across
empty/single, and the op leaves no cache entry in the session" — value
semantics live in the per-op tests and the DuckDB oracles. An argument
given as ``SELF`` takes the case's own input frame (the second input of
a two-input op); ``STATE`` takes a fresh state directory.
"""

from __future__ import annotations

import pytest

from lakehouse_engine_spark.core.definitions import TransformerSpec
from lakehouse_engine_spark.transformers.transformer_factory import TransformerFactory


def t(name, **args):
    return TransformerFactory.get_transformer(TransformerSpec(name, args))


DOCS_SCHEMA = "doc_id LONG, lang STRING, text STRING, n_tokens INT"
DOCS_ROW = [(1, "en", "the quick brown fox", 4)]
EMB_SCHEMA = "vec_id LONG, label INT, embedding ARRAY<DOUBLE>"
EMB_ROW = [(1, 0, [0.5, 0.25, 0.125, 1.0])]
EV_SCHEMA = (
    "event_id LONG, user_id LONG, ts TIMESTAMP_NTZ, value DOUBLE, "
    "event_type STRING"
)
NUM_SCHEMA = "id LONG, grp STRING, x DOUBLE, is_ok BOOLEAN"
NUM_ROW = [(1, "a", 2.5, True)]
SELF = "<the input frame>"
STATE = "<a fresh state directory>"

CASES = [
    ("text_quality_score", {}, "docs", "zero"),
    ("text_langid", {}, "docs", "zero"),
    ("text_token_count", {}, "docs", "zero"),
    ("text_fingerprint", {}, "docs", "zero"),
    ("text_pii_redact", {}, "docs", "zero"),
    ("text_repetition", {}, "docs", "zero"),
    ("text_chunk", {}, "docs", "zero"),
    ("text_clean", {}, "docs", "zero"),
    ("text_sentence_split", {}, "docs", "zero"),
    ("text_html_strip", {}, "docs", "zero"),
    ("text_line_dedup", {}, "docs", "zero"),
    ("text_lm_score", {}, "docs", "zero"),
    ("text_lm_score_bigram", {}, "docs", "zero"),
    ("text_tfidf_top_terms", {"k": 2}, "docs", "zero"),
    ("text_ngram_counts", {"n": 2, "k": 5}, "docs", "zero"),
    ("text_hash_embedding", {"dim": 8}, "docs", "zero"),
    ("vocab_top_k", {"k": 5}, "docs", "zero"),
    ("lexical_diversity", {}, "docs", "any"),  # global agg: 1 summary row
    ("url_normalize", {"input_col": "text"}, "docs", "zero"),
    ("text_cdc_chunk", {}, "docs", "zero"),
    ("dedup_exact", {"key_cols": ["text"], "id_col": "doc_id"}, "docs", "zero"),
    ("dedup_minhash_lsh", {}, "docs", "zero"),
    ("dedup_simhash", {}, "docs", "zero"),
    ("dedup_ngram_jaccard", {}, "docs", "zero"),
    ("dedup_substring_exact", {"k": 4}, "docs", "zero"),
    ("lsh_bucket_stats", {}, "docs", "zero"),
    ("hash_split", {"id_col": "doc_id"}, "docs", "zero"),
    ("hash_sample", {"id_col": "doc_id", "fraction": 0.5}, "docs", "zero"),
    (
        "stratified_sample",
        {"group_cols": ["lang"], "id_col": "doc_id", "fraction_per_group": 0.5},
        "docs",
        "zero",
    ),
    ("global_shuffle", {"shards": 4, "seed": "s"}, "docs", "zero"),
    ("unimax_sample", {"budget_tokens": 10, "group_col": "lang"}, "docs", "zero"),
    ("pack_sequences", {"token_col": "n_tokens", "budget": 16}, "docs", "zero"),
    ("text_quality_prune", {}, "docs", "zero"),
    ("dedup_semantic_centroid", {"num_centroids": 4}, "emb", "zero"),
    ("dedup_semantic_hier", {"k_coarse": 2, "k_fine": 2}, "emb", "zero"),
    ("dedup_embedding_cosine", {"method": "exact"}, "emb", "zero"),
    ("dedup_embedding_cosine", {"method": "lsh"}, "emb", "zero"),
    ("knn_brute_force", {"k": 2, "query_filter": "vec_id >= 0"}, "emb", "zero"),
    ("knn_lsh", {"k": 2, "query_filter": "vec_id >= 0"}, "emb", "zero"),
    (
        "knn_ivf",
        {"k": 2, "query_filter": "vec_id >= 0", "num_centroids": 2},
        "emb",
        "zero",
    ),
    ("cluster_sample", {}, "emb", "zero"),
    ("embedding_normalize", {}, "emb", "zero"),
    ("embedding_quantize_int8", {}, "emb", "zero"),
    ("embedding_mean_pool", {"group_col": "label"}, "emb", "zero"),
    (
        "streaming_running_totals",
        {"on": ["user_id"], "value_col": "value"},
        "events",
        "zero",
    ),
    (
        "streaming_approx_distinct",
        {"on": ["user_id"], "value_col": "value"},
        "events",
        "zero",
    ),
    (
        "streaming_reservoir_quantiles",
        {"on": ["user_id"], "value_col": "value", "id_col": "event_id", "k": 8},
        "events",
        "zero",
    ),
    (
        "streaming_ewma_anomaly",
        {"on": ["user_id"], "value_col": "value", "ts_col": "ts"},
        "events",
        "zero",
    ),
    (
        "sessionize",
        {"on": ["user_id"], "ts_col": "ts", "gap": "5 minutes"},
        "events",
        "zero",
    ),
    (
        "hopping_window_agg",
        {"group_cols": ["user_id"], "ts_col": "ts", "window": "1 hour",
         "slide": "15 minutes", "aggs": {"n": "CAST(count(1) AS LONG)"}},
        "events",
        "zero",
    ),
    (
        "trailing_window_agg",
        {"on": ["user_id"], "ts_col": "ts", "duration": "1 hour",
         "aggs": {"n": "count(1)"}},
        "events",
        "zero",
    ),
    (
        "funnel",
        {"on": ["user_id"], "stage_col": "event_type",
         "stages": ["view", "click"], "ts_col": "ts"},
        "events",
        "zero",
    ),
    (
        "event_transitions",
        {"on": ["user_id"], "event_col": "event_type", "ts_col": "ts"},
        "events",
        "zero",
    ),
    ("winsorize", {"value_col": "x"}, "num", "zero"),
    ("zscore_normalize", {"value_col": "x", "group_cols": ["grp"]}, "num", "zero"),
    ("robust_scale", {"value_col": "x"}, "num", "zero"),
    (
        "quantile_summary",
        {"value_col": "x", "group_cols": ["grp"]},
        "num",
        "zero",
    ),
    (
        "histogram",
        {"value_col": "x", "bins": 4, "min_val": 0.0, "max_val": 10.0},
        "num",
        "any",  # fixed-bin histogram: bins exist even over zero rows
    ),
    ("trend_fit", {"group_cols": ["grp"], "x_col": "id", "y_col": "x"}, "num", "zero"),
    ("weighted_sample", {"id_col": "id", "prob_expr": "least(x / 10.0, 1.0)"}, "num", "zero"),
    ("weighted_sample_k", {"k": 2, "weight_col": "x", "id_col": "id"}, "num", "zero"),
    ("quantile_prune", {"score_col": "x", "keep_frac": 0.5}, "num", "zero"),
    ("profile_columns", {}, "num", "any"),  # one row per column, always
    ("curation_report", {"flag_cols": ["is_ok"]}, "num", "any"),
    ("layout_zorder", {"cols": ["doc_id", "lang"], "bits_per_col": 8}, "docs", "zero"),
    ("layout_hilbert", {"cols": ["doc_id", "lang"], "bits_per_col": 8}, "docs", "zero"),
    (
        "layout_zorder",
        {"cols": ["doc_id"], "bits_per_col": 8, "method": "rank"},
        "docs",
        "zero",
    ),
    (
        "temperature_sample",
        {"budget_tokens": 10, "group_col": "lang"},
        "docs",
        "zero",
    ),
    ("profile_skew", {"key_cols": ["lang"]}, "docs", "zero"),
    ("text_unicode_normalize", {"flag_changed": True}, "docs", "zero"),
    ("embedding_random_projection", {"out_dim": 2}, "emb", "zero"),
    ("streaming_dedup_exact", {"id_col": "doc_id"}, "docs", "zero"),
    ("embedding_kmeans", {"k": 2, "iterations": 1}, "emb", "zero"),
    ("embedding_pq_encode", {"m": 2, "k": 2}, "emb", "zero"),
    ("knn_pq", {"k": 2, "m": 2, "num_codes": 2,
                "query_filter": "vec_id >= 0"}, "emb", "zero"),
    ("text_gopher_rules", {"min_words": 2}, "docs", "zero"),
    ("text_dup_line_stats", {}, "docs", "zero"),
    ("graph_pagerank", {"iterations": 1}, "graph", "zero"),
    ("graph_connected_components", {}, "graph", "zero"),
    ("embedding_pca", {"n_components": 2}, "emb", "zero"),
    ("embedding_pca", {"mode": "stats"}, "emb", "any"),
    ("text_frequent_terms", {"min_support": 0.1}, "docs", "any"),
    ("text_word_pmi", {"k": 5, "min_count": 1}, "docs", "zero"),
    (
        "mixture_plan",
        {"group_col": "lang", "weights": {"en": 1}, "budget_tokens": 10,
         "token_col": "n_tokens"},
        "docs",
        "any",  # planner emits one row per weighted group even on empty
    ),
    (
        "quality_bucket_split",
        {"score_col": "n_tokens", "buckets": {"head": 1, "tail": 1},
         "group_cols": ["lang"]},
        "docs",
        "zero",
    ),
    (
        "streaming_topk_score",
        {"on": ["lang"], "id_col": "doc_id", "score_col": "n_tokens", "k": 2},
        "docs",
        "zero",
    ),
    ("source_unigram_divergence", {"group_col": "lang"}, "docs", "zero"),
    ("text_seed_classifier_score", {"pos_df": SELF}, "docs", "zero"),
    ("text_winnow_overlap", {"min_shared": 1}, "docs", "zero"),
    ("text_winnow_cross_overlap", {"other_df": SELF, "min_shared": 1}, "docs", "zero"),
    ("dedup_connected_components", {}, "docs", "zero"),
    ("dedup_incremental_minhash", {"state_location": STATE}, "docs", "zero"),
    ("dedup_incremental_embedding", {"state_location": STATE}, "emb", "zero"),
    ("dedup_cross_embedding", {"other_df": SELF, "mode": "flag"}, "emb", "zero"),
    (
        "knn_ivf_hier",
        {"k": 2, "query_filter": "vec_id >= 0", "k_coarse": 2, "k_fine": 2},
        "emb",
        "zero",
    ),
    ("embedding_kmeans_hier", {"k_coarse": 2, "k_fine": 2}, "emb", "zero"),
    (
        "knn_ivf",
        {"k": 2, "query_filter": "vec_id >= 0", "num_centroids": 2, "iters": 1},
        "emb",
        "zero",
    ),
]


def _fixture(spark, kind, empty):
    if kind == "docs":
        return spark.createDataFrame([] if empty else DOCS_ROW, DOCS_SCHEMA)
    if kind == "emb":
        return spark.createDataFrame([] if empty else EMB_ROW, EMB_SCHEMA)
    if kind == "events":
        from datetime import datetime

        row = [(1, 7, datetime(2024, 1, 1, 0, 0, 0), 1.5, "view")]
        return spark.createDataFrame([] if empty else row, EV_SCHEMA)
    if kind == "num":
        return spark.createDataFrame([] if empty else NUM_ROW, NUM_SCHEMA)
    if kind == "graph":
        return spark.createDataFrame([] if empty else [(1, 2)], "src LONG, dst LONG")
    raise ValueError(kind)


@pytest.mark.parametrize(
    "name,args,kind,empty_mode",
    CASES,
    ids=[f"{c[0]}-{i}" for i, c in enumerate(CASES)],
)
def test_op_survives_empty_and_single_row(
    spark, tmp_path, name, args, kind, empty_mode
):
    def run(frame, state):
        bound = {
            k: frame if v == SELF else str(tmp_path / state) if v == STATE else v
            for k, v in args.items()
        }
        out = frame.transform(t(name, **bound))
        return out, out.collect()

    spark.catalog.clearCache()
    out_single, _ = run(_fixture(spark, kind, empty=False), "single")
    out_empty, rows_empty = run(_fixture(spark, kind, empty=True), "empty")
    if empty_mode == "zero":
        assert rows_empty == []
    # column set stable across empty vs single-row input
    assert [f.name for f in out_empty.schema.fields] == [
        f.name for f in out_single.schema.fields
    ]
    # the op holds no cache past its return
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_two_input_ops_survive_empty_sides(spark):
    """Ops taking a second DataFrame: every combination of empty/single
    inputs must execute with a stable column set."""
    single = _fixture(spark, "docs", empty=False)
    empty = _fixture(spark, "docs", empty=True)
    for a, b in [(single, empty), (empty, single), (empty, empty)]:
        out = a.transform(t("text_decontaminate_bloom", benchmark_df=b))
        assert out.count() >= 0
        row = a.transform(t("corpus_overlap_stats", other_df=b))
        assert row.count() == 1  # global one-row audit even on empty
        ds = a.transform(t("text_dsir_score", target_df=b, num_buckets=8))
        assert ds.count() == a.count() and "dsir_score" in ds.columns
        sp = a.transform(t("text_decontaminate_spans", benchmark_df=b))
        assert sp.count() == a.count() and "clean_fragments" in sp.columns
    vocab = spark.createDataFrame([("a",), ("##b",)], "piece STRING")
    empty_vocab = vocab.limit(0)
    for corpus, vv in [(single, vocab), (empty, vocab),
                       (single, empty_vocab), (empty, empty_vocab)]:
        wp = corpus.transform(t("wordpiece_encode", vocab=vv))
        assert wp.count() == corpus.count()
        assert "wp_tokens" in wp.columns
    ug_vocab = spark.createDataFrame([("a", -100)], "piece STRING, logp_s LONG")
    for corpus, vv in [(single, ug_vocab), (empty, ug_vocab),
                       (single, ug_vocab.limit(0)), (empty, ug_vocab.limit(0))]:
        ug = corpus.transform(t("unigram_encode", vocab=vv))
        assert ug.count() == corpus.count()
        assert "ug_tokens" in ug.columns and "ug_tokens_score_s" in ug.columns
    iv_schema = "g STRING, s LONG, e LONG"
    il = spark.createDataFrame([("k", 0, 5)], iv_schema)
    ie = spark.createDataFrame([], iv_schema)
    for a, b in [(il, ie), (ie, il), (ie, ie)]:
        out = a.transform(
            t("interval_overlap_join", right=b, on=["g"], left_start="s",
              left_end="e", right_start="s", right_end="e", bucket_width=2)
        )
        assert out.count() == 0
