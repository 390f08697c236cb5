"""Driver contract for the spark-graft builder (PySpark target).

Every ``queries()`` entry exercises engine operators (TransformerFactory /
DQFactory / datapipes) — not raw Spark — so the duckdb oracle validates the
engine itself. Numeric design for cross-engine hash-matching:

* sums go through DECIMAL(18,4) casts (exact, order-independent) — double
  sums would differ in low bits between engines;
* derived ratios are computed from exact sums, then rounded;
* rankings order by ROUNDED scores (+ id tie-break) so last-ulp differences
  can't flip ranks between engines;
* timestamps are emitted as epoch seconds/micros (BIGINT) — the driver's
  pandas bridge may treat ns vs us resolutions differently;
* content hashes use md5/sha2-256 (identical hex in Spark and DuckDB).
"""

from __future__ import annotations

import json
import os
import pathlib
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_engine_spark.core.definitions import DQFunctionSpec, DQSpec, TransformerSpec
from lakehouse_engine_spark.datapipes.dedup import MINHASH_AB, MINHASH_P
from lakehouse_engine_spark.datapipes.numeric import corr_pair_expr, cramer_fit_exprs
from lakehouse_engine_spark.datapipes.parallel import ensure_parallelism
from lakehouse_engine_spark.datapipes.text import PII_PATTERNS, SCRIPT_RANGES
from lakehouse_engine_spark.transformers.transformer_factory import TransformerFactory
from lakehouse_engine_spark.utils.tables import load_table
from lakehouse_engine_spark.utils.timeutils import epoch_us_ntz


def _t(name: str, data=None, **args):
    return TransformerFactory.get_transformer(TransformerSpec(name, args), data)


def _dec(expr: str) -> str:
    return f"CAST({expr} AS DECIMAL(18,4))"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: revenue by market segment &
    nation — broadcast-joined star query through the engine's join operator."""
    return q02_revenue_by_segment(spark, "/root/testdata/sf0.001")


# --------------------------------------------------------------------------
# Reference-parity operator queries
# --------------------------------------------------------------------------


def q01_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    """Scan+filter+group-agg (TPC-H Q1 shape): expression_filter +
    with_expressions + sql_transformation."""
    li = load_table(spark, sf, "lineitem")
    out = (
        li.transform(_t("expression_filter", exp="l_shipdate <= timestamp '1998-09-02'"))
        .transform(
            _t(
                "with_expressions",
                cols_and_exprs={
                    "disc_price": _dec("l_extendedprice * (1 - l_discount)"),
                    "charge": "CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))",
                    "qty_d": _dec("l_quantity"),
                    "price_d": _dec("l_extendedprice"),
                },
            )
        )
        .transform(
            _t(
                "sql_transformation",
                sql="""
                SELECT l_returnflag, l_linestatus,
                       CAST(SUM(qty_d) AS DOUBLE) AS sum_qty,
                       CAST(SUM(price_d) AS DOUBLE) AS sum_base_price,
                       CAST(SUM(disc_price) AS DOUBLE) AS sum_disc_price,
                       CAST(SUM(charge) AS DOUBLE) AS sum_charge,
                       ROUND(CAST(SUM(qty_d) AS DOUBLE) / COUNT(*), 4) AS avg_qty,
                       COUNT(*) AS count_order
                FROM lhe_current
                GROUP BY l_returnflag, l_linestatus
                """,
            )
        )
    )
    return out


def q02_revenue_by_segment(spark: SparkSession, sf: str) -> DataFrame:
    """Star join: lineitem ⋈ orders ⋈ customer ⋈ nation with broadcast dims."""
    data = {
        "orders": load_table(spark, sf, "orders"),
        "customer": load_table(spark, sf, "customer"),
        "nation": load_table(spark, sf, "nation"),
    }
    li = load_table(spark, sf, "lineitem")
    joined = (
        li.transform(
            _t(
                "join",
                data,
                join_with="orders",
                join_condition="a.l_orderkey = b.o_orderkey",
                select_cols=["a.l_extendedprice", "a.l_discount", "b.o_custkey"],
            )
        )
        .transform(
            _t(
                "join",
                data,
                join_with="customer",
                join_condition="a.o_custkey = b.c_custkey",
                select_cols=["a.l_extendedprice", "a.l_discount", "b.c_mktsegment", "b.c_nationkey"],
            )
        )
        .transform(
            _t(
                "join",
                data,
                join_with="nation",
                join_condition="a.c_nationkey = b.n_nationkey",
                select_cols=["a.*", "b.n_name"],
            )
        )
        .transform(
            _t(
                "sql_transformation",
                sql=f"""
                SELECT c_mktsegment, n_name,
                       CAST(SUM({_dec('l_extendedprice * (1 - l_discount)')}) AS DOUBLE) AS revenue,
                       COUNT(*) AS n_items
                FROM lhe_current GROUP BY c_mktsegment, n_name
                """,
            )
        )
    )
    return joined


def q03_latest_order_per_customer(spark: SparkSession, sf: str) -> DataFrame:
    """group_and_rank condensation: newest order per customer."""
    orders = load_table(spark, sf, "orders")
    return (
        orders.transform(
            _t("group_and_rank", group_key=["o_custkey"], ranking_key=["o_orderdate", "o_orderkey"])
        )
        .selectExpr(
            "o_custkey",
            "o_orderkey AS latest_orderkey",
            "unix_micros(CAST(o_orderdate AS TIMESTAMP)) AS latest_orderdate_us",
            "o_orderstatus",
            "o_totalprice AS totalprice",
        )
    )


def q04_union_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """union_by_name + distinct over overlapping slices."""
    orders = load_table(spark, sf, "orders")
    hi = orders.filter("o_totalprice > 100000")
    urgent = orders.filter("o_orderpriority = '1-URGENT'")
    merged = hi.transform(_t("union_by_name", {"urgent": urgent}, union_with=["urgent"]))
    return merged.selectExpr(
        "o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice AS totalprice", "o_orderpriority",
        "unix_micros(CAST(o_orderdate AS TIMESTAMP)) AS orderdate_us",
    )


def q05_incremental_filter(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental cursor load: rows newer than a literal watermark."""
    li = load_table(spark, sf, "lineitem")
    return (
        li.transform(
            _t("incremental_filter", input_col="l_shipdate", increment_value="1998-01-01")
        )
        .transform(
            _t(
                "sql_transformation",
                sql=f"""
                SELECT l_returnflag,
                       COUNT(*) AS n_rows,
                       CAST(SUM({_dec('l_quantity')}) AS DOUBLE) AS sum_qty
                FROM lhe_current GROUP BY l_returnflag
                """,
            )
        )
    )


def q06_condense_cdc(spark: SparkSession, sf: str) -> DataFrame:
    """SAP-style CDC condensation on a synthetic changelog built from orders:
    seq 2 updates every 10th order, 'D' deletes every 100th, and seq 4 adds
    an EXCLUDED record mode ('X') on every 50th — those keys' newest image
    is invalid, so reference semantics (rank first, filter after) must
    suppress the key entirely rather than resurrect an older image."""
    load_table(spark, sf, "orders").createOrReplaceTempView("orders")
    cdc = spark.sql(
        """
        SELECT o_orderkey, 1 AS seq, 'N' AS recordmode, o_totalprice FROM orders
        UNION ALL
        SELECT o_orderkey, 2 AS seq, '' AS recordmode, o_totalprice * 2 FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT o_orderkey, 3 AS seq, 'D' AS recordmode, o_totalprice FROM orders WHERE o_orderkey % 100 = 0
        UNION ALL
        SELECT o_orderkey, 4 AS seq, 'X' AS recordmode, o_totalprice FROM orders WHERE o_orderkey % 50 = 0
        """
    )
    condensed = cdc.transform(
        _t(
            "condense_record_mode_cdc",
            business_key=["o_orderkey"],
            ranking_key_desc=["seq"],
            record_mode_col="recordmode",
            valid_record_modes=["", "N", "D"],
        )
    )
    # drop rows whose surviving image is a delete (recordmode 'D')
    return (
        condensed.filter("recordmode <> 'D'")
        .selectExpr("o_orderkey", "seq", "o_totalprice AS totalprice")
    )


def q07_dq_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Native DQ engine: expectation suite over lineitem → unexpected counts."""
    from lakehouse_engine_spark.dq.dq_factory import DQFactory

    li = load_table(spark, sf, "lineitem")
    spec = DQSpec(
        spec_id="dq",
        input_id="lineitem",
        fail_on_error=False,
        dq_functions=[
            DQFunctionSpec("expect_column_values_to_not_be_null", {"column": "l_orderkey"}),
            DQFunctionSpec(
                "expect_column_values_to_be_between",
                {"column": "l_quantity", "min_value": 1, "max_value": 50},
            ),
            DQFunctionSpec(
                "expect_column_values_to_be_in_set",
                {"column": "l_returnflag", "value_set": ["A", "N", "R"]},
            ),
            DQFunctionSpec(
                "expect_column_pair_a_to_be_smaller_or_equal_than_b",
                {"column_A": "l_discount", "column_B": "l_tax", "margin": 0.05},
            ),
            DQFunctionSpec(
                "expect_column_values_to_not_be_null_or_empty_string", {"column": "l_linestatus"}
            ),
        ],
    )
    tagged = DQFactory.run_dq_process(spark, spec, li)
    _ = tagged  # tagging disabled; we return the stats shape instead
    # Re-derive the deterministic result columns (run_time/run_name vary).
    from lakehouse_engine_spark.dq.dq_factory import RESULT_SINK_SCHEMA  # noqa: F401

    import json

    rows = []
    # recompute via one agg to emit a DataFrame (same path the factory uses)
    from lakehouse_engine_spark.dq import expectations as E

    conds = [(f.function, json.dumps(f.args, sort_keys=True), E.ROW_EXPECTATIONS[f.function](**f.args)) for f in spec.dq_functions]
    aggs = [F.count(F.lit(1)).alias("__n")] + [
        F.coalesce(F.sum(F.when(~c, F.lit(1))), F.lit(0)).alias(f"__u{i}")
        for i, (_, _, c) in enumerate(conds)
    ]
    stats = li.agg(*aggs).first()
    rows = [
        (name, int(stats[f"__u{i}"]), int(stats["__n"]))
        for i, (name, _, c) in enumerate(conds)
    ]
    return spark.createDataFrame(
        rows, "expectation_type string, unexpected_count bigint, element_count bigint"
    )


def q08_reconciliation(spark: SparkSession, sf: str) -> DataFrame:
    """Full-outer-join reconciliation: orders vs perturbed orders, abs and
    pct diffs aggregated per orderstatus."""
    load_table(spark, sf, "orders").createOrReplaceTempView("orders")
    truth = spark.table("orders")
    current = spark.sql(
        """
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.1 ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 13 <> 0
        """
    )
    joined = truth.selectExpr("o_orderkey", "o_orderstatus", "o_totalprice AS truth_price").transform(
        _t(
            "join",
            {"cur": current},
            join_with="cur",
            join_condition="a.o_orderkey = b.o_orderkey",
            join_type="full",
            broadcast_join=False,
            select_cols=[
                "coalesce(a.o_orderstatus, b.o_orderstatus) AS o_orderstatus",
                "a.truth_price",
                "b.o_totalprice AS current_price",
            ],
        )
    )
    return joined.transform(
        _t(
            "sql_transformation",
            sql=f"""
            SELECT o_orderstatus,
                   CAST(SUM({_dec('ABS(COALESCE(current_price,0) - COALESCE(truth_price,0))')}) AS DOUBLE) AS abs_diff,
                   COUNT_IF(current_price IS NULL) AS missing_current,
                   COUNT(*) AS n
            FROM lhe_current GROUP BY o_orderstatus
            """,
        )
    )


def q09_flatten_explode(spark: SparkSession, sf: str) -> DataFrame:
    """Nested data: pack struct+array, then flatten_schema + explode_columns."""
    li = load_table(spark, sf, "lineitem").filter("l_orderkey % 100 = 0")
    nested = li.selectExpr(
        "l_orderkey",
        "l_linenumber",
        "named_struct('qty', l_quantity, 'price', l_extendedprice) AS measure",
        "array(l_discount, l_tax) AS rates",
    )
    out = (
        nested.transform(_t("flatten_schema"))
        .transform(_t("explode_columns", array_cols_to_explode=["rates"]))
        .selectExpr(
            "l_orderkey",
            "l_linenumber",
            "measure_qty AS qty",
            "measure_price AS price",
            "rates AS rate",
        )
    )
    return out


def q10_date_hierarchy(spark: SparkSession, sf: str) -> DataFrame:
    """Date dimension expansion + formatting on orders."""
    orders = load_table(spark, sf, "orders")
    return (
        orders.transform(
            _t("get_date_hierarchy", cols=["o_orderdate"], formats=["day", "month", "quarter", "year"])
        )
        .transform(_t("format_date", cols=["o_orderdate"], target_format="yyyy-MM-dd"))
        .transform(
            _t(
                "sql_transformation",
                sql="""
                SELECT o_orderdate_year AS yr, o_orderdate_quarter AS qtr,
                       COUNT(*) AS n_orders, MIN(o_orderdate) AS first_day,
                       MAX(o_orderdate_day) AS max_dom, MAX(o_orderdate_month) AS max_month
                FROM lhe_current GROUP BY o_orderdate_year, o_orderdate_quarter
                """,
            )
        )
    )


def q11_hash_masker(spark: SparkSession, sf: str) -> DataFrame:
    """PII masking: sha2-256 masks + drop + rename on customer."""
    cust = load_table(spark, sf, "customer")
    return (
        cust.transform(_t("hash_masker", cols=["c_name"], approach="SHA"))
        .transform(_t("column_dropper", cols=["c_name", "c_acctbal"]))
        .transform(_t("rename", cols={"c_mktsegment": "segment"}))
        .selectExpr("c_custkey", "c_nationkey", "segment", "c_name_hash")
    )


def q12_column_ops(spark: SparkSession, sf: str) -> DataFrame:
    """cast + literals + regex extract + null fill on part."""
    part = load_table(spark, sf, "part")
    return (
        part.transform(_t("with_regex_value", input_col="p_type", output_col="p_type_last",
                          regex=r"(\w+)$", idx=1))
        .transform(_t("with_literals", literals={"source_system": "tpch"}))
        .transform(_t("cast", cols={"p_size": "string"}))
        .transform(_t("replace_nulls", replace_on_nums=False, default_string_value="UNKNOWN"))
        .selectExpr("p_partkey", "p_brand", "p_type_last", "p_size", "source_system")
    )


def q13_get_max_value(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental-load cursor: global max as 1-row DataFrame."""
    li = load_table(spark, sf, "lineitem")
    return (
        li.transform(_t("get_max_value", input_col="l_shipdate", output_col="latest"))
        .selectExpr("unix_micros(CAST(latest AS TIMESTAMP)) AS latest_us")
    )


def q14_window_running(spark: SparkSession, sf: str) -> DataFrame:
    """Window analytics via sql_transformation: running revenue per supplier."""
    li = load_table(spark, sf, "lineitem").filter("l_suppkey < 5")
    return li.transform(
        _t(
            "sql_transformation",
            sql=f"""
            SELECT l_suppkey, l_orderkey, l_linenumber,
                   CAST(SUM({_dec('l_extendedprice')}) OVER (
                     PARTITION BY l_suppkey
                     ORDER BY l_shipdate, l_orderkey, l_linenumber
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS DOUBLE) AS running_rev
            FROM lhe_current
            """,
        )
    )


def q15_events_hourly(spark: SparkSession, sf: str) -> DataFrame:
    """Event-stream rollup: hourly tumbling aggregation (batch form of the
    streaming windowed agg; identical SQL runs under readStream)."""
    ev = load_table(spark, sf, "events")
    return ev.transform(
        _t(
            "sql_transformation",
            sql=f"""
            SELECT unix_seconds(CAST(date_trunc('HOUR', ts) AS TIMESTAMP)) AS hour_epoch,
                   event_type,
                   COUNT(*) AS n_events,
                   COUNT(DISTINCT user_id) AS n_users,
                   CAST(SUM({_dec('value')}) AS DOUBLE) AS sum_value
            FROM lhe_current GROUP BY 1, 2
            """,
        )
    )


def q16_events_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup-to-earliest per (user_id, event_type, minute): the batch
    equivalent of streaming watermark dedup."""
    ev = load_table(spark, sf, "events").withColumn(
        "minute", F.unix_seconds(F.date_trunc("MINUTE", F.col("ts")))
    )
    return (
        ev.transform(
            _t(
                "group_and_rank",
                group_key=["user_id", "event_type", "minute"],
                ranking_key=["ts", "event_id"],
                descending=False,
            )
        )
        .transform(
            _t(
                "sql_transformation",
                sql=f"""
                SELECT event_type, COUNT(*) AS n,
                       CAST(SUM({_dec('value')}) AS DOUBLE) AS sum_value
                FROM lhe_current GROUP BY event_type
                """,
            )
        )
    )


# --------------------------------------------------------------------------
# Datapipes queries (LLM-training-data ops)
# --------------------------------------------------------------------------


def dp01_text_quality(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return docs.transform(_t("text_quality_score")).selectExpr(
        "doc_id", "n_words", "mean_word_len", "punct_ratio", "digit_ratio",
        "upper_ratio", "stopword_ratio", "quality_score",
    )


def dp02_langid(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return (
        docs.transform(_t("text_langid"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def dp03_token_count(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return docs.transform(_t("text_token_count")).selectExpr("doc_id", "n_tokens")


def dp04_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Fingerprint clustering: groups with >1 member are near-dup clusters."""
    docs = load_table(spark, sf, "documents")
    return (
        docs.transform(_t("text_fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("cluster_size"), F.min("doc_id").alias("head_doc"))
        .filter("cluster_size > 1")
    )


def dp05_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return (
        docs.transform(_t("dedup_exact", key_cols=["text"], id_col="doc_id", normalize=True))
        .selectExpr("doc_id", "lang", "source", "n_chars")
    )


def dp06_dedup_minhash(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return (
        docs.transform(_t("dedup_minhash_lsh", num_hashes=12, bands=4, shingle_size=3))
        .selectExpr("doc_id", "lang", "source")
    )


def dp07_dedup_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    # max_bucket_size=None: the oracle replays the UNCAPPED pipeline; the
    # capped production default is covered by the boilerplate-skew pytest
    return (
        docs.transform(
            _t("dedup_ngram_jaccard", shingle_size=3, threshold=0.5, num_hashes=12,
               bands=6, max_bucket_size=None)
        )
        .selectExpr("doc_id", "lang", "source")
    )


def dp08_embedding_dedup(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    return (
        emb.transform(_t("dedup_embedding_cosine", threshold=0.9, method="exact"))
        .selectExpr("vec_id", "label")
    )


def dp09_knn_brute(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    return emb.transform(_t("knn_brute_force", k=5, query_filter="vec_id < 10"))


def dp10_multimodal_bytes(spark: SparkSession, sf: str) -> DataFrame:
    """Binary-column plumbing: pack text as payload, Arrow-batched feature
    extraction; byte counts are the portable check."""
    docs = load_table(spark, sf, "documents")
    out = docs.transform(_t("multimodal_pack", payload_col="text")).transform(
        _t("multimodal_feature_extract", id_col="doc_id", feature_dim=4)
    )
    return out.selectExpr("id AS doc_id", "n_bytes")


def q19_join_transformer(spark: SparkSession, sf: str) -> DataFrame:
    """The ACON `join` transformer (SQL condition + broadcast hint,
    transformers/joiners.py): order counts and revenue per nation via
    orders ⋈ customer ⋈ nation with both dimension sides broadcast."""
    orders = load_table(spark, sf, "orders")
    customer = load_table(spark, sf, "customer")
    nation = load_table(spark, sf, "nation")
    joined = orders.transform(
        _t(
            "join",
            data={"customer": customer},
            join_with="customer",
            join_condition="a.o_custkey = b.c_custkey",
            join_type="inner",
            broadcast_join=True,
            select_cols=["a.o_totalprice", "b.c_nationkey"],
        )
    ).transform(
        _t(
            "join",
            data={"nation": nation},
            join_with="nation",
            join_condition="a.c_nationkey = b.n_nationkey",
            join_type="inner",
            broadcast_join=True,
            select_cols=["b.n_name", "a.o_totalprice"],
        )
    )
    return joined.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double"), 2).alias(
            "revenue"
        ),
    )


def q20_union_by_name(spark: SparkSession, sf: str) -> DataFrame:
    """`union_by_name` with allow_missing_columns: mismatched projections of
    orders align by column name, missing columns null-fill
    (transformers/unions.py)."""
    orders = load_table(spark, sf, "orders")
    lo = orders.filter("o_orderpriority = '1-URGENT'").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    hi = orders.filter("o_orderpriority = '2-HIGH'").select(
        "o_orderkey", "o_orderstatus", "o_custkey"
    )
    return lo.transform(
        _t(
            "union_by_name",
            data={"hi": hi},
            union_with=["hi"],
            deduplication=False,
            allow_missing_columns=True,
        )
    ).select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")


def dp16_asof_join(spark: SparkSession, sf: str) -> DataFrame:
    """Point-in-time as-of join: for each click, the user's latest purchase
    at-or-before the click (union-window formulation — one shuffle on the
    key, no range explosion; datapipes/joins.py)."""
    ev = load_table(spark, sf, "events")
    clicks = ev.filter("event_type = 'click'").select("event_id", "user_id", "ts")
    purchases = ev.filter("event_type = 'purchase'").select("user_id", "ts", "value")
    out = clicks.transform(
        _t(
            "asof_join",
            right=purchases,
            on=["user_id"],
            left_ts="ts",
            right_value_cols=["value"],
            ts_match_col="purchase_ts",
        )
    )
    return out.select(
        "event_id",
        "user_id",
        epoch_us_ntz("ts").alias("click_us"),
        epoch_us_ntz("purchase_ts").alias("purchase_us"),
        F.round("value_matched", 6).alias("purchase_value"),
    )


def dp17_range_join(spark: SparkSession, sf: str) -> DataFrame:
    """Bucketed range join (no nested-loop): clicks landing inside each
    purchase's 24h follow-up window, counted per purchase
    (datapipes/joins.py:range_join — equi-join on (user, time-bucket))."""
    ev = load_table(spark, sf, "events")
    clicks = ev.filter("event_type = 'click'").select("user_id", "ts")
    windows = (
        ev.filter("event_type = 'purchase'")
        .select(
            "event_id",
            "user_id",
            F.col("ts").alias("w_start"),
            (F.col("ts") + F.expr("INTERVAL 24 HOURS")).alias("w_end"),
        )
    )
    joined = clicks.transform(
        _t(
            "range_join",
            right=windows,
            on=["user_id"],
            left_point="ts",
            right_start="w_start",
            right_end="w_end",
            bucket_width=6 * 3600 * 1_000_000,  # 6h buckets (micros)
            right_value_cols=["event_id"],
        )
    )
    return joined.groupBy(F.col("event_id_r").alias("purchase_id")).agg(
        F.count(F.lit(1)).alias("n_clicks_24h")
    )


def dp18_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Sessionization via Spark's native session_window (30 min gap) — the
    same operator runs under Structured Streaming with a watermark
    (datapipes/joins.py:sessionize). Top-level stats keep the oracle
    deterministic."""
    ev = load_table(spark, sf, "events")
    sessions = ev.select("user_id", "ts").transform(
        _t("sessionize", on=["user_id"], ts_col="ts", gap="30 minutes")
    )
    # Every output column pinned to BIGINT on BOTH engines: DuckDB's
    # SUM(BIGINT) yields HUGEINT (→ float64 via pandas), which breaks the
    # driver's dtype-sensitive value hash even when values are identical.
    return sessions.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum("n_events").cast("long").alias("n_events"),
        epoch_us_ntz(F.max("session_start")).cast("long").alias(
            "last_session_start_us"
        ),
    )


def dp19_profile(spark: SparkSession, sf: str) -> DataFrame:
    """One-pass dataset profiler over documents: exact stats only in the
    contract projection (approx_distinct/quantiles are HLL/GK estimates —
    validated separately in tests)."""
    docs = load_table(spark, sf, "documents")
    prof = docs.transform(_t("profile_columns", cols=["doc_id", "lang", "n_chars"]))
    return prof.select("column", "dtype", "n_rows", "n_nulls", "null_pct",
                       "min_str", "max_str")


def dp20_dup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Transitive duplicate clusters: connected components over MinHash-LSH
    buckets (iterative min-label propagation on the doc↔bucket bipartite
    graph; oracle = DuckDB recursive CTE over the same buckets)."""
    docs = load_table(spark, sf, "documents")
    return docs.transform(
        _t("dedup_connected_components", num_hashes=12, bands=4, shingle_size=3)
    ).selectExpr("doc_id", "component_id")


def dp21_pii_redact(spark: SparkSession, sf: str) -> DataFrame:
    """PII scrubbing: deterministic synthetic PII (email/phone/ip/card built
    from doc_id) appended to each document, then redacted by the
    text_pii_redact operator; both engines build and scrub identically."""
    docs = load_table(spark, sf, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@mail.example.com call +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" ip 10."), (F.col("doc_id") % 256).cast("string"),
            F.lit(".0."), ((F.col("doc_id") * 7) % 256).cast("string"),
            F.lit(" card 4111 1111 1111 1111 ok"),
        ).alias("text"),
    )
    out = seeded.transform(_t("text_pii_redact"))
    return out.select("doc_id", F.md5("text_clean").alias("clean_md5"), "n_pii")


def dp22_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style repetition signals per document (distinct-word ratio,
    top-word fraction, top-bigram fraction)."""
    docs = load_table(spark, sf, "documents")
    out = docs.transform(_t("text_repetition", ngram=2))
    return out.select(
        "doc_id", "n_words_r", "distinct_word_ratio", "top_word_ratio", "top_2gram_ratio"
    )


def dp23_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination: every 50th document plays the eval set;
    docs sharing any word 8-gram with it are flagged (broadcast n-gram-hash
    probe, no corpus-side shuffle)."""
    docs = load_table(spark, sf, "documents")
    bench = docs.filter("doc_id % 50 = 0")
    out = docs.transform(_t("text_decontaminate", benchmark_df=bench, ngram=8))
    return out.select("doc_id", "n_contaminated_ngrams", "is_contaminated")


def dp24_vocab_top_k(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus vocabulary top-50 by frequency with deterministic tie-break
    (count desc, word asc) — TakeOrdered plan, no global sort shuffle."""
    docs = load_table(spark, sf, "documents")
    return docs.transform(_t("vocab_top_k", k=50)).selectExpr(
        "word", "n", "CAST(rank AS INT) AS rank"
    )


def dp25_stratified_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic stratified sampling: at most 8 docs per (lang, source)
    stratum, selected by hashed-id order (one group-key shuffle)."""
    docs = load_table(spark, sf, "documents")
    out = docs.transform(
        _t("stratified_sample", group_cols=["lang", "source"], id_col="doc_id", n_per_group=8)
    )
    return out.select("doc_id", "lang", "source")


def dp26_mixture_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Data-mixing sampler: per-language keep fractions (en 80%, de 50%,
    fr 25%, others dropped) resolved as a pure hash-filter projection."""
    docs = load_table(spark, sf, "documents")
    out = docs.transform(
        _t(
            "mixture_sample",
            group_col="lang",
            id_col="doc_id",
            weights={"en": 0.8, "de": 0.5, "fr": 0.25},
        )
    )
    return out.select("doc_id", "lang", "source")


def q17_gab_weekly_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """GAB-style calendar-join rollup: weekly buckets from the generated
    calendar dimension (gab_utils.create_calendar_view), broadcast-joined to
    orders — the exact join shape GAB emits for WEEK cadences
    (algorithms/gab.py:_cadence_join_config)."""
    from lakehouse_engine_spark.utils.gab_utils import create_calendar_view

    orders = load_table(spark, sf, "orders")
    orders.createOrReplaceTempView("gab_q17_orders")
    create_calendar_view(spark, "1995-01-01", "1995-06-30", view_name="df_cal_q17")
    return spark.sql(
        f"""
        SELECT date_format(cal.cadence_start_date, 'yyyy-MM-dd') AS from_date,
               date_format(cal.cadence_end_date, 'yyyy-MM-dd') AS to_date,
               o.o_orderpriority AS d1,
               COUNT(*) AS m1,
               CAST(SUM({_dec('o.o_totalprice')}) AS DOUBLE) AS m2
        FROM gab_q17_orders o
        INNER JOIN (
            SELECT DISTINCT weekstart_mon AS cadence_start_date,
                            weekend_mon AS cadence_end_date
            FROM df_cal_q17
        ) cal
          ON o.o_orderdate BETWEEN cal.cadence_start_date AND cal.cadence_end_date
        WHERE o.o_orderdate >= DATE'1995-01-01' AND o.o_orderdate < DATE'1995-07-01'
        GROUP BY 1, 2, 3
        """
    )


def q18_gab_monthly_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """GAB MONTH-cadence projection: no calendar join needed — bucket bounds
    are pure date_trunc/add_months expressions (the join-free arm of
    _cadence_join_config), so the whole rollup stays in one codegen stage."""
    orders = load_table(spark, sf, "orders")
    orders.createOrReplaceTempView("gab_q18_orders")
    return spark.sql(
        f"""
        SELECT date_format(date_trunc('MONTH', o_orderdate), 'yyyy-MM-dd') AS from_date,
               date_format(last_day(o_orderdate), 'yyyy-MM-dd') AS to_date,
               o_orderpriority AS d1,
               COUNT(*) AS m1,
               CAST(SUM({_dec('o_totalprice')}) AS DOUBLE) AS m2
        FROM gab_q18_orders
        WHERE o_orderdate >= DATE'1995-01-01' AND o_orderdate < DATE'1995-07-01'
        GROUP BY 1, 2, 3
        """
    )


def q21_gab_quarterly_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """GAB QUARTER-cadence projection (reconciliation window bounds): the
    join-free arm of _cadence_join_config — bucket start is
    date_trunc('QUARTER'), bucket end the reference's generating rule
    ``date(date_trunc('QUARTER', add_months(d, 3)))-1`` — so, like MONTH,
    the whole rollup stays in one codegen stage with no calendar join
    (reference matrix core/definitions.py:1415-1756, QUARTER rows)."""
    orders = load_table(spark, sf, "orders")
    orders.createOrReplaceTempView("gab_q21_orders")
    return spark.sql(
        f"""
        SELECT date_format(date_trunc('QUARTER', o_orderdate), 'yyyy-MM-dd') AS from_date,
               date_format(
                 date_sub(date(date_trunc('QUARTER', add_months(o_orderdate, 3))), 1),
                 'yyyy-MM-dd') AS to_date,
               o_orderpriority AS d1,
               COUNT(*) AS m1,
               CAST(SUM({_dec('o_totalprice')}) AS DOUBLE) AS m2
        FROM gab_q21_orders
        WHERE o_orderdate >= DATE'1995-01-01' AND o_orderdate < DATE'1995-07-01'
        GROUP BY 1, 2, 3
        """
    )


def q22_gab_quarter_month_snapshot(spark: SparkSession, sf: str) -> DataFrame:
    """GAB SNAPSHOT cadence: QUARTER cadence reconciled MONTHLY with
    snapshot=Y — one bucket per concluded month inside each quarter,
    spanning quarter start → least(month_end, quarter_end), so every
    monthly snapshot accumulates quarter-to-date (the snapshot branch of
    _cadence_join_config; reference matrix core/definitions.py:1415-1756).
    The calendar dimension is generated and broadcast-joined, exactly as
    GAB emits it."""
    from lakehouse_engine_spark.utils.gab_utils import create_calendar_view

    orders = load_table(spark, sf, "orders")
    orders.createOrReplaceTempView("gab_q22_orders")
    create_calendar_view(spark, "1995-01-01", "1995-06-30", view_name="df_cal_q22")
    return spark.sql(
        f"""
        SELECT date_format(cal.cadence_start_date, 'yyyy-MM-dd') AS from_date,
               date_format(cal.cadence_end_date, 'yyyy-MM-dd') AS to_date,
               o.o_orderpriority AS d1,
               COUNT(*) AS m1,
               CAST(SUM({_dec('o.o_totalprice')}) AS DOUBLE) AS m2
        FROM gab_q22_orders o
        INNER JOIN (
            SELECT DISTINCT quarter_start AS cadence_start_date,
                            least(month_end, quarter_end) AS cadence_end_date
            FROM df_cal_q22
        ) cal
          ON o.o_orderdate BETWEEN cal.cadence_start_date AND cal.cadence_end_date
        WHERE o.o_orderdate >= DATE'1995-01-01' AND o.o_orderdate < DATE'1995-07-01'
        GROUP BY 1, 2, 3
        """
    )


def q26_gab_daily_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """GAB DAY cadence: the degenerate join-free arm of _cadence_join_config
    — every bucket is a single day, so from_date = to_date = the event date
    and the whole rollup is one codegen aggregation with no calendar join
    (reference matrix core/definitions.py:1415-1756, DAY rows; our
    algorithms/gab.py:89 takes the same shortcut)."""
    orders = load_table(spark, sf, "orders")
    orders.createOrReplaceTempView("gab_q26_orders")
    return spark.sql(
        f"""
        SELECT date_format(o_orderdate, 'yyyy-MM-dd') AS from_date,
               date_format(o_orderdate, 'yyyy-MM-dd') AS to_date,
               o_orderpriority AS d1,
               COUNT(*) AS m1,
               CAST(SUM({_dec('o_totalprice')}) AS DOUBLE) AS m2
        FROM gab_q26_orders
        WHERE o_orderdate >= DATE'1995-01-01' AND o_orderdate < DATE'1995-03-01'
        GROUP BY 1, 2, 3
        """
    )


def q27_gab_year_month_snapshot(spark: SparkSession, sf: str) -> DataFrame:
    """GAB YEAR cadence reconciled MONTHLY with snapshot=Y: one bucket per
    concluded month, spanning year start -> least(month_end, year_end), so
    each monthly snapshot accumulates year-to-date (the snapshot branch of
    _cadence_join_config for YEAR rows; reference matrix
    core/definitions.py:1415-1756). Calendar dimension generated and
    broadcast-joined exactly as GAB emits it — closes the last uncovered
    cadence arm (DAY covered by q26)."""
    from lakehouse_engine_spark.utils.gab_utils import create_calendar_view

    orders = load_table(spark, sf, "orders")
    orders.createOrReplaceTempView("gab_q27_orders")
    create_calendar_view(spark, "1995-01-01", "1995-12-31", view_name="df_cal_q27")
    return spark.sql(
        f"""
        SELECT date_format(cal.cadence_start_date, 'yyyy-MM-dd') AS from_date,
               date_format(cal.cadence_end_date, 'yyyy-MM-dd') AS to_date,
               o.o_orderpriority AS d1,
               COUNT(*) AS m1,
               CAST(SUM({_dec('o.o_totalprice')}) AS DOUBLE) AS m2
        FROM gab_q27_orders o
        INNER JOIN (
            SELECT DISTINCT year_start AS cadence_start_date,
                            least(month_end, year_end) AS cadence_end_date
            FROM df_cal_q27
        ) cal
          ON o.o_orderdate BETWEEN cal.cadence_start_date AND cal.cadence_end_date
        WHERE o.o_orderdate >= DATE'1995-01-01' AND o.o_orderdate < DATE'1996-01-01'
        GROUP BY 1, 2, 3
        """
    )


def q28_gab_weekly_sunday_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """GAB WEEK cadence with start_of_the_week=SUNDAY — the other week-arm
    of the reference's calendar matrix (our gab_utils computes
    weekstart_sun/weekend_sun as date_trunc('WEEK', d+1)-1 .. +5, i.e. the
    Sunday-anchored week containing d). Same broadcast calendar-join shape
    as q17; the oracle replays the Sunday anchor with DuckDB date
    arithmetic."""
    from lakehouse_engine_spark.utils.gab_utils import create_calendar_view

    orders = load_table(spark, sf, "orders")
    orders.createOrReplaceTempView("gab_q28_orders")
    create_calendar_view(spark, "1995-01-01", "1995-06-30", view_name="df_cal_q28")
    return spark.sql(
        f"""
        SELECT date_format(cal.cadence_start_date, 'yyyy-MM-dd') AS from_date,
               date_format(cal.cadence_end_date, 'yyyy-MM-dd') AS to_date,
               o.o_orderpriority AS d1,
               COUNT(*) AS m1,
               CAST(SUM({_dec('o.o_totalprice')}) AS DOUBLE) AS m2
        FROM gab_q28_orders o
        INNER JOIN (
            SELECT DISTINCT weekstart_sun AS cadence_start_date,
                            weekend_sun AS cadence_end_date
            FROM df_cal_q28
        ) cal
          ON o.o_orderdate BETWEEN cal.cadence_start_date AND cal.cadence_end_date
        WHERE o.o_orderdate >= DATE'1995-01-01' AND o.o_orderdate < DATE'1995-07-01'
        GROUP BY 1, 2, 3
        """
    )


def q29_gab_day_recon_recompute(spark: SparkSession, sf: str) -> DataFrame:
    """GAB reconciliation-window recompute — the recon path of
    algorithms/gab.py (_run_cadence → _flush), the one GAB
    behavior previously pytest-only: late-arriving facts are folded in by
    re-running the cadence over the reconciliation window and
    DELETE+INSERTing exactly that window's insights rows, leaving older
    buckets untouched. Scenario: DAY cadence reconciled MONTHLY; the
    initial Jan+Feb load misses the late cohort (o_orderkey % 7 == 0);
    the recompute runs on 1995-03-05 and re-derives February from the
    FULL data. The window comes from the REAL extended_window_calculator
    (utils/gab_utils.py, mirroring reference core/gab_manager.py:22-82);
    the oracle hardcodes the expected 1995-02-01/1995-03-01 bounds, so a
    window-calculator regression surfaces as a value mismatch. Result:
    January buckets exclude the late rows, February buckets include
    them."""
    from datetime import datetime as _dtt
    from datetime import timedelta as _td

    from lakehouse_engine_spark.utils.gab_utils import (
        extended_window_calculator,
    )

    orders = load_table(spark, sf, "orders")
    late = (F.col("o_orderkey") % 7) == 0

    b0, b1, f0, f1 = extended_window_calculator(
        "DAY", "MONTH", _dtt(1995, 3, 5), _dtt(1995, 2, 15),
        _dtt(1995, 2, 15), "ATM", "N", "N",
    )

    def day_rollup(df, lo, hi):
        return (
            df.filter(
                (F.col("o_orderdate") >= F.lit(lo))
                & (F.col("o_orderdate") < F.lit(hi))
            )
            .groupBy(
                F.date_format("o_orderdate", "yyyy-MM-dd").alias("from_date"),
                F.col("o_orderpriority").alias("d1"),
            )
            .agg(
                F.count(F.lit(1)).cast("long").alias("m1"),
                F.sum(F.expr(_dec("o_totalprice"))).cast("double").alias("m2"),
            )
            .select(
                "from_date",
                F.col("from_date").alias("to_date"),
                "d1", "m1", "m2",
            )
        )

    initial = day_rollup(
        orders.filter(~late), _dtt(1995, 1, 1).date(), _dtt(1995, 3, 1).date()
    )
    recomputed = day_rollup(orders, f0.date(), f1.date())
    # delete+insert: drop the recompute window's buckets from the initial
    # load, append the fresh ones (the parquet arm of GAB._flush)
    kept = initial.filter(
        ~F.col("from_date").between(
            b0.strftime("%Y-%m-%d"),
            (b1 - _td(days=1)).strftime("%Y-%m-%d"),
        )
    )
    return kept.unionByName(recomputed)


def q30_gab_week_day_snapshot(spark: SparkSession, sf: str) -> DataFrame:
    """GAB WEEK cadence reconciled DAILY with snapshot=Y — the last
    uncovered cell of the reference's cadence x reconciliation matrix
    (core/definitions.py:1415-1756): one bucket per DAY, spanning
    week start (Monday anchor) -> that day, so each daily snapshot
    accumulates week-to-date. Same snapshot branch of
    _cadence_join_config as q22/q27, on the WEEK row with the DAY
    reconciliation column. Calendar dimension generated and
    broadcast-joined exactly as GAB emits it."""
    from lakehouse_engine_spark.utils.gab_utils import create_calendar_view

    orders = load_table(spark, sf, "orders")
    orders.createOrReplaceTempView("gab_q30_orders")
    create_calendar_view(spark, "1995-01-04", "1995-02-28", view_name="df_cal_q30")
    return spark.sql(
        f"""
        SELECT date_format(cal.cadence_start_date, 'yyyy-MM-dd') AS from_date,
               date_format(cal.cadence_end_date, 'yyyy-MM-dd') AS to_date,
               o.o_orderpriority AS d1,
               COUNT(*) AS m1,
               CAST(SUM({_dec('o.o_totalprice')}) AS DOUBLE) AS m2
        FROM gab_q30_orders o
        INNER JOIN (
            SELECT DISTINCT weekstart_mon AS cadence_start_date,
                            calendar_date AS cadence_end_date
            FROM df_cal_q30
            WHERE weekstart_mon >= DATE'1995-01-02'
        ) cal
          ON o.o_orderdate BETWEEN cal.cadence_start_date AND cal.cadence_end_date
        WHERE o.o_orderdate >= DATE'1995-01-02' AND o.o_orderdate < DATE'1995-03-01'
        GROUP BY 1, 2, 3
        """
    )


def dp11_dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash near-dup removal. The 60-bit signature is an md5-fold (ANSI
    portable), so the DuckDB oracle rebuilds the full pipeline —
    signature, chunk pigeonhole, popcount verify — bit-for-bit; pairwise
    correctness additionally pytest-verified against brute Hamming distance
    (tests/test_datapipes.py)."""
    docs = load_table(spark, sf, "documents")
    # max_bucket_size=None: the oracle replays the UNCAPPED pipeline; the
    # capped production default is covered by the boilerplate-skew pytest
    return docs.transform(
        _t("dedup_simhash", hamming_threshold=3, shingle_size=2,
           max_bucket_size=None)
    ).selectExpr("doc_id", "lang", "source")


def dp12_knn_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """ANN via random-hyperplane LSH buckets. The hyperplanes are seeded
    literals, so the oracle re-derives them (same RNG/seed) and replays
    signature → bucket-join → exact re-rank in DuckDB; recall-vs-brute-force
    is additionally pytest-checked (tests/test_datapipes.py)."""
    emb = load_table(spark, sf, "embeddings")
    # dim=64 (the testdata embedding width) skips the width-probe scan job
    return emb.transform(
        _t("knn_lsh", k=5, num_planes=12, query_filter="vec_id < 10", dim=64)
    )


def dp13_knn_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """ANN via IVF coarse quantization. Centroids are the ``num_centroids``
    vectors with the SMALLEST md5-fold content hashes (a deterministic
    orderBy on the hash, ties impossible on distinct ids), so the DuckDB
    oracle replays centroids → assignment → nprobe probing → exact
    re-rank; recall is additionally pytest-verified."""
    emb = load_table(spark, sf, "embeddings")
    return emb.transform(
        _t("knn_ivf", k=5, num_centroids=16, nprobe=4, query_filter="vec_id < 10")
    )


def dp14_hash_split(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic train/val/test assignment + per-split stats. Pure
    projection over the portable md5 bucket — zero shuffle until the final
    tiny groupBy; split membership is stable under corpus growth."""
    docs = load_table(spark, sf, "documents")
    return (
        docs.transform(
            _t("hash_split", id_col="doc_id", splits={"train": 0.8, "val": 0.1, "test": 0.1})
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


def dp15_hash_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic 10% sample keyed by doc_id (re-derivable, growth-stable)."""
    docs = load_table(spark, sf, "documents")
    return (
        docs.transform(_t("hash_sample", id_col="doc_id", fraction=0.1, seed="s1"))
        .selectExpr("doc_id", "lang", "n_chars")
    )


def dp27_image_decode(spark: SparkSession, sf: str) -> DataFrame:
    """REAL binary image decode: each doc gets a constructed solid-color PPM
    (dims and RGB are pure functions of doc_id), the numpy decoder
    (datapipes/media_codecs.py) parses the actual bytes inside Arrow-batched
    mapInPandas, and the oracle predicts width/height/means arithmetically —
    if header parsing, stride math, or channel order were wrong, the values
    would not match."""
    docs = load_table(spark, sf, "documents")
    w = F.expr("4 + doc_id % 5")
    h = F.lit(3)
    px_hex = F.concat(
        *[F.lpad(F.hex(F.expr(e)), 2, "0") for e in
          ("doc_id % 256", "(7*doc_id) % 256", "(13*doc_id) % 256")]
    )
    payload = F.concat(
        F.concat(F.lit("P6\n"), w.cast("string"), F.lit(" "), h.cast("string"),
                 F.lit("\n255\n")).cast("binary"),
        F.unhex(F.repeat(px_hex, (w * h).cast("int"))),
    )
    imgs = docs.select("doc_id", payload.alias("payload"))
    meta = imgs.transform(_t("multimodal_image_decode"))
    return meta.select(
        F.col("id").alias("doc_id"),
        "media_type",
        "codec",
        "width",
        "height",
        F.element_at("mean_rgb", 1).cast("double").alias("mean_r"),
        F.element_at("mean_rgb", 2).cast("double").alias("mean_g"),
        F.element_at("mean_rgb", 3).cast("double").alias("mean_b"),
    )


def dp33_text_chunk(spark: SparkSession, sf: str) -> DataFrame:
    """Context-window chunking: documents split into 64-token windows with
    a 16-token overlap (datapipes/text.py text_chunk — pure codegen
    sequence/posexplode/slice row expansion, no shuffle). The oracle
    replays tokenize → stride arithmetic → slice in DuckDB."""
    docs = load_table(spark, sf, "documents")
    out = docs.select("doc_id", "text").transform(
        _t("text_chunk", chunk_tokens=64, overlap=16)
    )
    return out.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("chunk_n_tokens").cast("int").alias("chunk_n_tokens"),
        F.md5(F.col("chunk_text")).alias("chunk_md5"),
    )


def dp34_quality_prune(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher/C4-style RULE filtering (datapipes/text.py text_quality_prune):
    hard pass/fail gates (word count, mean word length, symbol/digit ratio,
    stopword hits, top-word repetition) — all zero-shuffle row-space
    expressions; the oracle replays each rule in SQL."""
    docs = load_table(spark, sf, "documents")
    out = docs.select("doc_id", "text", "lang").transform(
        _t("text_quality_prune", min_words=10, min_stopword_hits=1,
           max_top_word_ratio=0.2)
    )
    return out.select(
        "doc_id", "lang", "pass_word_count", "pass_mean_word_len",
        "pass_symbol_ratio", "pass_digit_ratio", "pass_stopwords",
        "pass_top_word", "quality_pass",
    )


def dp35_lm_score(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-derived unigram LM scoring (datapipes/text.py text_lm_score):
    avg per-token log10 unigram probability as a perplexity proxy. Logs are
    snapped to a 4dp grid as scaled BIGINTs (floor(x·10⁴+0.5)) and summed
    exactly — no engine round() anywhere — so the oracle reproduces the
    emitted double bit-for-bit."""
    docs = load_table(spark, sf, "documents")
    out = docs.select("doc_id", "text").transform(
        _t("text_lm_score", top_v=500)
    )
    return out.select("doc_id", "n_scored_tokens", "avg_logprob")


def dp36_tfidf_top_terms(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document salient terms (datapipes/text.py text_tfidf_top_terms):
    top-3 TF-IDF terms with scaled-BIGINT idf scoring so ranks are
    engine-stable integers; df side broadcasts (vocabulary-sized)."""
    docs = load_table(spark, sf, "documents")
    return docs.select("doc_id", "text").transform(
        _t("text_tfidf_top_terms", k=3)
    )


def dp37_global_shuffle(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic training-order shuffle (datapipes/sampling.py
    global_shuffle): content-hash shard + dense per-shard position — a
    reproducible global permutation with ONE shard-keyed shuffle instead
    of a global orderBy funnel."""
    docs = load_table(spark, sf, "documents")
    out = docs.transform(_t("global_shuffle", shards=8, seed="s1"))
    return out.select(
        "doc_id",
        F.col("shard").cast("int").alias("shard"),
        F.col("position").cast("long").alias("position"),
    )


def dp38_embedding_quantize(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding normalize + int8 quantize (datapipes/embeddings.py):
    L2-normalize then symmetric per-vector int8 codes. Both are index-order
    fp folds over the array, so the norm/scale doubles and the integer
    codes are bit-identical to the oracle's list_reduce/list_transform
    replay; codes are emitted as an md5 of the joined array."""
    emb = load_table(spark, sf, "embeddings")
    out = (
        emb.transform(_t("embedding_normalize"))
        .transform(
            _t("embedding_quantize_int8", input_col="embedding_unit")
        )
    )
    return out.select(
        "vec_id",
        F.col("l2_norm").alias("l2_norm"),
        F.col("q8_scale").alias("q8_scale"),
        F.aggregate("embedding_q8", F.lit(0), lambda a, x: a + x)
        .cast("long")
        .alias("q8_sum"),
        F.array_max("embedding_q8").cast("int").alias("q8_max"),
        F.md5(F.concat_ws(",", F.col("embedding_q8"))).alias("q8_md5"),
    )


def dp39_cross_corpus_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-corpus exact dedup (datapipes/dedup.py dedup_cross_exact):
    flag documents whose normalized content already exists in a reference
    corpus (here: a 30% hash-sample standing in for a previous training
    round). Reference side reduces to distinct md5 digests before a
    digest-keyed join."""
    docs = load_table(spark, sf, "documents")
    ref = docs.transform(_t("hash_sample", id_col="doc_id", fraction=0.3, seed="xr"))
    out = docs.transform(
        _t("dedup_cross_exact", other_df=ref, key_cols=["text"], mode="flag")
    )
    return out.select("doc_id", "lang", "in_reference")


def dp40_cross_near_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-corpus NEAR-dedup (datapipes/dedup.py dedup_cross_minhash):
    flag documents whose MinHash band buckets collide with a 10%
    hash-sampled reference corpus. The reference reduces to distinct
    band digests (no ids/texts) before the semi join; the oracle replays
    signatures, banding, and the bucket intersection."""
    docs = load_table(spark, sf, "documents")
    ref = docs.transform(_t("hash_sample", id_col="doc_id", fraction=0.1, seed="xm"))
    out = docs.transform(
        _t("dedup_cross_minhash", other_df=ref, mode="flag",
           num_hashes=12, bands=4, shingle_size=3)
    )
    return out.select("doc_id", "lang", "near_reference")


def dp42_cross_embedding_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-corpus SEMANTIC near-dedup (datapipes/dedup.py
    dedup_cross_embedding): flag vectors cosine-similar (≥0.9) to a 20%
    hash-sampled reference corpus via shared seeded-hyperplane buckets +
    exact codegen cosine verify. max_bucket_size=None so the oracle
    replays the uncapped pipeline (the capped default is plan-gated in
    tests)."""
    emb = load_table(spark, sf, "embeddings")
    ref = emb.transform(_t("hash_sample", id_col="vec_id", fraction=0.2, seed="xe"))
    out = emb.transform(
        _t("dedup_cross_embedding", other_df=ref, mode="flag", threshold=0.9,
           num_planes=12, num_tables=4, dim=64, max_bucket_size=None)
    )
    return out.select("vec_id", "label", "near_reference")


def dp43_image_phash_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Perceptual image dedup (datapipes/multimodal.py
    multimodal_image_dedup): each doc gets a constructed 8×8 split PPM
    (left half color A, right half color B — both pure functions of
    doc_id), the REAL decode→thumbnail→aHash pipeline runs in Arrow-batched
    mapInPandas, and the oracle predicts the 64-bit aHash string
    arithmetically: bits follow which half is brighter (integer grayscale
    sums — no fp knife-edges), so a wrong stride, pooling, or threshold
    breaks the match."""
    docs = load_table(spark, sf, "documents")
    hexa = F.concat(*[F.lpad(F.hex(F.expr(e)), 2, "0") for e in
                      ("doc_id % 256", "(7*doc_id) % 256", "(13*doc_id) % 256")])
    hexb = F.concat(*[F.lpad(F.hex(F.expr(e)), 2, "0") for e in
                      ("(3*doc_id) % 256", "(5*doc_id) % 256", "(11*doc_id) % 256")])
    row = F.concat(F.repeat(hexa, 4), F.repeat(hexb, 4))
    payload = F.concat(
        F.lit("P6\n8 8\n255\n").cast("binary"), F.unhex(F.repeat(row, 8))
    )
    imgs = docs.select("doc_id", payload.alias("payload"))
    out = imgs.transform(_t("multimodal_image_dedup", keep="flagged"))
    return out.select(
        "doc_id", "ahash", "is_duplicate",
        F.col("dup_group_id").cast("long").alias("dup_group_id"),
    )


def dp44_lm_score_bigram(spark: SparkSession, sf: str) -> DataFrame:
    """Bigram conditional-LM scoring (datapipes/text.py
    text_lm_score_bigram): avg log10 P(w|prev) over each doc's bigrams,
    scaled-BIGINT log grid (no engine round()), top-500 bigram vocab with
    prefix-unigram conditioning; the oracle replays vocab, prefixes, and
    the integer log sums."""
    docs = load_table(spark, sf, "documents")
    out = docs.select("doc_id", "text").transform(
        _t("text_lm_score_bigram", top_v=500)
    )
    return out.select("doc_id", "n_scored_bigrams", "avg_logprob2")


def dp45_embedding_mean_pool(spark: SparkSession, sf: str) -> DataFrame:
    """Per-label embedding centroids (datapipes/embeddings.py
    embedding_mean_pool): components snap to a 1e-6 grid as BIGINTs and sum
    exactly, so the pooled means are partitioning-independent and the
    oracle replays them bit-for-bit (emitted as an md5 over the exact
    integer sums + the first component's mean)."""
    emb = load_table(spark, sf, "embeddings")
    out = emb.transform(_t("embedding_mean_pool", group_col="label"))
    return out.select(
        F.col("label").cast("int").alias("label"),
        "n_vectors",
        F.md5(F.concat_ws(",", F.col("pool_sums"))).alias("sums_md5"),
        F.element_at("embedding_mean", 1).alias("mean_c0"),
    )


def dp46_token_budget_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Token-budget mixture (datapipes/sampling.py token_budget_sample):
    downsample 'en' to 5000 tokens and 'zh' to 2000 in expectation, keep
    other languages whole — per-group keep fraction = budget/token-total,
    applied as the stable content-hash filter. The oracle replays the
    totals, thresholds, and hash filter."""
    docs = load_table(spark, sf, "documents")
    with_tokens = docs.selectExpr(
        "doc_id", "lang",
        "size(filter(split(trim(text), '\\\\s+'), t -> t != '')) AS n_tokens",
    )
    out = with_tokens.transform(
        _t("token_budget_sample", group_col="lang", token_col="n_tokens",
           budgets={"en": 5000, "zh": 2000}, seed="tb")
    )
    return out.select("doc_id", "lang", F.col("n_tokens").cast("long").alias("n_tokens"))


def dp47_line_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """C4-style corpus-wide line dedup (datapipes/text.py text_line_dedup):
    every doc gets a shared boilerplate middle line between two slices of
    its own text; the footer must survive only in the smallest doc id and
    vanish everywhere else. The oracle replays split → first-occurrence
    window → ordered reassembly."""
    docs = load_table(spark, sf, "documents")
    staged = docs.select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 60), F.lit("\n"),
            F.lit("COMMON FOOTER BOILERPLATE"), F.lit("\n"),
            F.substring("text", 61, 60),
        ).alias("text"),
    )
    out = staged.transform(_t("text_line_dedup"))
    return out.select(
        "doc_id",
        F.md5("text_deduped").alias("clean_md5"),
        F.col("n_lines_removed").cast("int").alias("n_lines_removed"),
    )


_DP48_PASSAGE = "common shared passage tokens appear in every document exactly once here"


def dp48_substring_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Exact substring dedup at 8-token granularity (datapipes/dedup.py
    dedup_substring_exact — the distributed Lee-et-al-style repeated-span
    cut): every doc gets an 11-token shared passage spliced into its own
    text; all repeated 8-token windows (the passage everywhere but its
    first corpus occurrence, plus any organic repeats) are removed and the
    text rebuilt. The oracle replays windows → first-occurrence rank →
    span expansion → anti join → ordered rebuild."""
    docs = load_table(spark, sf, "documents")
    staged = docs.select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 80), F.lit(" " + _DP48_PASSAGE + " "),
            F.substring("text", 81, 60),
        ).alias("text"),
    )
    out = staged.transform(_t("dedup_substring_exact", k=8))
    return out.select(
        "doc_id",
        F.md5("text_deduped").alias("clean_md5"),
        F.col("n_tokens_removed").cast("int").alias("n_tokens_removed"),
    )


def dp49_curation_report(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language curation funnel (datapipes/profiling.py
    curation_report): quality gates from text_quality_prune summarized as
    (lang, flag, n_rows, n_flagged, pct) in one aggregation pass; pct is a
    raw double division, replayed exactly by the oracle."""
    docs = load_table(spark, sf, "documents")
    flagged = docs.transform(
        _t("text_quality_prune", min_words=10, max_top_word_ratio=0.2)
    )
    return flagged.transform(
        _t("curation_report",
           flag_cols=["pass_word_count", "pass_stopwords", "quality_pass"],
           group_col="lang")
    )


def dp41_quantile_prune(spark: SparkSession, sf: str) -> DataFrame:
    """Top-fraction score pruning (datapipes/sampling.py quantile_prune):
    keep the longest 25% of documents (ties at the threshold included) via
    the histogram-cumsum threshold — no global sort, no per-row window."""
    docs = load_table(spark, sf, "documents")
    out = docs.transform(_t("quantile_prune", score_col="n_chars", keep_frac=0.25))
    return out.select("doc_id", "n_chars")


def dp129_group_quantile_prune(spark: SparkSession, sf: str) -> DataFrame:
    """PER-GROUP top-fraction pruning (datapipes/sampling.py
    quantile_prune with group_cols): keep the longest 30% of documents
    WITHIN EACH LANGUAGE — the standard per-language curation cut (a
    single global threshold lets a verbose language starve the others).
    Same histogram-cumsum threshold as dp41, partitioned by group; the
    groups-sized threshold table broadcasts."""
    docs = load_table(spark, sf, "documents")
    out = docs.transform(
        _t("quantile_prune", score_col="n_chars", keep_frac=0.3,
           group_cols=["lang"])
    )
    return out.select("doc_id", "lang", "n_chars")


def _le_hex(col, nbytes: int):
    """Little-endian hex of an integer column, ``nbytes`` wide — for
    constructing RIFF/WAV binary structures in pure SQL expressions."""
    h = F.lpad(F.hex(col), 2 * nbytes, "0")
    return F.concat(*[F.substring(h, 2 * i + 1, 2) for i in reversed(range(nbytes))])


def dp32_audio_decode(spark: SparkSession, sf: str) -> DataFrame:
    """REAL binary audio decode: each doc gets a constructed PCM16 WAV
    (sample count and constant amplitude are pure functions of doc_id),
    the numpy RIFF-walk decoder (datapipes/media_codecs.py decode_wav)
    parses the actual bytes inside Arrow-batched mapInPandas, and the
    oracle predicts duration/RMS/peak arithmetically — wrong chunk
    offsets, byte order, or normalization would break the match. Constant
    amplitude keeps RMS == peak == amp/32768 exact in fp."""
    docs = load_table(spark, sf, "documents")
    n = F.expr("16 + doc_id % 16")          # samples
    amp = F.expr("doc_id % 1000")           # constant int16 amplitude
    payload_hex = F.concat(
        F.lit("52494646"), _le_hex(F.lit(36) + n * 2, 4), F.lit("57415645"),
        F.lit("666D7420"), F.lit("10000000"),  # fmt chunk, 16 bytes
        F.lit("01000100"),                     # PCM, mono
        F.lit("401F0000"), F.lit("803E0000"),  # 8000 Hz, 16000 B/s
        F.lit("02001000"),                     # block align 2, 16 bit
        F.lit("64617461"), _le_hex(n * 2, 4),  # data chunk header
        F.repeat(_le_hex(amp, 2), n.cast("int")),
    )
    clips = docs.select("doc_id", F.unhex(payload_hex).alias("payload"))
    meta = clips.transform(_t("multimodal_audio_decode"))
    return meta.select(
        F.col("id").alias("doc_id"),
        "media_type",
        "codec",
        "sample_rate",
        "n_channels",
        "n_samples",
        "duration_s",
        "rms",
        "peak",
    )


def dp28_embedding_dedup_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding near-dup removal, LSH-bucketed scale path: hyperplane
    bucket candidates + exact cosine verify (datapipes/dedup.py
    dedup_embedding_cosine(method='lsh')). The seeded hyperplanes are
    re-derivable, so the oracle replays the full pipeline."""
    emb = load_table(spark, sf, "embeddings")
    # max_bucket_size=None: the oracle replays the UNCAPPED pipeline
    return emb.transform(
        _t("dedup_embedding_cosine", threshold=0.9, method="lsh",
           num_planes=12, num_tables=4, max_bucket_size=None)
    ).selectExpr("vec_id", "label")


def dp29_pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    """Context-window packing for training-sequence assembly: docs sharded
    by content hash, greedy-streaming pack assignment within each shard
    (datapipes/sampling.py pack_sequences). Summarized per pack so the
    result is compact; the oracle replays shard/cumsum/pack arithmetic."""
    docs = load_table(spark, sf, "documents")
    with_tokens = docs.selectExpr(
        "doc_id", "size(split(trim(text), '\\\\s+')) AS n_tokens"
    )
    packed = with_tokens.transform(
        _t("pack_sequences", token_col="n_tokens", id_col="doc_id",
           budget=512, shards=8)
    )
    # BIGINT-pinned projection on both engines (see dp18 note: DuckDB
    # HUGEINT sums materialize as float64 in pandas and break the driver's
    # dtype-sensitive hash).
    return packed.groupBy("pack_shard", "pack_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.min("doc_id").alias("first_doc"),
    ).select(
        F.col("pack_shard").cast("long").alias("pack_shard"),
        F.col("pack_id").cast("long").alias("pack_id"),
        "n_docs",
        "n_tokens",
        "first_doc",
    )


def dp30_asof_forward_tolerance(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join, FORWARD direction with a 24h tolerance: each click matches
    the user's EARLIEST purchase at-or-after the click, nulled out when it
    falls beyond 24h (datapipes/joins.py asof_join). Completes the asof
    surface the backward-direction dp16 doesn't cover, with the oracle as a
    windowed earliest-match formulation."""
    ev = load_table(spark, sf, "events")
    clicks = ev.filter("event_type = 'click'").select("event_id", "user_id", "ts")
    purchases = ev.filter("event_type = 'purchase'").select("user_id", "ts", "value")
    out = clicks.transform(
        _t(
            "asof_join",
            right=purchases,
            on=["user_id"],
            left_ts="ts",
            right_value_cols=["value"],
            direction="forward",
            tolerance=F.expr("INTERVAL 24 HOURS"),
            ts_match_col="next_ts",
        )
    )
    return out.select(
        "event_id",
        "user_id",
        epoch_us_ntz("ts").alias("click_us"),
        epoch_us_ntz("next_ts").alias("next_us"),
        F.round("value_matched", 6).alias("next_value"),
    )


def dp31_sessionize_boundary(spark: SparkSession, sf: str) -> DataFrame:
    """Session-gap BOUNDARY pin at driver scale: union events with a copy
    shifted exactly +gap (30 min), so every event has a companion precisely
    on the session boundary. Spark session_window merges exact-gap events
    (only a strictly greater gap breaks a session) and must agree with the
    oracle's lag/cumsum ``diff > gap`` formulation on every tie."""
    ev = load_table(spark, sf, "events").select("user_id", "ts")
    both = ev.unionByName(
        ev.select("user_id", (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("ts"))
    )
    sessions = both.transform(
        _t("sessionize", on=["user_id"], ts_col="ts", gap="30 minutes")
    )
    return sessions.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum("n_events").cast("long").alias("n_events"),
        epoch_us_ntz(F.max("session_start")).cast("long").alias(
            "last_session_start_us"
        ),
    )


def dp50_hopping_window(spark: SparkSession, sf: str) -> DataFrame:
    """Hopping-window event rates: 1 h windows sliding every 15 min per
    event_type via Spark's native F.window(ts, window, slide)
    (datapipes/joins.py hopping_window_agg) — the same operator runs under
    Structured Streaming with a watermark. Windows are epoch-aligned, so
    the oracle replays them with time_bucket minus k*slide offsets."""
    ev = load_table(spark, sf, "events")
    out = ev.transform(
        _t(
            "hopping_window_agg",
            group_cols=["event_type"],
            ts_col="ts",
            window="1 hour",
            slide="15 minutes",
            aggs={
                "n_users": "COUNT(DISTINCT user_id)",
                "sum_value": f"CAST(SUM({_dec('value')}) AS DOUBLE)",
            },
        )
    )
    return out.select(
        "event_type",
        epoch_us_ntz("window_start").cast("long").alias("w_start_us"),
        F.col("n_events").cast("long").alias("n_events"),
        F.col("n_users").cast("long").alias("n_users"),
        "sum_value",
    )


def dp51_winsorize(spark: SparkSession, sf: str) -> DataFrame:
    """Percentile winsorization of the heavy-tailed event value, per
    event_type (datapipes/numeric.py winsorize, method="exact" so the
    oracle's quantile_cont — the same linear-interpolation definition —
    replays the bounds; the approx sketch is the 100 TB default).
    Summarized per group: learned bounds, clip counts, clipped sum."""
    ev = load_table(spark, sf, "events")
    out = ev.transform(
        _t(
            "winsorize",
            value_col="value",
            group_cols=["event_type"],
            lower=0.05,
            upper=0.95,
            method="exact",
        )
    )
    return out.groupBy("event_type").agg(
        F.round(F.first("value_lo"), 6).alias("lo_r"),
        F.round(F.first("value_hi"), 6).alias("hi_r"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("value") < F.col("value_lo"), 1).otherwise(0))
        .cast("long")
        .alias("n_clipped_lo"),
        F.sum(F.when(F.col("value") > F.col("value_hi"), 1).otherwise(0))
        .cast("long")
        .alias("n_clipped_hi"),
        F.round(
            F.sum(F.expr(_dec("value_wins"))).cast("double"), 4
        ).alias("sum_wins"),
    )


def dp52_zscore_normalize(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language standardization of document length
    (datapipes/numeric.py zscore_normalize, population stddev): the
    mixing-comparability step before combining corpora. Doc-level z-scores
    rounded to 4 decimals — both engines aggregate exact integer n_chars,
    so the fp moment error (~1e-12 relative) is far inside the rounding."""
    docs = load_table(spark, sf, "documents")
    out = docs.transform(
        _t("zscore_normalize", value_col="n_chars", group_cols=["lang"], ddof=0)
    )
    return out.select(
        "doc_id", "lang", F.round("n_chars_z", 4).alias("z_r")
    )


def dp53_weighted_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Importance-weighted sampling (datapipes/sampling.py weighted_sample):
    keep each document with probability proportional to length
    (least(n_chars/2000, 1)) — the soft quality filter between hard pruning
    and uniform sampling. Deterministic md5-bucket membership, zero
    shuffle; the oracle replays hash, clamp, and FLOOR threshold."""
    docs = load_table(spark, sf, "documents")
    out = docs.transform(
        _t("weighted_sample", id_col="doc_id",
           prob_expr="n_chars / 2000.0", seed="w1")
    )
    return out.select("doc_id", "lang", "n_chars")


def dp54_trailing_window(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user 24 h trailing event velocity (datapipes/joins.py
    trailing_window_agg): RANGE-frame window on epoch micros — count and
    decimal-exact value sum of each user's events in [ts-24h, ts],
    attached to every event row."""
    ev = load_table(spark, sf, "events")
    out = ev.transform(
        _t(
            "trailing_window_agg",
            on=["user_id"],
            ts_col="ts",
            duration="24 hours",
            aggs={"sum_24h": f"SUM({_dec('value')})"},
        )
    )
    return out.select(
        "event_id",
        "user_id",
        epoch_us_ntz("ts").cast("long").alias("ts_us"),
        F.col("n_trailing").cast("long").alias("n_24h"),
        F.col("sum_24h").cast("double").alias("sum_24h"),
    )


def dp55_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered conversion funnel view→click→purchase per user
    (datapipes/events.py funnel): k chained whole-partition window minima
    over ONE user_id exchange — no per-stage joins. One row per user with
    stage-reach epochs, NULL where the ordered chain breaks."""
    ev = load_table(spark, sf, "events")
    out = ev.transform(
        _t("funnel", on=["user_id"], stage_col="event_type",
           stages=["view", "click", "purchase"], ts_col="ts")
    )
    return out.select(
        "user_id",
        epoch_us_ntz("stage1_ts").cast("long").alias("s1_us"),
        epoch_us_ntz("stage2_ts").cast("long").alias("s2_us"),
        epoch_us_ntz("stage3_ts").cast("long").alias("s3_us"),
    )


def dp56_cohort_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Weekly cohort retention (datapipes/events.py cohort_retention):
    users bucketed by first-seen week, counted each week they return;
    offsets in whole weeks. All shuffles on user_id."""
    ev = load_table(spark, sf, "events")
    out = ev.transform(_t("cohort_retention", on=["user_id"], ts_col="ts", bucket="week"))
    return out.select(
        F.date_format("cohort", "yyyy-MM-dd").alias("cohort_d"),
        F.col("period_offset").cast("long").alias("period_offset"),
        "n_active",
    )


def dp57_robust_scale(spark: SparkSession, sf: str) -> DataFrame:
    """Median/MAD robust standardization of event values per event_type
    (datapipes/numeric.py robust_scale, method="exact" so DuckDB's
    median/quantile_cont replays both passes). Doc-level scores rounded to
    4 decimals — both engines derive them from identical exact medians."""
    ev = load_table(spark, sf, "events")
    out = ev.transform(
        _t("robust_scale", value_col="value", group_cols=["event_type"],
           method="exact")
    )
    return out.select(
        "event_id", "event_type", F.round("value_robust", 4).alias("r_r")
    )


def dp58_quantile_summary(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group distribution fingerprint (datapipes/numeric.py
    quantile_summary): n + exact percentiles of event value per
    event_type, method="exact" so Spark's sort-based percentile (linear
    interpolation) replays as DuckDB quantile_cont. The approx sketch
    path (the 100 TB default) is pytest-covered against this one."""
    ev = load_table(spark, sf, "events")
    out = ev.transform(
        _t("quantile_summary", value_col="value", group_cols=["event_type"],
           probs=[0.25, 0.5, 0.9, 0.99], method="exact")
    )
    return out.select(
        "event_type", "n",
        F.round("p25", 4).alias("p25"),
        F.round("p50", 4).alias("p50"),
        F.round("p90", 4).alias("p90"),
        F.round("p99", 4).alias("p99"),
    )


def dp59_event_pivot(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user behavior feature vector: event log pivoted long→wide with
    explicit pivot values (datapipes/events.py pivot_agg) — two map-side-
    combined hash aggs ((user,type) cells, then pivotfirst on user), no
    value-discovery scan. Sums via DECIMAL(18,4) for exact cross-engine
    replay; empty count cells coalesced to 0."""
    ev = load_table(spark, sf, "events")
    out = ev.transform(
        _t("pivot_agg", on=["user_id"], pivot_col="event_type",
           values=["view", "click", "purchase"],
           aggs={"n": "count(1)",
                 "rev": "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)"})
    )
    return out.select(
        "user_id",
        F.coalesce("view_n", F.lit(0)).cast("long").alias("view_n"),
        F.coalesce("click_n", F.lit(0)).cast("long").alias("click_n"),
        F.coalesce("purchase_n", F.lit(0)).cast("long").alias("purchase_n"),
        F.round(F.coalesce("purchase_rev", F.lit(0.0)), 4).alias("purchase_rev"),
    )


def dp60_salted_join(spark: SparkSession, sf: str) -> DataFrame:
    """Skew-salted fact-to-dim join (datapipes/joins.py salted_join):
    events (hot user keys) joined to customer with the key widened by a
    deterministic 8-way salt — pair-for-pair identical to the plain join
    the oracle runs, which is exactly the operator's contract."""
    ev = load_table(spark, sf, "events")
    cust = load_table(spark, sf, "customer").selectExpr(
        "c_custkey AS user_id", "c_mktsegment"
    )
    joined = ev.select("user_id", "event_type", "value").transform(
        _t("salted_join", right=cust, on=["user_id"], salt=8)
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 4
        ).alias("revenue"),
    )


def dp61_keep_best_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-aware dedup survivors: MinHash connected components (same
    params as dp20) but keeping each cluster's LONGEST document (argmax
    n_chars, ties → smallest id) instead of the min-id member —
    dedup_connected_components keep="best" (datapipes/dedup.py). One extra
    component-keyed agg + join over dp20; no pairwise work."""
    docs = load_table(spark, sf, "documents")
    out = docs.transform(
        _t("dedup_connected_components", num_hashes=12, bands=4,
           shingle_size=3, keep="best", best_by="n_chars")
    )
    return out.select("doc_id", "n_chars")


def dp62_cluster_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Diversity-balanced embedding sampling (datapipes/similarity.py
    cluster_sample): one seeded-hyperplane LSH table buckets the space,
    each bucket keeps ceil(sqrt(size)) vectors by md5(id) order — dense
    clusters downweighted sublinearly. The oracle re-derives the seeded
    planes and replays bucket → sqrt cap → md5 pick exactly."""
    emb = load_table(spark, sf, "embeddings")
    out = emb.transform(
        _t("cluster_sample", num_planes=6, dim=64)
    )
    return out.select("vec_id", F.col("label").cast("long").alias("label"),
                      F.col("cluster_bucket").cast("long").alias("bucket"))


def dp63_cdc_chunk(spark: SparkSession, sf: str) -> DataFrame:
    """Content-defined chunking (datapipes/text.py text_cdc_chunk):
    boundaries where the rolling md5-fold of the trailing 8 tokens ≡ 0
    (mod 16) — edit-robust chunks for chunk-level dedup. Pure row-space
    array expressions; the oracle replays tokenize → boundary → slice
    with DuckDB list functions, chunk text compared by md5."""
    docs = load_table(spark, sf, "documents")
    # uppercase a prefix so the corpus is mixed-case: cdc_chunk is
    # case-PRESERVING (chunk_text must not be rewritten), and the oracle
    # replays with case-sensitive tokens — an all-lowercase corpus would
    # leave that contract untested (round-4 advice)
    docs = docs.withColumn(
        "text",
        F.concat(
            F.upper(F.expr("substring(text, 1, 20)")),
            F.expr("substring(text, 21)"),
        ),
    )
    out = docs.transform(_t("text_cdc_chunk", window=8, divisor=16))
    return out.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("chunk_n_tokens").cast("long").alias("n_toks"),
        F.md5("chunk_text").alias("chunk_md5"),
    )


def q23_rollup_grouping_sets(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-level ROLLUP through the engine: customer ⋈ nation ⋈ region
    (broadcast dims), then GROUP BY ROLLUP(region, nation) in a
    sql_transformation — per-nation rows, per-region subtotals, and the
    grand total in ONE pass (Spark expands grouping sets inside a single
    map-side-combined aggregation; no self-union of three aggs). NULL
    grouping keys are disambiguated with GROUPING() flags and coalesced
    labels, identically in the DuckDB oracle."""
    data = {
        "nation": load_table(spark, sf, "nation"),
        "region": load_table(spark, sf, "region"),
    }
    cust = load_table(spark, sf, "customer")
    joined = (
        cust.transform(
            _t(
                "join",
                data,
                join_with="nation",
                join_condition="a.c_nationkey = b.n_nationkey",
                select_cols=["a.c_acctbal", "b.n_name", "b.n_regionkey"],
            )
        )
        .transform(
            _t(
                "join",
                data,
                join_with="region",
                join_condition="a.n_regionkey = b.r_regionkey",
                select_cols=["a.c_acctbal", "a.n_name", "b.r_name"],
            )
        )
        .transform(
            _t(
                "sql_transformation",
                sql=f"""
                SELECT COALESCE(r_name, 'ALL') AS region,
                       COALESCE(n_name, 'ALL') AS nation,
                       CAST(GROUPING(r_name) * 2 + GROUPING(n_name) AS BIGINT)
                         AS gid,
                       COUNT(*) AS n_cust,
                       CAST(SUM({_dec('c_acctbal')}) AS DOUBLE) AS total_bal
                FROM lhe_current
                GROUP BY ROLLUP(r_name, n_name)
                """,
            )
        )
    )
    return joined.withColumn("n_cust", F.col("n_cust").cast("long"))


def dp64_ewma_anomaly(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user EWMA anomaly scoring (datapipes/stateful.py
    streaming_ewma_anomaly — the same operator runs streaming with
    checkpointed state; here its batch degradation). Events are
    pre-aggregated to one row per (user, ts) with an exact DECIMAL sum so
    the fold order is unique, then each value is z-scored against the
    exponentially weighted mean/variance before it. The oracle replays
    the EXACT recurrence with a DuckDB recursive CTE — same double
    arithmetic in the same per-key ts order."""
    ev = load_table(spark, sf, "events")
    series = ev.groupBy("user_id", "ts").agg(
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("v")
    )
    out = series.transform(
        _t("streaming_ewma_anomaly", on=["user_id"], value_col="v",
           ts_col="ts", alpha=0.25, threshold=2.5, min_periods=5)
    )
    # fixed-point micro-units instead of round(x, 6): both engines compute
    # floor(x*1e6 + 0.5) on bit-identical doubles, so no decimal-rounding
    # knife-edge (round() ties resolve differently between engines)
    return out.select(
        "user_id",
        epoch_us_ntz("ts").cast("long").alias("ts_us"),
        F.round("v", 4).alias("v"),
        F.floor(F.col("ewma") * 1e6 + 0.5).cast("long").alias("ewma_u"),
        F.floor(F.col("z") * 1e6 + 0.5).cast("long").alias("z_u"),
        "is_anomaly",
    )


def dp65_fuzzy_join(spark: SparkSession, sf: str) -> DataFrame:
    """Record linkage via blocking fuzzy join (datapipes/joins.py
    fuzzy_join): supplier names with one deterministically deleted
    character re-matched against the clean supplier table — candidates
    blocked on nation + length band (never all-pairs), Levenshtein ≤ 2
    verified in JVM codegen. The oracle replays the same mangling and a
    block-only join (bands prune only pairs that can't match, so results
    are identical)."""
    sup = load_table(spark, sf, "supplier")
    mangle = (
        "concat(substring(s_name, 1, pmod(s_suppkey, length(s_name))), "
        "substring(s_name, pmod(s_suppkey, length(s_name)) + 2))"
    )
    left = sup.selectExpr(
        "s_suppkey AS l_id", "s_nationkey", f"{mangle} AS name_m"
    )
    right = sup.select("s_suppkey", "s_nationkey", "s_name")
    out = left.transform(
        _t("fuzzy_join", right=right, left_col="name_m", right_col="s_name",
           max_distance=2, block_on=["s_nationkey"])
    )
    return out.select(
        "l_id",
        F.col("s_suppkey").alias("r_id"),
        F.col("distance").cast("long").alias("distance"),
    )


def dp66_scd2_build(spark: SparkSession, sf: str) -> DataFrame:
    """SCD2 history from a state stream (datapipes/history.py scd2_build):
    per-user event-type states (deduped to one per (user, ts)) become
    validity intervals with no-op updates suppressed — lag-filter-lead
    stacked on ONE user_id exchange. The oracle replays the identical
    window pipeline in SQL."""
    ev = load_table(spark, sf, "events")
    states = ev.groupBy("user_id", "ts").agg(
        F.min("event_type").alias("state")
    )
    out = states.transform(
        _t("scd2_build", key_cols=["user_id"], ts_col="ts",
           attr_cols=["state"])
    )
    return out.select(
        "user_id",
        "state",
        epoch_us_ntz("valid_from").cast("long").alias("from_us"),
        epoch_us_ntz("valid_to").cast("long").alias("to_us"),
        "is_current",
    )


def dp67_merge_intervals(spark: SparkSession, sf: str) -> DataFrame:
    """Interval union per user (datapipes/joins.py merge_intervals): each
    event opens a deterministic 1-30 min activity window, overlapping/
    touching windows collapse to maximal spans — running-max + span-id
    windows and the final agg all on ONE user_id partitioning. FLOOR'd
    minute derivation on both engines (double→int CAST truncates in Spark
    but rounds in DuckDB)."""
    ev = load_table(spark, sf, "events")
    iv = ev.selectExpr(
        "user_id",
        "ts AS s",
        "ts + make_dt_interval(0, 0, CAST(FLOOR(value % 30) AS INT) + 1, 0) AS e",
    )
    out = iv.transform(
        _t("merge_intervals", on=["user_id"], start_col="s", end_col="e")
    )
    return out.select(
        "user_id",
        epoch_us_ntz("s").cast("long").alias("from_us"),
        epoch_us_ntz("e").cast("long").alias("to_us"),
        "n_merged",
    )


def dp68_json_props(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-structured extraction through the engine's from_json
    transformer (explicit schema — no inference scan) then a per-type
    rollup of the extracted field: the JSON parse stays a codegen'd
    projection feeding one map-side-combined aggregation. Oracle extracts
    with DuckDB's JSON operators."""
    ev = load_table(spark, sf, "events")
    parsed = ev.transform(
        _t(
            "from_json",
            input_col="props",
            schema={
                "type": "struct",
                "fields": [{"name": "k", "type": "long",
                            "nullable": True, "metadata": {}}],
            },
        )
    )
    # from_json adds the parsed struct as `props_json` (reference
    # contract — original column kept); extract the field from it
    parsed = parsed.select("event_type", F.col("props_json.k").alias("k"))
    return parsed.select("event_type", "k").groupBy(
        "event_type"
    ).agg(
        F.count("k").cast("long").alias("n"),
        F.sum("k").cast("long").alias("sum_k"),
        F.min("k").cast("long").alias("min_k"),
        F.max("k").cast("long").alias("max_k"),
    )


def dp69_bpe_tokenize(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed BPE (datapipes/bpe.py): learn 30 CANONICAL merges from
    the documents corpus (word-frequency table training — one corpus
    pass, then vocabulary-sized rounds at merges_per_round=1), tokenize
    every document with the learned table (distinct-word pandas encode +
    broadcast dictionary join), and emit per-doc subword counts. Fully
    SQL-oracled since round 10: the DuckDB oracle UNROLLS the 30 training
    rounds (exactly as dp87 unrolls PageRank iterations) — each round
    re-counts weighted symbol pairs, picks argmax with the trainer's
    (count DESC, pair ASC) tie-break, and applies the merge with the
    dp69b double-space-padded replace (bit-exact left-to-right
    non-overlapping scan) — then recomputes each doc's piece count from
    the final per-word symbol strings. The batched merges_per_round>1
    trainer arm stays pinned against the pure-Python reference trainer
    in tests/test_datapipes.py."""
    docs = load_table(spark, sf, "documents")
    merges = docs.transform(
        _t("bpe_train", num_merges=30, merges_per_round=1)
    )
    enc = docs.transform(_t("bpe_encode", merges=merges))
    return enc.select(
        "doc_id",
        F.col("bpe_tokens_n").cast("long").alias("n_bpe"),
        F.md5(F.array_join("bpe_tokens", "")).alias("pieces_md5"),
    )


# Fixed, literal BPE merge table for dp69b: no training, so the encode
# step becomes fully deterministic and SQL-replayable. Chosen to exercise
# END-marker merges (e</w>, a</w>), chained merges (t+a→ta→tab→tabl→
# table</w>), and rank-order sensitivity ((r,o) before (o,w): "row"
# becomes [ro,w,</w>], while "window" still gets its (o,w) merge).
# Fixed WordPiece vocabulary for dp118: word-initial single letters,
# ##-prefixed continuation letters, and two-char pieces that make the
# greedy longest-match non-trivial on the synthetic corpus vocabulary.
WP_FIXED_VOCAB = (
    [chr(c) for c in range(ord("a"), ord("z") + 1)]
    + ["##" + chr(c) for c in range(ord("a"), ord("z") + 1)]
    + ["sc", "##an", "ta", "##ble", "th", "##e", "sl", "##ow", "fa",
       "##st", "ke", "##y", "ro", "##w", "ha", "##sh", "me", "##rge",
       "ba", "##tch", "sp", "##ark", "li", "##ne", "so", "##rt", "wi",
       "##ndow", "va", "##lue", "pa", "##rt", "ag", "##gg", "wh", "##ere",
       "jo", "##in", "gr", "##oup", "##ter", "##ing", "##er"]
)

BPE_FIXED_MERGES = [
    ("e", "</w>"), ("a", "</w>"), ("t", "h"), ("th", "e</w>"),
    ("t", "a"), ("ta", "b"), ("tab", "l"), ("tabl", "e</w>"),
    ("s", "c"), ("sc", "a"), ("a", "n"), ("r", "o"), ("o", "w"),
]


def dp69b_bpe_encode(spark: SparkSession, sf: str) -> DataFrame:
    """BPE ENCODE with a FIXED merge table (datapipes/bpe.py bpe_encode):
    the deterministic half of dp69, split out so the driver gets a full
    hash-match oracle row (the trainer stays rows-only — iterative, no
    SQL replay). Same production plan: distinct-word pandas encode,
    size-gated dictionary join, JVM per-doc reassembly. The DuckDB
    oracle replays the encoder's left-to-right non-overlapping merge
    scan exactly, via double-space-padded string replace chains (each
    boundary holds two spaces; a match consumes one from each side, so
    adjacent pairs stay matchable — bit-for-bit the apply_merges_py
    scan, validated over adversarial overlap words in tests)."""
    docs = load_table(spark, sf, "documents")
    merges = spark.createDataFrame(
        [(i, a, b, a + b) for i, (a, b) in enumerate(BPE_FIXED_MERGES)],
        "rank INT, left STRING, right STRING, merged STRING",
    )
    enc = docs.transform(_t("bpe_encode", merges=merges))
    return enc.select(
        "doc_id",
        F.col("bpe_tokens_n").cast("long").alias("n_bpe"),
        F.md5(F.array_join("bpe_tokens", "\x1f")).alias("pieces_md5"),
    )


def dp70_video_frames(spark: SparkSession, sf: str) -> DataFrame:
    """REAL video decode end-to-end: each doc gets a constructed 2-frame
    YUV4MPEG2 stream (gray 4x4 C444 frames whose Y level is a pure
    function of doc_id and frame index), multimodal_frame_sample's
    built-in y4m extractor (datapipes/media_codecs.py decode_y4m) parses
    the actual container in strict mode, each frame re-enters the image
    pipeline as PPM, and the oracle predicts the BT.601 luma→RGB
    arithmetic — wrong header parsing, plane math, or color conversion
    would all diverge."""
    docs = load_table(spark, sf, "documents")
    header = F.lit("YUV4MPEG2 W4 H4 F25:1 Ip A1:1 C444\n").cast("binary")

    def frame(f: int):
        y_hex = F.lpad(F.hex(F.expr(f"(doc_id * 13 + {f} * 29) % 220 + 16")), 2, "0")
        return F.concat(
            F.lit("FRAME\n").cast("binary"),
            F.unhex(F.repeat(y_hex, 16)),          # Y plane: 4x4 constant
            F.unhex(F.repeat(F.lit("80"), 32)),    # U + V planes: 128
        )

    vids = docs.select(
        "doc_id", F.concat(header, frame(0), frame(1)).alias("payload")
    )
    frames = vids.transform(
        _t("multimodal_frame_sample", max_frames=4, mode="strict")
    ).select(
        (F.col("id") * 4 + F.col("frame_idx")).alias("fid"),
        F.col("frame_bytes").alias("payload"),
    )
    meta = frames.transform(
        _t("multimodal_image_decode", id_col="fid")
    )
    return meta.select(
        F.floor(F.col("id") / 4).cast("long").alias("doc_id"),
        F.pmod(F.col("id"), 4).cast("long").alias("frame_idx"),
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.element_at("mean_rgb", 1).cast("double").alias("mean_r"),
    )


def q24_semi_anti_join(spark: SparkSession, sf: str) -> DataFrame:
    """Semi/anti joins through the engine join transformer (TPC-H
    Q4/Q21-style EXISTS / NOT EXISTS): per order-priority, how many 1995-H1
    orders have at least one slow lineitem (shipped >90 days after the
    order date; left_semi) and how many have none (left_anti) — both sides unioned into one labeled rollup. Both
    joins broadcast nothing extra: the semi/anti forms ship only the join
    key of the right side."""
    data = {"lineitem": load_table(spark, sf, "lineitem")}
    orders = load_table(spark, sf, "orders").transform(
        _t("expression_filter",
           exp="o_orderdate >= DATE'1995-01-01' AND o_orderdate < DATE'1995-07-01'")
    )
    late = ("a.o_orderkey = b.l_orderkey "
            "AND b.l_shipdate > a.o_orderdate + INTERVAL 90 DAYS")
    semi = orders.transform(
        _t("join", data, join_with="lineitem", join_condition=late,
           join_type="left_semi", select_cols=["a.o_orderpriority"])
    ).withColumn("kind", F.lit("has_late"))
    anti = orders.transform(
        _t("join", data, join_with="lineitem", join_condition=late,
           join_type="left_anti", select_cols=["a.o_orderpriority"])
    ).withColumn("kind", F.lit("none_late"))
    return semi.unionByName(anti).groupBy("o_orderpriority", "kind").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )


def dp71_trend_fit(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user OLS value-over-time trend (datapipes/numeric.py trend_fit):
    exact decimal moment sums — order-independent — one map-side-
    combined agg. Inputs are scaled (x = hours since a fixed 2024 epoch,
    y = integer cents) so every MOMENT stays below 2^53: DuckDB's
    HUGEINT→DOUBLE cast rounds differently from Java's above 2^53, so
    sub-2^53 moments are the cross-engine-exact contract (then both
    engines run identical IEEE double closed forms)."""
    ev = load_table(spark, sf, "events")
    xy = ev.select(
        "user_id",
        (F.floor(epoch_us_ntz("ts") / F.lit(3_600_000_000)) - 400_000)
        .cast("long").alias("x"),
        # y in exact cents: the decimal casts then carry no rounding
        F.floor(F.col("value") * 100).cast("long").alias("y"),
    )
    out = xy.transform(_t("trend_fit", x_col="x", y_col="y",
                          group_cols=["user_id"]))
    return out.select(
        "user_id", "n",
        F.floor(F.col("slope") * 1e9 + 0.5).cast("long").alias("slope_p"),
        F.floor(F.col("intercept") * 1e4 + 0.5).cast("long").alias("icpt_u"),
        F.floor(F.col("r2") * 1e8 + 0.5).cast("long").alias("r2_u"),
    )


def dp72_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-bin value histogram per event type (datapipes/profiling.py
    histogram): explicit bounds → ONE map-side-combined agg; the bucket
    formula replays identically in the oracle; out-of-range clamps to the
    edge buckets."""
    ev = load_table(spark, sf, "events")
    out = ev.transform(
        _t("histogram", value_col="value", bins=12, min_val=0.0,
           max_val=300.0, group_cols=["event_type"])
    )
    return out.select(
        "event_type", "bucket",
        F.round("lo", 4).alias("lo"), F.round("hi", 4).alias("hi"), "n",
    )


def dp73_weighted_sample_k(spark: SparkSession, sf: str) -> DataFrame:
    """Exactly-k weighted sampling without replacement per language
    (datapipes/sampling.py weighted_sample_k, A-Res): longer documents
    proportionally likelier, hard cap of 25 per lang, fully deterministic
    from hashed ids — the oracle replays hash → uniform → ln(u)/w →
    rank."""
    docs = load_table(spark, sf, "documents")
    out = docs.transform(
        _t("weighted_sample_k", k=25, weight_col="n_chars",
           id_col="doc_id", group_cols=["lang"], seed="s1")
    )
    return out.select("doc_id", "lang", "n_chars")


def dp74_lexical_diversity(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source lexical diversity (datapipes/text.py lexical_diversity):
    exact integer word counts → type-token ratio + inverse-Simpson
    effective vocabulary — order-independent (no per-term logs), so the
    oracle replays it exactly."""
    docs = load_table(spark, sf, "documents")
    out = docs.transform(_t("lexical_diversity", group_cols=["source"]))
    return out.select(
        "source", "n_tokens", "n_distinct",
        F.round("ttr", 6).alias("ttr"),
        F.round("inv_simpson", 4).alias("inv_simpson"),
    )


def dp75_snapshot_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Row-level snapshot diff (datapipes/diff.py snapshot_diff): today's
    orders = yesterday's minus every 97th key (removed), every 13th price
    bumped (changed), every 397th re-keyed high (added) — ONE full-outer
    key join + null-safe struct compare, summarized map-side. The oracle
    rebuilds the same perturbed snapshot and classification in SQL."""
    orders = load_table(spark, sf, "orders")
    new = (
        orders.filter("o_orderkey % 97 != 0")
        .withColumn(
            "o_totalprice",
            F.when(F.col("o_orderkey") % 13 == 0,
                   F.col("o_totalprice") + 1).otherwise(F.col("o_totalprice")),
        )
        .unionByName(
            orders.filter("o_orderkey % 397 = 0").withColumn(
                "o_orderkey", F.col("o_orderkey") + F.lit(1_000_000_000)
            )
        )
    )
    out = new.transform(
        _t("snapshot_diff", right=orders, key_cols=["o_orderkey"],
           compare_cols=["o_totalprice", "o_orderstatus"])
    )
    return out


def dp76_schema_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Schema/null drift report (datapipes/diff.py schema_drift): the new
    documents snapshot drops `source`, adds `extra`, narrows n_chars to
    int, and nulls half of `lang` — the report flags removed / added /
    type_changed / null_drift per column from one stats pass per side.
    The oracle recomputes both sides' null percentages and statuses."""
    docs = load_table(spark, sf, "documents")
    new = docs.drop("source").select(
        "doc_id", "text",
        F.when(F.col("doc_id") % 2 == 0, F.lit(None)).otherwise(
            F.col("lang")).alias("lang"),
        F.col("n_chars").cast("int").alias("n_chars"),
        F.lit(1).alias("extra"),
    )
    return new.transform(_t("schema_drift", right=docs))


def dp77_quality_model_filter(spark: SparkSession, sf: str) -> DataFrame:
    """Model-based quality scoring (datapipes/numeric.py linear_score): a
    logistic classifier exported as plain weights over the text quality
    features — the model is a literal in the plan, the score one
    codegen'd row expression (no UDF, no model server). Composes dp01's
    feature extraction; the oracle reuses dp01's SQL and applies the
    identical sigmoid (fixed-point micro-units)."""
    docs = load_table(spark, sf, "documents")
    feats = docs.transform(_t("text_quality_score"))
    scored = feats.transform(
        _t("linear_score", intercept=-1.0,
           weights={"quality_score": 3.0, "stopword_ratio": 1.5,
                    "punct_ratio": -4.0, "mean_word_len": 0.1})
    )
    return scored.select(
        "doc_id",
        F.floor(F.col("score") * 1e6 + 0.5).cast("long").alias("score_u"),
    )


def dp78_event_transitions(spark: SparkSession, sf: str) -> DataFrame:
    """Markov transition matrix of user event sequences
    (datapipes/events.py event_transitions): ties deduped to one event
    per (user, ts), one lag over the user window, map-side-combined pair
    counts, probabilities as exact count ratios."""
    ev = load_table(spark, sf, "events")
    seq = ev.groupBy("user_id", "ts").agg(F.min("event_type").alias("ev"))
    out = seq.transform(
        _t("event_transitions", on=["user_id"], event_col="ev",
           ts_col="ts", normalize=True)
    )
    return out.select(
        "from_event", "to_event", "n", F.round("p", 6).alias("p")
    )


def q25_scalar_subquery_avg(spark: SparkSession, sf: str) -> DataFrame:
    """Correlated-aggregate pattern (TPC-H Q17 shape) through the engine:
    revenue of lineitems ordering LESS than 20% of their part's average
    quantity — per-part averages from exact DECIMAL sums (broadcast back,
    never a per-row subquery execution), final sum exact then rounded."""
    li = load_table(spark, sf, "lineitem")
    li.createOrReplaceTempView("q25_lineitem")
    return spark.sql(
        f"""
        WITH avgq AS (
          SELECT l_partkey,
                 CAST(SUM({_dec('l_quantity')}) AS DOUBLE)
                   / COUNT(*) AS avg_qty
          FROM q25_lineitem GROUP BY l_partkey
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
               ROUND(CAST(SUM({_dec('l.l_extendedprice')}) AS DOUBLE) / 7.0, 2)
                 AS avg_yearly
        FROM q25_lineitem l JOIN avgq a ON l.l_partkey = a.l_partkey
        WHERE l.l_quantity < 0.2 * a.avg_qty
        """
    )


def dp79_gap_fill(spark: SparkSession, sf: str) -> DataFrame:
    """Dense per-user daily series (datapipes/joins.py gap_fill): daily
    activity buckets with every quiet day materialized as zeros between
    each user's first and last active day — grid from sequence() per key
    (proportional to output length), co-partitioned left join back."""
    ev = load_table(spark, sf, "events")
    out = ev.transform(
        _t("gap_fill", on=["user_id"], ts_col="ts", step="1 day",
           aggs={"n": "CAST(count(1) AS LONG)",
                 "v": "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)"},
           fill={"n": 0, "v": 0.0})
    )
    return out.select(
        "user_id",
        epoch_us_ntz("bucket").cast("long").alias("bucket_us"),
        F.col("n").cast("long").alias("n"),
        F.round("v", 4).alias("v"),
    )


def dp80_asof_nearest(spark: SparkSession, sf: str) -> DataFrame:
    """As-of NEAREST direction (datapipes/joins.py asof_join): each click
    matches the user's closest purchase in EITHER direction (ties →
    backward, pandas merge_asof semantics) — both directional passes
    share one user_id exchange. Purchases deduped to one per (user, ts)
    so the match payload is deterministic; oracle = per-click argmin of
    absolute distance with the same tie-break."""
    ev = load_table(spark, sf, "events")
    clicks = ev.filter("event_type = 'click'").select("event_id", "user_id", "ts")
    purchases = ev.filter("event_type = 'purchase'").groupBy("user_id", "ts").agg(
        F.min("value").alias("value")
    )
    out = clicks.transform(
        _t("asof_join", right=purchases, on=["user_id"], left_ts="ts",
           right_value_cols=["value"], direction="nearest",
           ts_match_col="near_ts")
    )
    return out.select(
        "event_id",
        "user_id",
        epoch_us_ntz("ts").cast("long").alias("click_us"),
        epoch_us_ntz("near_ts").cast("long").alias("near_us"),
        F.round("value_matched", 6).alias("near_value"),
    )


def dp81_text_clean(spark: SparkSession, sf: str) -> DataFrame:
    """Unicode/control cleanup (datapipes/text.py text_clean): every doc
    gets deterministic dirt appended (zero-width, bell, CRLF, newline
    runs, space runs), the regex pipeline scrubs it, and the oracle
    replays the same five replaces in RE2 — output compared by md5, so
    any byte divergence in the chain fails."""
    docs = load_table(spark, sf, "documents")
    dirty = docs.select(
        "doc_id",
        F.concat(
            F.col("text"), F.expr("chr(8203)"), F.lit("x"),
            F.expr("chr(7)"), F.expr("chr(13)"), F.expr("chr(10)"),
            F.expr("chr(10)"), F.expr("chr(10)"), F.expr("chr(10)"),
            F.lit("tail   end"), F.expr("chr(1)"),
        ).alias("text"),
    )
    out = dirty.transform(_t("text_clean"))
    return out.select("doc_id", F.md5("text").alias("clean_md5"))


def dp82_url_normalize(spark: SparkSession, sf: str) -> DataFrame:
    """URL canonicalization (datapipes/text.py url_normalize): constructed
    messy URLs (uppercase host, default port, tracking params, unsorted
    query, fragment) per doc — the oracle predicts the canonical form in
    closed form, so every normalization rule is checked end-to-end."""
    docs = load_table(spark, sf, "documents")
    urls = docs.select(
        "doc_id",
        F.concat(
            F.lit("HTTP://Example"), (F.col("doc_id") % 50).cast("string"),
            F.lit(".COM:80/p/"), (F.col("doc_id") % 20).cast("string"),
            F.lit("?utm_source=s"), F.col("doc_id").cast("string"),
            F.lit("&b=2&a=1#frag"),
        ).alias("url"),
    )
    out = urls.transform(_t("url_normalize"))
    return out.select("doc_id", F.col("url").alias("url_norm"))


def dp83_bm25_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Per-query top-k BM25 retrieval (datapipes/text.py text_bm25_topk):
    five fixed keyword queries against the documents corpus. Scores are
    computed in exact integer arithmetic (scaled-bigint idf over integer-
    argument log10s, rational tf-saturation, integer floor division), so
    the DuckDB oracle replays every contribution bit-for-bit — ranking,
    ties, and the emitted 4-dp doubles all match."""
    docs = load_table(spark, sf, "documents")
    qs = spark.createDataFrame(
        [
            (1, "hash join strategy"),
            (2, "window agg stream"),
            (3, "vector scan filter"),
            (4, "slow merge sort"),
            (5, "spark query plan"),
        ],
        "query_id LONG, query STRING",
    )
    # broadcast pinned (r15): the query set is 5 literal rows, so the
    # operator's default qterms.count() broadcast probe — one build-time
    # job plus its AQE stage materializations — decides nothing here.
    # Result-identical; the probe remains the default for unpinned
    # callers whose query sets can be corpus-scale.
    out = docs.transform(
        _t("text_bm25_topk", queries_df=qs, k=10, broadcast_queries=True)
    )
    return out.select(
        "query_id",
        "doc_id",
        "score",
        F.col("doc_rank").cast("long").alias("doc_rank"),
    )


def _fused_image_meta(ids: DataFrame, make_payloads) -> DataFrame:
    """Generate + decode constructed image corpora in ONE mapInPandas
    stage (r14, guide §4.1): the synthetic payload bytes are born and
    decoded inside the same Python task and never cross the JVM↔Python
    boundary. Pre-r14 shape was ArrowEvalPython(generate) →
    MapInPandas(decode) — two Python worker stages with an Arrow
    round-trip of every payload byte between them, pure overhead for a
    payload that exists only to be decoded. The decode body is the
    operator's own (``multimodal.image_meta_columns``, the single source
    of truth shared with ``multimodal_image_decode``), so the result is
    bit-identical to routing through the registered transformer —
    re-proved against the oracle for dp84/dp85/dp86. ``make_payloads``
    maps an id sequence to a same-length payload sequence."""
    import pandas as pd

    from lakehouse_engine_spark.datapipes.media_codecs import available_decoders
    from lakehouse_engine_spark.datapipes.multimodal import (
        IMAGE_META_SCHEMA,
        image_meta_columns,
    )

    decoders = available_decoders()

    def _batches(it):
        for pdf in it:
            yield pd.DataFrame(
                image_meta_columns(
                    pdf["doc_id"], make_payloads(pdf["doc_id"]), decoders
                )
            )

    return ids.mapInPandas(_batches, IMAGE_META_SCHEMA)


def dp84_png_decode(spark: SparkSession, sf: str) -> DataFrame:
    """REAL compressed-image decode with no codec library: each doc gets a
    constructed solid-color PNG (stdlib-zlib deflate, scanline filters
    cycling 0-4 per row so every un-filter path runs), the native decoder
    (datapipes/media_codecs.py _decode_png) inflates and un-filters the
    actual bytes inside Arrow-batched mapInPandas, and the oracle predicts
    width/height/channel means arithmetically — wrong chunk walking,
    inflate handling, filter inversion, or channel order would all break
    the match."""
    import numpy as np
    import pandas as pd

    from lakehouse_engine_spark.datapipes.media_codecs import encode_png

    def _make_png_fn(ids):
        payloads = []
        for i in ids:
            i = int(i)
            w, h = 4 + i % 5, 6
            arr = np.empty((h, w, 3), dtype=np.uint8)
            arr[:, :, 0] = i % 256
            arr[:, :, 1] = (3 * i) % 256
            arr[:, :, 2] = (7 * i) % 256
            payloads.append(encode_png(arr, row_filters=[y % 5 for y in range(h)]))
        return pd.Series(payloads)

    docs = load_table(spark, sf, "documents")
    # spread the Python PNG ENCODE (the payload construction itself)
    # before it runs: a single-file scan arrives as one partition and
    # would serialize ~n_docs stdlib-zlib encodes into one task (r14;
    # generation + decode share the task — see _fused_image_meta)
    ids = ensure_parallelism(docs.select("doc_id"))
    meta = _fused_image_meta(ids, _make_png_fn)
    return meta.select(
        F.col("id").alias("doc_id"),
        "media_type",
        "codec",
        "width",
        "height",
        F.element_at("mean_rgb", 1).cast("double").alias("mean_r"),
        F.element_at("mean_rgb", 2).cast("double").alias("mean_g"),
        F.element_at("mean_rgb", 3).cast("double").alias("mean_b"),
    )


def dp85_jpeg_decode(spark: SparkSession, sf: str) -> DataFrame:
    """REAL JPEG decode with no codec library: each sampled doc gets a
    solid-color baseline JFIF built by the pure-numpy encoder
    (datapipes/media_jpeg.py — DCT, flat quant, Annex-K Huffman), and the
    native decoder Huffman-decodes + IDCTs the actual entropy-coded bytes
    inside Arrow-batched mapInPandas. With flat quant tables a solid color
    survives entirely in the DC coefficients, so the decoded RGB equals
    the closed-form YCbCr half-up round-trip — which the oracle computes
    arithmetically (verified exhaustively for all 256 generated colors in
    tests). Docs sampled 1-in-10 to keep the serial entropy decode a
    sub-second bench line at sf0.1."""
    import numpy as np
    import pandas as pd

    from lakehouse_engine_spark.datapipes.media_jpeg import encode_jpeg

    def _make_jpeg_fn(ids):
        payloads = []
        for i in ids:
            i = int(i)
            arr = np.empty((8, 8 + 8 * (i % 2), 3), dtype=np.uint8)
            arr[:, :, 0] = i % 256
            arr[:, :, 1] = (5 * i) % 256
            arr[:, :, 2] = (11 * i) % 256
            payloads.append(encode_jpeg(arr))
        return pd.Series(payloads)

    docs = load_table(spark, sf, "documents").filter("doc_id % 10 = 0")
    # spread the serial pure-python JPEG encode (DCT+Huffman) — r14;
    # generation + decode fused into one Python stage (_fused_image_meta)
    ids = ensure_parallelism(docs.select("doc_id"))
    meta = _fused_image_meta(ids, _make_jpeg_fn)
    return meta.select(
        F.col("id").alias("doc_id"),
        "media_type",
        "codec",
        "width",
        "height",
        F.element_at("mean_rgb", 1).cast("double").alias("mean_r"),
        F.element_at("mean_rgb", 2).cast("double").alias("mean_g"),
        F.element_at("mean_rgb", 3).cast("double").alias("mean_b"),
    )


def dp86_gif_decode(spark: SparkSession, sf: str) -> DataFrame:
    """REAL GIF decode (datapipes/media_codecs.py _decode_gif): solid-color
    single-frame GIFs built by the real-LZW encoder per doc, decoded —
    LZW dictionary growth, color-table gather and descriptor parsing all
    on the actual bytes. Palette formats are EXACT, so the oracle is the
    input color itself (no rounding model needed, unlike JPEG)."""
    import numpy as np
    import pandas as pd

    from lakehouse_engine_spark.datapipes.media_codecs import encode_gif

    def _make_gif_fn(ids):
        payloads = []
        for i in ids:
            i = int(i)
            arr = np.empty((5, 3 + i % 6, 3), dtype=np.uint8)
            arr[:, :, 0] = i % 256
            arr[:, :, 1] = (9 * i) % 256
            arr[:, :, 2] = (17 * i) % 256
            payloads.append(encode_gif(arr))
        return pd.Series(payloads)

    docs = load_table(spark, sf, "documents")
    # spread the serial pure-python LZW encode — r14; generation +
    # decode fused into one Python stage (_fused_image_meta)
    ids = ensure_parallelism(docs.select("doc_id"))
    meta = _fused_image_meta(ids, _make_gif_fn)
    return meta.select(
        F.col("id").alias("doc_id"),
        "media_type",
        "codec",
        "width",
        "height",
        F.element_at("mean_rgb", 1).cast("double").alias("mean_r"),
        F.element_at("mean_rgb", 2).cast("double").alias("mean_g"),
        F.element_at("mean_rgb", 3).cast("double").alias("mean_b"),
    )


def dp87_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    """Iterative PageRank (datapipes/graph.py graph_pagerank): a synthetic
    2-out-degree link graph over the documents table, 5 fixed iterations.
    Ranks are exact scaled bigints (damping 17/20, integer floor-division
    contributions), so the oracle UNROLLS all five iterations in SQL and
    matches every node's rank bit-for-bit — an iterative distributed
    algorithm with a hard value oracle, not a rows-only check."""
    docs = load_table(spark, sf, "documents").select("doc_id")
    n = docs.count()
    e1 = docs.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * 7 + 13) % n).alias("dst"),
    )
    e2 = docs.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * 3 + 5) % n).alias("dst"),
    )
    out = e1.unionAll(e2).transform(_t("graph_pagerank", iterations=5))
    return out.select("node", "rank_s", "rank")


def dp88_binary_decompress(spark: SparkSession, sf: str) -> DataFrame:
    """Per-record decompression (datapipes/multimodal.py binary_decompress
    — the WARC-style ingestion primitive): each doc's text is gzip-
    compressed into a binary payload, the op auto-sniffs and inflates it,
    and the oracle checks md5(decompressed) == md5(original text) plus the
    decompressed byte count — a true compression round-trip through real
    gzip bytes, trivially predictable in SQL."""
    import gzip

    import pandas as pd

    def _gz_fn(texts):
        return pd.Series([gzip.compress(t.encode("utf-8"), 6) for t in texts])

    _gz = F.pandas_udf(_gz_fn, "binary")
    docs = load_table(spark, sf, "documents")
    packed = docs.select("doc_id", "text", _gz("text").alias("payload"))
    out = packed.transform(_t("binary_decompress"))
    return out.select(
        "doc_id",
        "raw_bytes",
        F.md5(F.col("payload_raw").cast("string")).alias("raw_md5"),
    )


def dp89_sentence_split(spark: SparkSession, sf: str) -> DataFrame:
    """Sentence segmentation (datapipes/text.py text_sentence_split):
    deterministic mixed terminators (. ! ?) injected into each doc so all
    boundary rules fire; the oracle replays collapse → RE2-portable
    extract → trim/filter → ordinal unnest. One row per sentence."""
    docs = load_table(spark, sf, "documents")
    staged = docs.select(
        "doc_id",
        F.expr(
            "concat(substring(text, 1, 40), '. ', substring(text, 41, 40),"
            " '! ', substring(text, 81, 40), '? ', substring(text, 121, 60))"
        ).alias("text"),
    )
    out = staged.transform(_t("text_sentence_split", min_chars=2))
    return out.select(
        "doc_id",
        F.col("sent_idx").cast("long").alias("sent_idx"),
        "sentence",
        F.col("sent_n_chars").cast("long").alias("n_chars"),
    )


def dp90_html_strip(spark: SparkSession, sf: str) -> DataFrame:
    """HTML boilerplate removal (datapipes/text.py text_html_strip): each
    doc wrapped in constructed HTML with script/style bodies (containing
    '<' and quotes), entities and comments — the oracle replays the exact
    regexp_replace chain (inline (?is)/(?s) flags work in both Java regex
    and RE2), so tag/entity/whitespace handling is checked end-to-end."""
    docs = load_table(spark, sf, "documents")
    staged = docs.select(
        "doc_id",
        F.expr(
            "concat('<html><head><style>.x{color:red}</style>',"
            " '<script>if(1<2){var y=\"q\";}</script></head><body><h1>',"
            " substring(text, 1, 30),"
            " '</h1><p>', substring(text, 31, 50),"
            " ' &amp; tail &lt;x&gt;</p><!-- note --></body></html>')"
        ).alias("text"),
    )
    out = staged.transform(_t("text_html_strip"))
    return out.select("doc_id", F.col("text_stripped").alias("clean"))


def dp91_lsh_bucket_stats(spark: SparkSession, sf: str) -> DataFrame:
    """LSH banding bucket-size histogram (datapipes/dedup.py
    lsh_bucket_stats — the max_bucket_size tuning tool): the oracle
    rebuilds the full MinHash banding (shared with dp06's oracle) and
    aggregates bucket sizes, so the monitoring numbers a user tunes caps
    by are value-verified, not just the dedup output."""
    docs = load_table(spark, sf, "documents")
    out = docs.transform(
        _t("lsh_bucket_stats", num_hashes=12, bands=4, shingle_size=3)
    )
    return out.select(
        F.col("bucket_size").cast("long").alias("bucket_size"),
        F.col("n_buckets").cast("long").alias("n_buckets"),
        F.col("n_docs").cast("long").alias("n_docs"),
    )


def dp92_image_resize(spark: SparkSession, sf: str) -> DataFrame:
    """Image resize pipeline chain (multimodal_image_resize →
    multimodal_image_decode): constructed solid PPMs resized to 2×3 and
    re-decoded — dims become the target, channel means stay the solid
    color (nearest-neighbor of a constant is the constant), so the whole
    resize→re-encode→decode loop is value-verified."""
    docs = load_table(spark, sf, "documents")
    w = F.expr("4 + doc_id % 5")
    h = F.lit(3)
    px_hex = F.concat(
        *[F.lpad(F.hex(F.expr(e)), 2, "0") for e in
          ("doc_id % 256", "(7*doc_id) % 256", "(13*doc_id) % 256")]
    )
    payload = F.concat(
        F.concat(F.lit("P6\n"), w.cast("string"), F.lit(" "), h.cast("string"),
                 F.lit("\n255\n")).cast("binary"),
        F.unhex(F.repeat(px_hex, (w * h).cast("int"))),
    )
    imgs = docs.select("doc_id", payload.alias("payload"))
    resized = imgs.transform(_t("multimodal_image_resize", width=2, height=3))
    meta = resized.select(
        F.col("id").alias("doc_id"), "payload"
    ).transform(_t("multimodal_image_decode"))
    return meta.select(
        F.col("id").alias("doc_id"),
        "codec",
        "width",
        "height",
        F.element_at("mean_rgb", 1).cast("double").alias("mean_r"),
        F.element_at("mean_rgb", 2).cast("double").alias("mean_g"),
        F.element_at("mean_rgb", 3).cast("double").alias("mean_b"),
    )


def dp93_audio_resample(spark: SparkSession, sf: str) -> DataFrame:
    """Audio resample chain (multimodal_audio_resample →
    multimodal_audio_decode): dp32's constructed 8 kHz PCM16 WAVs
    downsampled to 4 kHz and re-decoded. Constant signals survive linear
    interpolation exactly, so peak/rms stay amp/32768; the output frame
    count follows numpy's banker's rounding of n/2, which the oracle
    reproduces in closed form — byte re-encoding, RIFF rebuild and the
    resampler's length arithmetic all value-verified."""
    docs = load_table(spark, sf, "documents")
    n = F.expr("16 + doc_id % 16")
    amp = F.expr("doc_id % 1000")
    payload_hex = F.concat(
        F.lit("52494646"), _le_hex(F.lit(36) + n * 2, 4), F.lit("57415645"),
        F.lit("666D7420"), F.lit("10000000"),
        F.lit("01000100"),
        F.lit("401F0000"), F.lit("803E0000"),
        F.lit("02001000"),
        F.lit("64617461"), _le_hex(n * 2, 4),
        F.repeat(_le_hex(amp, 2), n.cast("int")),
    )
    clips = docs.select("doc_id", F.unhex(payload_hex).alias("payload"))
    resampled = clips.transform(_t("multimodal_audio_resample", target_rate=4000))
    meta = resampled.select(
        F.col("id").alias("doc_id"), "payload"
    ).transform(_t("multimodal_audio_decode"))
    return meta.select(
        F.col("id").alias("doc_id"),
        "codec",
        "sample_rate",
        "n_samples",
        "rms",
        "peak",
    )


def dp94_running_totals(spark: SparkSession, sf: str) -> DataFrame:
    """streaming_running_totals' batch degradation (datapipes/stateful.py):
    per-user totals + budget flag over one 'micro-batch' containing
    everything — the smoke-test contract ACONs use before pointing the
    same spec at a stream. Plain aggregate oracle."""
    ev = load_table(spark, sf, "events")
    out = ev.transform(
        _t("streaming_running_totals", on=["user_id"], value_col="value",
           budget=500.0)
    )
    return out.select(
        "user_id",
        "batch_rows",
        F.round("total_value", 4).alias("total_value"),
        "budget_exceeded",
    )


def dp95_approx_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """Bounded-state HyperLogLog distinct (datapipes/stateful.py
    streaming_approx_distinct, batch path — same sketch the streaming
    state store carries): md5-fold hashing and an EXACT integer harmonic
    sum make the whole estimator deterministic, so the oracle rebuilds
    the 64 registers and the estimate in SQL and matches the count
    BIT-FOR-BIT — an approximate algorithm under an exact oracle. Values
    are integerized (floor of cents — explicit floor because Spark's
    double->BIGINT cast truncates while DuckDB's rounds) so Python str()
    and SQL VARCHAR casts hash identical strings."""
    ev = load_table(spark, sf, "events")
    staged = ev.select(
        "user_id", F.expr("CAST(floor(value * 100) AS BIGINT)").alias("v")
    )
    out = staged.transform(
        _t("streaming_approx_distinct", on=["user_id"], value_col="v",
           precision=6)
    )
    return out.select("user_id", "batch_rows", "approx_distinct")


def dp96_g711_decode(spark: SparkSession, sf: str) -> DataFrame:
    """G.711 telephony decode (datapipes/media_codecs.py LUT expansion):
    per doc a constructed WAV of 8 constant companded bytes — μ-law
    (format 7) for even ids, A-law (format 6) for odd — decoded through
    multimodal_audio_decode. The G.711 expansion is pure integer
    arithmetic (segment/mantissa shifts), and mag·2⁻¹⁵ is exactly
    representable in float32, so the oracle computes the expected PEAK
    closed-form and matches bit-for-bit (rms is float32-accumulated and
    stays pytest-tolerance territory — deliberately not selected)."""
    docs = load_table(spark, sf, "documents")
    fmt_hex = F.expr("IF(doc_id % 2 = 0, '0700', '0600')")  # mu : a (LE)
    byte = F.expr("doc_id % 256")
    n = F.lit(8)
    payload_hex = F.concat(
        F.lit("52494646"), _le_hex(F.lit(36) + n, 4), F.lit("57415645"),
        F.lit("666D7420"), F.lit("10000000"),
        fmt_hex, F.lit("0100"),                 # format, mono
        F.lit("401F0000"), F.lit("401F0000"),   # 8000 Hz, 8000 B/s
        F.lit("01000800"),                      # align 1, 8 bit
        F.lit("64617461"), _le_hex(n, 4),
        F.repeat(F.lpad(F.hex(byte), 2, "0"), 8),
    )
    clips = docs.select("doc_id", F.unhex(payload_hex).alias("payload"))
    meta = clips.transform(_t("multimodal_audio_decode"))
    return meta.select(
        F.col("id").alias("doc_id"),
        "codec",
        "sample_rate",
        "n_samples",
        "peak",
    )


def dp97_semantic_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup-style centroid-blocked semantic dedup (datapipes/dedup.py
    dedup_semantic_centroid, after Abbas et al. 2023): one broadcast
    centroid assignment (the knn_ivf md5-smallest centroid convention),
    pairwise cosine verify ONLY within a cluster, min-id survivors — the
    O(N·C + Σcluster²) alternative to the LSH bucket join for corpora
    curated around K-means clusters. The oracle replays centroids,
    best-cosine assignment (ties → larger centroid id, Spark's
    max(struct) order), in-cluster pairs, and the no-smaller-verified-
    neighbor survivor rule."""
    emb = load_table(spark, sf, "embeddings")
    return emb.transform(
        _t("dedup_semantic_centroid", threshold=0.9, num_centroids=16, dim=64)
    ).select("vec_id", "label")


def dp98_ngram_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus n-gram statistics (datapipes/text.py text_ngram_counts):
    top-40 bigrams by total count with document frequency — the table
    behind contamination sweeps and boilerplate detection. One map-side-
    combined groupBy on the n-gram string; top-k via
    TakeOrderedAndProject, no global sort."""
    docs = load_table(spark, sf, "documents")
    return docs.transform(_t("text_ngram_counts", n=2, k=40))


def dp99_hash_embedding(spark: SparkSession, sf: str) -> DataFrame:
    """Feature-hashing document vectors (datapipes/text.py
    text_hash_embedding, the Weinberger et al. hashing trick): model-free
    array<double> embeddings from raw text — the bridge that lets the
    embedding family (semantic dedup, cosine dedup, ANN) run on text-only
    corpora. Cell values are exact ±1 sums so the md5-fold bucketing and
    the whole vector replay bit-for-bit; the query emits the integer
    cells as an md5 plus the (order-independent, exactly-summed) L2
    norm."""
    docs = load_table(spark, sf, "documents")
    out = docs.transform(
        _t("text_hash_embedding", dim=32, normalize=False)
    )
    vec = F.col("hash_embedding")
    return out.select(
        "doc_id",
        F.md5(
            F.concat_ws(
                ",", F.transform(vec, lambda v: v.cast("long").cast("string"))
            )
        ).alias("cells_md5"),
        F.size(F.filter(vec, lambda v: v != 0)).cast("long").alias("n_nonzero"),
        F.sqrt(
            F.aggregate(vec, F.lit(0.0), lambda s, v: s + v * v)
        ).alias("norm"),
    )


def dp100_unimax_sample(spark: SparkSession, sf: str) -> DataFrame:
    """UniMax language-balanced sampling (datapipes/sampling.py
    unimax_sample, after Chung et al. 2023): a total token budget
    water-filled across languages — small languages keep everything up
    to their epoch cap, large languages share the remaining waterline
    equally. Allocation is exact integer arithmetic (sorted caps,
    running ``(B − prefix) div remaining`` waterline), so the DuckDB
    oracle replays the full allocation AND the stable-hash row filter;
    the query emits realized per-language doc and token counts."""
    docs = load_table(spark, sf, "documents")
    kept = docs.transform(
        _t("unimax_sample", budget_tokens=30_000, group_col="lang")
    )
    tok = F.size(
        F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda t: t != "")
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(tok.cast("long")).alias("kept_tokens"),
    )


def dp101_reservoir_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Bounded-state streaming quantiles (datapipes/stateful.py
    streaming_reservoir_quantiles): per-user value quantiles from a
    DETERMINISTIC hash-priority reservoir — the k rows with the smallest
    md5-fold(event_id) priorities, a uniform mergeable sample the oracle
    reproduces exactly (unlike a randomized reservoir). Batch arm shown
    here (one window pass); the same operator carries the sample in the
    state store under streaming (restart-pinned in tests)."""
    ev = load_table(spark, sf, "events")
    return ev.transform(
        _t("streaming_reservoir_quantiles", on=["user_id"],
           value_col="value", id_col="event_id", k=64, probs=[0.5, 0.9])
    )


def dp102_decontaminate_bloom(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom-filter decontamination (datapipes/text.py decontaminate_bloom):
    the constant-size-sidecar scale path — the benchmark (every 50th doc)
    folds into a fixed 2^16-bit bitmap (3 md5-derived probes per 8-gram),
    the corpus probe is pure codegen bitwise tests against one broadcast
    map, NO corpus-side join. Bit positions follow the md5-fold convention,
    so DuckDB replays the exact bitmap INCLUDING any false-positive
    collisions — the one-sided error is itself oracle-verified."""
    docs = load_table(spark, sf, "documents")
    bench = docs.filter("doc_id % 50 = 0")
    out = docs.transform(
        _t(
            "text_decontaminate_bloom",
            benchmark_df=bench,
            ngram=8,
            num_bits=1 << 16,
            num_hashes=3,
        )
    )
    return out.select("doc_id", "n_bloom_hit_ngrams", "maybe_contaminated")


def dp103_zorder_layout(spark: SparkSession, sf: str) -> DataFrame:
    """Z-order clustering key (datapipes/layout.py layout_zorder): orders
    keyed on (o_custkey, o_orderdate) with 16 bits per dimension — one
    min/max pass broadcast as a single stats row, then pure-codegen integer
    quantization (SQL `div`, no float rounding) and bit interleaving, then
    repartitionByRange on the key (the write-side layout step that makes
    min/max file skipping work on BOTH dimensions at 100 TB). The key
    arithmetic is exact integer, so DuckDB replays it bit-for-bit."""
    orders = load_table(spark, sf, "orders")
    out = orders.transform(
        _t(
            "layout_zorder",
            cols=["o_custkey", "o_orderdate"],
            bits_per_col=16,
            num_partitions=8,
        )
    )
    return out.select("o_orderkey", "o_custkey", "zorder_key")


def dp104_zorder_rank(spark: SparkSession, sf: str) -> DataFrame:
    """Rank-CDF Z-order (layout_zorder method='rank'): buckets equalize ROW
    MASS per dimension — (rows_before(v) * 2^bits) div N over the distinct-
    value CDF — which is what skewed dimensions need (min/max scaling parks
    a power-law column's rows in a handful of buckets). o_totalprice is a
    continuous double and o_custkey a dense id; both CDFs and the
    interleave replay exactly in DuckDB (pure integer arithmetic on exact
    cumulative counts — ties share buckets deterministically)."""
    orders = load_table(spark, sf, "orders")
    out = orders.transform(
        _t(
            "layout_zorder",
            cols=["o_totalprice", "o_custkey"],
            bits_per_col=16,
            method="rank",
        )
    )
    return out.select("o_orderkey", "zorder_key")


def dp105_stream_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming exact dedup, batch arm (datapipes/stateful.py
    streaming_dedup_exact): keep each content digest's smallest-id row with
    the digest attached — identical semantics to the streaming arm's
    first-arrival filter, whose cross-micro-batch + restart behavior is
    pinned in tests/test_stateful.py (state = one tinyint per digest,
    optional sliding TTL for unbounded streams)."""
    docs = load_table(spark, sf, "documents")
    out = docs.transform(_t("streaming_dedup_exact", id_col="doc_id"))
    return out.select("doc_id", "content_digest")


def dp106_temperature_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-scaled mixture sampling (datapipes/sampling.py
    temperature_sample, the T5/mT5 convention): 30k-token budget split
    across languages ∝ n^(1/2) — per-group weights are integer square
    roots, so allocation and keep thresholds are pure integer arithmetic
    the oracle replays exactly; membership is the stable content-hash
    filter shared by the whole sampling family."""
    docs = load_table(spark, sf, "documents")
    out = docs.transform(
        _t(
            "temperature_sample",
            budget_tokens=30000,
            temperature=2.0,
            group_col="lang",
            id_col="doc_id",
        )
    )
    return out.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(
            F.size(F.filter(F.split(F.trim("text"), r"\s+"), lambda t: t != ""))
        )
        .cast("long")
        .alias("kept_tokens"),
    )


def dp107_profile_skew(spark: SparkSession, sf: str) -> DataFrame:
    """Key-skew diagnostics (datapipes/profiling.py profile_skew): top-10
    heaviest (lang, source) keys of the document corpus with share and
    cumulative share — the read-before-you-shuffle table that decides
    whether a key needs salting. One map-side-combined groupBy + a
    TakeOrdered top-k; no global sort of the distinct-key table."""
    docs = load_table(spark, sf, "documents")
    return docs.transform(
        _t("profile_skew", key_cols=["lang", "source"], top_k=10)
    )


def dp108_corpus_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-level n-gram overlap audit (datapipes/text.py
    corpus_overlap_stats): documents vs the every-7th-doc subset — one row
    of distinct-gram counts, Jaccard, and both containments (the eval-set
    leakage number). Both sides reduce to distinct md5 digests; the
    intersection is one hash-keyed semi-join."""
    docs = load_table(spark, sf, "documents")
    other = docs.filter("doc_id % 7 = 0")
    return docs.transform(_t("corpus_overlap_stats", other_df=other, ngram=8))


def dp114_gopher_rules(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher quality-rule battery (datapipes/text.py text_gopher_rules,
    Rae et al. 2021 §A1.1): per-document boolean flags for word count,
    mean word length, symbol ratio, bullet/ellipsis lines, alphabetic
    words and stopword presence, plus the combined keep bit — every
    threshold an exact integer cross-multiplication, so the oracle
    replays each flag bit-for-bit."""
    docs = load_table(spark, sf, "documents")
    out = docs.transform(_t("text_gopher_rules", min_words=30))
    return out.select(
        "doc_id", "rule_word_count", "rule_mean_word_len",
        "rule_symbol_ratio", "rule_bullet_lines", "rule_ellipsis_lines",
        "rule_alpha_words", "rule_stopwords", "gopher_keep",
    )


def dp115_dsir_score(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR importance scoring (datapipes/text.py text_dsir_score, Xie
    et al. 2023): hashed unigram+bigram bucket distributions of the
    full corpus (source) vs its English slice (target); per-doc log
    importance weight on the exact scaled-log grid — bit-replayed by
    the oracle's full pipeline (hash buckets, add-one smoothing,
    integer log snaps)."""
    docs = load_table(spark, sf, "documents")
    target = docs.filter("lang = 'en'")
    out = docs.transform(
        _t("text_dsir_score", target_df=target)
    )
    return out.select("doc_id", "lang", "dsir_score")


def dp116_pq_encode(spark: SparkSession, sf: str) -> DataFrame:
    """Product-quantization encoding (datapipes/clustering.py
    embedding_pq_encode): 64-dim embeddings -> 4 subspace codes against
    md5-sampled 16-entry codebooks on the exact integer grid, plus the
    exact reconstruction residual. Codes posexploded to scalar rows for
    the driver canonicalizer; the oracle replays quantize -> codebook
    slice -> per-subspace argmin -> summed residual bit-for-bit."""
    emb = load_table(spark, sf, "embeddings")
    out = emb.transform(_t("embedding_pq_encode", m=4, k=16))
    return out.select(
        "vec_id",
        F.posexplode("pq_code").alias("subspace", "code"),
        F.col("pq_code_dist").alias("pq_dist"),
    )


def dp117_knn_pq(spark: SparkSession, sf: str) -> DataFrame:
    """PQ asymmetric-distance ANN (datapipes/clustering.py knn_pq): the
    corpus stored as dp116's codes, queries scored by exact integer
    LUT sums over the codes — top-5 per query, ties to the smaller
    neighbor id. Oracle replays codebooks -> codes -> per-subspace LUT
    joins -> rank bit-for-bit."""
    emb = load_table(spark, sf, "embeddings")
    return emb.transform(
        _t("knn_pq", k=5, m=4, num_codes=16, query_filter="vec_id < 10")
    )


def dp118_wordpiece_encode(spark: SparkSession, sf: str) -> DataFrame:
    """WordPiece ENCODE with a fixed vocabulary (datapipes/bpe.py
    wordpiece_encode — the BERT greedy longest-match-first scheme,
    complementing dp69b's BPE merge scan). Same production plan:
    distinct-word pandas encode, size-gated dictionary join, JVM
    reassembly. The oracle replays the greedy scan EXACTLY: a
    (word, position) longest-piece table from the shared vocab literal,
    then a deterministic recursive walk — any unmatched position or
    over-long word collapses to [UNK], as in the operator."""
    docs = load_table(spark, sf, "documents")
    vocab = spark.createDataFrame(
        [(p,) for p in WP_FIXED_VOCAB], "piece STRING"
    )
    enc = docs.transform(
        _t("wordpiece_encode", vocab=vocab, lowercase=True)
    )
    return enc.select(
        "doc_id",
        F.col("wp_tokens_n").cast("long").alias("n_wp"),
        F.size(F.filter("wp_tokens", lambda t: t == "[UNK]"))
        .cast("long")
        .alias("n_unk"),
        F.md5(F.array_join("wp_tokens", "\x1f")).alias("pieces_md5"),
    )


def dp119_decontaminate_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Surgical span-removal decontamination (datapipes/text.py
    text_decontaminate_spans, the GPT-3/PaLM appendix procedure): every
    50th document plays the eval set; matching 8-gram spans are CUT and
    the clean remainders kept as fragments (shards under 5 tokens
    pruned). The oracle replays gram match -> contaminated ranges ->
    gaps-and-islands fragmentation bit-for-bit."""
    docs = load_table(spark, sf, "documents")
    bench = docs.filter("doc_id % 50 = 0").selectExpr(
        "doc_id AS bid", "text"
    )
    out = docs.transform(
        _t(
            "text_decontaminate_spans",
            benchmark_df=bench,
            ngram=8,
            min_fragment_tokens=5,
        )
    )
    return out.select(
        "doc_id",
        F.col("n_fragments").cast("int").alias("n_fragments"),
        "n_removed_tokens",
        F.md5(F.array_join("clean_fragments", "\x1f")).alias("frags_md5"),
    )


def dp120_dup_line_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicate-line repetition stats (datapipes/text.py
    text_dup_line_stats — the duplicate-line half of Gopher §A1.1,
    complementing dp22's word/n-gram cells). The single-line synthetic
    docs are given a deterministic line structure first (every ' a '
    becomes a newline in BOTH engines); fractions are single IEEE
    divisions of exact counts, so the oracle matches bit-for-bit."""
    docs = load_table(spark, sf, "documents")
    lined = docs.withColumn(
        "text", F.expr("replace(text, ' a ', chr(10))")
    )
    out = lined.transform(_t("text_dup_line_stats"))
    return out.select(
        "doc_id", "n_lines", "n_dup_lines", "dup_line_frac", "dup_char_frac"
    )


def dp121_graph_components(spark: SparkSession, sf: str) -> DataFrame:
    """Connected components (datapipes/graph.py graph_connected_components
    — alternating large-star/small-star, the O(log^2 n)-round algorithm
    near-dup clustering needs on high-diameter graphs). The edge graph is
    deterministic and ADVERSARIAL for naive min-propagation: doc_ids form
    50-node chain blocks (diameter 49), and blocks (3k, 3k+1) are bridged
    into 100-node paths; self-loops register every doc as a node so
    isolated tails still appear. Components are labeled by their minimum
    node id — exact, engine-independent — and the oracle replays
    reachability with a recursive CTE, not the generator's closed form,
    so a labeling bug cannot cancel out."""
    docs = load_table(spark, sf, "documents").select("doc_id")
    chain = (
        docs.where(F.col("doc_id") % 50 != 49)
        .join(docs.select(F.col("doc_id").alias("dst")),
              F.col("doc_id") + 1 == F.col("dst"))
        .select(F.col("doc_id").alias("src"), "dst")
    )
    bridge = (
        docs.where((F.col("doc_id") % 150 == 0))
        .join(docs.withColumnRenamed("doc_id", "dst"),
              F.col("doc_id") + 50 == F.col("dst"))
        .select(F.col("doc_id").alias("src"), "dst")
    )
    loops = docs.select(F.col("doc_id").alias("src"),
                        F.col("doc_id").alias("dst"))
    edges = chain.unionAll(bridge).unionAll(loops)
    out = edges.transform(_t("graph_connected_components"))
    return out.select(
        F.col("node").cast("long").alias("node"),
        F.col("component").cast("long").alias("component"),
    )


def dp122_pca_moments(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed PCA, oracle surface (datapipes/embeddings.py
    embedding_pca mode="stats"): the EXACT integer second-moment table
    the eigendecomposition derives from — upper-triangle Gram cells over
    1024-grid-quantized components, per-dim sums, and the row count, all
    int64 (order-independent, bit-replayable). One Arrow-batched pass +
    one (i, j)-keyed combine; shuffle volume is O(partitions * dim^2),
    independent of corpus size. The float eigh/projection half is pinned
    by tests/test_datapipes.py against a transparent numpy replay (sign
    convention: largest-|entry| positive)."""
    emb = load_table(spark, sf, "embeddings")
    out = emb.transform(_t("embedding_pca", mode="stats"))
    return out.select("i", "j", "sxy")


def dp123_frequent_terms(spark: SparkSession, sf: str) -> DataFrame:
    """Exact corpus heavy hitters (datapipes/text.py text_frequent_terms):
    per-partition Misra-Gries candidate summaries (bounded k counters —
    at most k rows per partition reach the shuffle, independent of
    vocabulary size) + one exact recount pass over just the candidates.
    Output is EXACT — every term at >= 0.4% of total token occurrences
    with its true count — so the oracle is a plain tokenize/count/HAVING
    replay; the candidate machinery can only ever be proven wrong by it,
    never excused."""
    docs = load_table(spark, sf, "documents")
    out = docs.transform(_t("text_frequent_terms", min_support=0.004))
    return out.select("term", "n", "support")


def dp124_word_pmi(spark: SparkSession, sf: str) -> DataFrame:
    """Collocation mining (datapipes/text.py text_word_pmi): top adjacent
    word pairs by pointwise mutual information among pairs seen >= 4
    times. Every log has an integer argument snapped to the 1e-4 grid as
    a scaled bigint (the lm_score convention), so the oracle replays
    pmi_s/pmi bit-for-bit; ties break (w1, w2)-ascending."""
    docs = load_table(spark, sf, "documents")
    out = docs.transform(_t("text_word_pmi", k=40, min_count=4))
    return out.select("w1", "w2", "n_ab", "pmi_s", "pmi")


UG_FIXED_VOCAB = tuple(
    [(c, -30000) for c in "abcdefghijklmnopqrstuvwxyz0123456789"]
    + [
        ("th", -14000), ("he", -15000), ("in", -15000), ("er", -15000),
        ("an", -15000), ("re", -15000), ("on", -15000), ("at", -15000),
        ("en", -15000), ("nd", -15000), ("ti", -15000), ("es", -15000),
        ("or", -15000), ("te", -15000), ("ed", -15000), ("is", -15000),
        ("it", -15000), ("al", -15000), ("ar", -15000), ("st", -15000),
        ("to", -15000), ("nt", -15000), ("ng", -16000), ("se", -15000),
        ("the", -9000), ("ing", -9500), ("and", -9000), ("ion", -9500),
        ("tio", -9500), ("ent", -9500), ("ati", -9500), ("for", -9000),
        ("her", -9500), ("ter", -9500), ("hat", -9500), ("tha", -9500),
        ("ere", -9500), ("ate", -9500), ("his", -9500), ("con", -9500),
        ("res", -9500), ("ver", -9500),
    ]
)


def dp125_unigram_encode(spark: SparkSession, sf: str) -> DataFrame:
    """Unigram-LM ENCODE with a fixed piece table (datapipes/bpe.py
    unigram_encode — the SentencePiece Viterbi scheme, completing the
    tokenizer trio next to dp69b's BPE merge scan and dp118's WordPiece
    greedy match). Scores are caller-supplied INTEGERS, so the whole
    pipeline is exact arithmetic; the tie-break (max score, fewest
    pieces, smallest chr(1)-joined path) is a total order the oracle
    replays by EXHAUSTIVE path enumeration over <= 12-char words in a
    recursive CTE, then per-document reassembly in word order."""
    docs = load_table(spark, sf, "documents")
    vocab = spark.createDataFrame(
        list(UG_FIXED_VOCAB), "piece STRING, logp_s LONG"
    )
    enc = docs.transform(
        _t("unigram_encode", vocab=vocab, lowercase=True, max_word_len=12)
    )
    return enc.select(
        "doc_id",
        F.col("ug_tokens_n").cast("long").alias("n_ug"),
        F.size(F.filter("ug_tokens", lambda t: t == "[UNK]"))
        .cast("long")
        .alias("n_unk"),
        F.col("ug_tokens_score_s").alias("score_s"),
        F.md5(F.array_join("ug_tokens", "\x1f")).alias("pieces_md5"),
    )


def dp126_mixture_plan(spark: SparkSession, sf: str) -> DataFrame:
    """Mixture planner (datapipes/sampling.py mixture_plan): integer-parts
    target weights + a token budget -> per-group plan (budget share,
    epoch-capped plan tokens, ppm sampler rate, epochs, shortfall).
    Exact floor-division arithmetic end to end; one pushed-down-filtered
    map-side aggregate is the only corpus-sized work. Includes a group
    absent from the corpus (available=0, fully capped) and a cap-binding
    group."""
    docs = load_table(spark, sf, "documents")
    out = docs.transform(
        _t(
            "mixture_plan",
            group_col="lang",
            weights={"en": 60, "de": 20, "fr": 15, "xx": 5},
            budget_tokens=2_000_000,
            token_col="n_chars",
            max_epochs_ppm=1_500_000,
        )
    )
    return out.select(
        "lang", "parts", "available", "desired_tokens", "plan_tokens",
        "capped", "sample_rate_ppm", "epochs_ppm", "shortfall_tokens",
    )


def _hilbert_level_ctes(bits: int, carry: str) -> str:
    """Per-level CTE chain replaying layout_hilbert's unrolled xy2d
    recursion (quadrant digit + reflect/rotate) — shared shape between
    the dp127 oracle and any future hilbert query."""
    n_full = (1 << bits) - 1
    parts = []
    prev = "l_in"
    for step, i in enumerate(range(bits - 1, -1, -1)):
        s = 1 << i
        name = f"l{step}"
        parts.append(
            f"""{name} AS (
              SELECT {carry},
                CASE WHEN ((y >> {i}) & 1) = 0 THEN
                  CASE WHEN ((x >> {i}) & 1) = 1
                       THEN {n_full} - y ELSE y END
                ELSE x END AS x,
                CASE WHEN ((y >> {i}) & 1) = 0 THEN
                  CASE WHEN ((x >> {i}) & 1) = 1
                       THEN {n_full} - x ELSE x END
                ELSE y END AS y,
                d + CAST({s * s} AS BIGINT)
                    * xor(3 * ((x >> {i}) & 1), (y >> {i}) & 1) AS d
              FROM {prev})"""
        )
        prev = name
    return ",\n".join(parts), prev


def dp127_hilbert_layout(spark: SparkSession, sf: str) -> DataFrame:
    """Hilbert-curve clustering key (datapipes/layout.py layout_hilbert):
    orders keyed on (o_custkey, o_orderdate), 8 bits per dimension — the
    same minmax bucket arithmetic as dp103's z-order (shared helper),
    then the xy2d quadrant/rotate recursion unrolled one level per bit.
    All integer CASE arithmetic; the oracle replays the recursion as a
    chain of per-level CTEs, bit for bit. See tools/scale_probes.py
    hilbert_vs_zorder_spans for the measured file-skipping
    comparison against the Morton key."""
    orders = load_table(spark, sf, "orders")
    out = orders.transform(
        _t(
            "layout_hilbert",
            cols=["o_custkey", "o_orderdate"],
            bits_per_col=8,
            num_partitions=8,
        )
    )
    return out.select("o_orderkey", "o_custkey", "hilbert_key")


def dp128_frequent_bigrams(spark: SparkSession, sf: str) -> DataFrame:
    """Exact heavy hitters over word BIGRAMS (datapipes/text.py
    text_frequent_terms ngram=2) — the regime the Misra-Gries candidate
    pass exists for: distinct shingles grow without bound at corpus
    scale, but the candidate shuffle stays capped at k rows/partition.
    Output is exact (superset + recount), so the oracle is a plain
    shingle/count/HAVING replay. The support bar returns rows at every
    checked scale: 316 bigrams at sf0.01, 79 at sf0.1 (the corpus's top
    bigram there has support 0.00134)."""
    docs = load_table(spark, sf, "documents")
    out = docs.transform(
        _t("text_frequent_terms", min_support=0.0012, ngram=2)
    )
    return out.select("term", "n", "support")


def dp109_unicode_normalize(spark: SparkSession, sf: str) -> DataFrame:
    """Unicode NFC normalization (datapipes/text.py unicode_normalize) —
    the documented Python-path op (Arrow-batched pandas_udf over
    unicodedata; the JVM has no normalizer expression). The oracle
    cross-checks Python's UAX#15 implementation against DuckDB's
    nfc_normalize on every document digest, plus the changed-row flag."""
    docs = load_table(spark, sf, "documents")
    out = docs.transform(
        _t("text_unicode_normalize", output_col="norm_text", form="NFC",
           flag_changed=True)
    )
    return out.select(
        "doc_id",
        F.md5("norm_text").alias("norm_digest"),
        "unicode_changed",
    )


def _rp_sign(seed: str, i: int, j: int) -> int:
    """Shared ±1 weight derivation for dp110's Spark op and oracle."""
    import hashlib

    h = hashlib.md5(f"{seed}:{i}:{j}".encode()).hexdigest()
    return 1 if int(h[0], 16) < 8 else -1


def dp110_random_projection(spark: SparkSession, sf: str) -> DataFrame:
    """JL random projection (datapipes/embeddings.py
    embedding_random_projection): 64-dim float embeddings → 16-dim via a
    seeded Rademacher matrix scaled 1/sqrt(16) — unrolled index-order ±
    sums on IEEE doubles, so the oracle (same literal weights, same term
    order) reproduces every projected component bit-for-bit. Output is
    posexploded to one (vec_id, dim_idx, component) row per projected
    component: scalar doubles the driver canonicalizer can sort/hash
    (a raw array<double> column is unhashable in its pandas bridge),
    while still value-pinning the entire projection. The lazy
    localCheckpoint between projection and explode is load-bearing:
    collapsed into one stage, the 1024-term array lands inside the
    Generate's single codegen method, blows Janino's 64 KB limit, and
    the whole query falls back to interpreted eval (measured 3.2 s vs
    1.2 s; the projection alone compiles fine)."""
    emb = load_table(spark, sf, "embeddings")
    out = emb.transform(
        _t("embedding_random_projection", out_dim=16, seed="rp")
    )
    base = out.select("vec_id", "embedding_rp").localCheckpoint(eager=False)
    return base.select(
        "vec_id", F.posexplode("embedding_rp").alias("dim_idx", "component")
    )


def dp111_interval_overlap_join(spark: SparkSession, sf: str) -> DataFrame:
    """Interval × interval overlap join (datapipes/joins.py
    interval_overlap_join): two order-derived interval sets (3-day vs
    2-day windows) paired per priority where they overlap — both sides
    bucket-exploded into a pure equi-join, each overlapping pair kept at
    its FIRST shared bucket (algebraic dedup, no distinct), in-row
    fail-fast on exploding spans."""
    orders = load_table(spark, sf, "orders")
    left = orders.filter("o_orderkey % 7 = 0").select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_orderdate").alias("s"),
        F.expr("o_orderdate + make_interval(0, 0, 0, 3)").alias("e"),
    )
    right = orders.filter("o_orderkey % 11 = 0").select(
        F.col("o_orderkey").alias("rk"),
        "o_orderpriority",
        F.col("o_orderdate").alias("s"),
        F.expr("o_orderdate + make_interval(0, 0, 0, 2)").alias("e"),
    )
    out = left.transform(
        _t(
            "interval_overlap_join",
            right=right,
            on=["o_orderpriority"],
            left_start="s",
            left_end="e",
            right_start="s",
            right_end="e",
            bucket_width=2 * 86_400_000_000,
        )
    )
    return out.select(
        "o_orderkey", F.col("rk_r").alias("rk"), "o_orderpriority"
    )


def _kmeans_oracle_sql(k: int, iters: int) -> str:
    """Unrolled-CTE DuckDB replay of embedding_kmeans (exact integer
    arithmetic end-to-end, so every iteration matches bit-for-bit):
    quantize -> md5-ordered init -> (assign, floor-div update) x iters ->
    final assign. Mirrors datapipes/clustering.py's stated semantics."""

    def assign(i: int, prev: str) -> str:
        d = (
            f"list_sum(list_transform(list_zip(q.v, {prev}.v),"
            " p -> (p[1]-p[2])*(p[1]-p[2])))"
        )
        return (
            f"a{i} AS (SELECT id, c, d FROM ("
            f"SELECT q.id, {prev}.c, {d} AS d,"
            f" row_number() OVER (PARTITION BY q.id ORDER BY {d}, {prev}.c) AS rn"
            f" FROM q CROSS JOIN {prev}) WHERE rn = 1)"
        )

    def update(i: int, prev: str) -> str:
        return (
            f"u{i} AS (SELECT c, i, sum(x) AS s, count(*) AS n FROM ("
            f"SELECT a{i}.c AS c, unnest(generate_series(1, len(q.v))) AS i,"
            f" unnest(q.v) AS x FROM a{i} JOIN q USING (id)) GROUP BY c, i), "
            f"c{i} AS (SELECT {prev}.c,"
            f" CASE WHEN uu.c IS NULL THEN {prev}.v ELSE uu.lv END AS v"
            f" FROM {prev} LEFT JOIN ("
            f"SELECT c, list(CASE WHEN s >= 0 THEN s // n"
            f" ELSE -((-s + n - 1) // n) END ORDER BY i) AS lv"
            f" FROM u{i} GROUP BY c) uu ON {prev}.c = uu.c)"
        )

    ctes = [
        "q AS (SELECT vec_id AS id, list_transform(embedding,"
        " x -> CAST(floor(CAST(x AS DOUBLE)*1024.0 + 0.5) AS BIGINT)) AS v"
        " FROM embeddings)",
        "c0 AS (SELECT row_number() OVER"
        " (ORDER BY md5(CAST(id AS VARCHAR)), id) - 1 AS c, v"
        f" FROM q ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT {k})",
    ]
    prev = "c0"
    for t in range(1, iters + 1):
        ctes.append(assign(t, prev))
        ctes.append(update(t, prev))
        prev = f"c{t}"
    ctes.append(assign(iters + 1, prev))
    return (
        "WITH " + ", ".join(ctes) + " SELECT id AS vec_id, c::INT AS cluster,"
        f" d::BIGINT AS cluster_dist FROM a{iters + 1}"
    )


def _kmeans_hier_oracle_sql(k1: int, k2: int, it1: int, it2: int) -> str:
    """Unrolled-CTE DuckDB replay of embedding_kmeans_hier: the flat
    trainer's level-1 CTEs, then per-cell md5-ordered sub-init and
    ``it2`` confined Lloyd rounds with the same exact integer algebra
    (ties -> smallest sub id, floor-div updates, empty keeps previous).
    Fine-round CTEs are MATERIALIZED — each is referenced by both the
    next round's assign and update, so inlining would compound."""
    flat = _kmeans_oracle_sql(k1, it1)
    head, _tail = flat.rsplit(" SELECT id AS vec_id", 1)
    final_a = f"a{it1 + 1}"
    ctes = [
        head,
        f"pts AS MATERIALIZED (SELECT q.id, q.v, {final_a}.c AS g"
        f" FROM q JOIN {final_a} USING (id))",
        "s0 AS MATERIALIZED (SELECT g, sc, v FROM ("
        "SELECT g, v, row_number() OVER (PARTITION BY g"
        " ORDER BY md5(CAST(id AS VARCHAR)), id) - 1 AS sc"
        f" FROM pts) WHERE sc < {k2})",
    ]

    def fassign(i: int, prev: str) -> str:
        d = (
            f"list_sum(list_transform(list_zip(p.v, {prev}.v),"
            " z -> (z[1]-z[2])*(z[1]-z[2])))"
        )
        return (
            f"fa{i} AS MATERIALIZED (SELECT id, g, sc, d FROM ("
            f"SELECT p.id, p.g, {prev}.sc, {d} AS d,"
            f" row_number() OVER (PARTITION BY p.id ORDER BY {d}, {prev}.sc) AS rn"
            f" FROM pts p JOIN {prev} ON p.g = {prev}.g) WHERE rn = 1)"
        )

    def fupdate(i: int, prev: str) -> str:
        return (
            f"fu{i} AS (SELECT g, sc, i, sum(x) AS s, count(*) AS n FROM ("
            f"SELECT fa{i}.g, fa{i}.sc, unnest(generate_series(1, len(p.v))) AS i,"
            f" unnest(p.v) AS x FROM fa{i} JOIN pts p USING (id)) GROUP BY g, sc, i), "
            f"s{i} AS MATERIALIZED (SELECT {prev}.g, {prev}.sc,"
            f" CASE WHEN uu.g IS NULL THEN {prev}.v ELSE uu.lv END AS v"
            f" FROM {prev} LEFT JOIN ("
            f"SELECT g, sc, list(CASE WHEN s >= 0 THEN s // n"
            f" ELSE -((-s + n - 1) // n) END ORDER BY i) AS lv"
            f" FROM fu{i} GROUP BY g, sc) uu"
            f" ON {prev}.g = uu.g AND {prev}.sc = uu.sc)"
        )

    prev = "s0"
    for t in range(1, it2 + 1):
        ctes.append(fassign(t, prev))
        ctes.append(fupdate(t, prev))
        prev = f"s{t}"
    ctes.append(fassign(it2 + 1, prev))
    return (
        ", ".join(ctes)
        + f" SELECT id AS vec_id, g::INT AS cluster_coarse, sc::INT AS cluster_fine,"
        f" (g * {k2} + sc)::INT AS cluster, d::BIGINT AS cluster_dist"
        f" FROM fa{it2 + 1}"
    )


def _duck_knn_ivf_hier(
    k: int, k1: int, k2: int, it1: int, it2: int, nprobe: int
) -> str:
    """Mirror of knn_ivf_hier: the hierarchical-quantizer CTEs define the
    cells; each cell's probing centroid is the exact floor-div mean of its
    members' quantized vectors; queries rank cells by exact squared grid
    distance (ties -> smaller cell id), probe nprobe, exact-cosine re-rank
    on the raw embeddings (ties -> smaller neighbor id)."""
    hier = _kmeans_hier_oracle_sql(k1, k2, it1, it2)
    head, _ = hier.rsplit(" SELECT id AS vec_id", 1)
    fa = f"fa{it2 + 1}"
    grid = (
        "list_sum(list_transform(list_zip(q2.qv, c.cv),"
        " z -> (z[1]-z[2])*(z[1]-z[2])))"
    )
    return f"""{head},
        vr AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
               WHERE embedding IS NOT NULL),
        asg AS (SELECT id, g * {k2} + sc AS cell FROM {fa}),
        mem AS (SELECT a.id, a.cell, q.v AS qv FROM asg a JOIN q ON q.id = a.id),
        cent AS (
          SELECT cell,
                 list(CASE WHEN s >= 0 THEN s // n
                      ELSE -((-s + n - 1) // n) END ORDER BY i) AS cv
          FROM (
            SELECT cell, i, SUM(x) AS s, COUNT(*) AS n FROM (
              SELECT cell,
                     unnest(generate_series(1, len(qv))) AS i,
                     unnest(qv) AS x
              FROM mem
            ) GROUP BY 1, 2
          ) GROUP BY cell
        ),
        qs AS (SELECT id AS query_id, qv FROM mem WHERE id < 10),
        probes AS (
          SELECT query_id, cell FROM (
            SELECT q2.query_id, c.cell,
                   ROW_NUMBER() OVER (
                     PARTITION BY q2.query_id
                     ORDER BY {grid} ASC, c.cell ASC) AS rn
            FROM qs q2 CROSS JOIN cent c
          ) WHERE rn <= {nprobe}
        ),
        scored AS (
          SELECT p.query_id, m.id AS neighbor_id,
                 ROUND({_DUCK_COSINE}, 6) AS score
          FROM probes p
          JOIN mem m ON m.cell = p.cell AND m.id <> p.query_id
          JOIN vr a ON a.vec_id = p.query_id
          JOIN vr b ON b.vec_id = m.id
        )
        SELECT query_id, neighbor_id, score, rank FROM (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
          FROM scored
        ) WHERE rank <= {k}
    """


def _duck_prototype_prune(k: int, iters: int, keep_frac: float) -> str:
    """Mirror of dp133: the flat trainer's CTEs give (id, cluster, dist);
    the per-cluster cut replays quantile_prune's histogram-cumsum
    threshold with higher_is_better=False (ascending cum over the exact
    bigint distances, threshold = smallest score whose at-or-better
    population reaches ceil(frac*n), ties kept)."""
    flat = _kmeans_oracle_sql(k, iters)
    head, _ = flat.rsplit(" SELECT id AS vec_id", 1)
    fa = f"a{iters + 1}"
    return f"""{head},
        asg AS (SELECT id, c, d FROM {fa}),
        hist AS (SELECT c, d AS s, COUNT(*) AS cnt FROM asg GROUP BY 1, 2),
        cum AS (
          SELECT c, s,
                 SUM(cnt) OVER (PARTITION BY c ORDER BY s ASC
                                ROWS UNBOUNDED PRECEDING) AS cm,
                 SUM(cnt) OVER (PARTITION BY c) AS n
          FROM hist
        ),
        thr AS (
          SELECT c, MIN(s) AS t FROM cum
          WHERE cm >= CEIL(n * {keep_frac}) GROUP BY c
        )
        SELECT asg.id AS vec_id, asg.c::INT AS cluster,
               asg.d::BIGINT AS cluster_dist
        FROM asg JOIN thr USING (c)
        WHERE asg.d <= thr.t
    """


def _duck_semantic_hier(
    threshold: float, k1: int, k2: int, it1: int, it2: int
) -> str:
    """Mirror of dedup_semantic_hier (keep="all"): the hierarchical-
    quantizer CTEs define the cells (dp130's exact integer algebra);
    pairs form within a cell among norm>0 vectors, a vector's
    dup_group_id is the SMALLEST same-cell id verifying at
    cosine >= threshold (null embeddings and zero-norm vectors never
    pair, so they always survive)."""
    hier = _kmeans_hier_oracle_sql(k1, k2, it1, it2)
    head, _ = hier.rsplit(" SELECT id AS vec_id", 1)
    fa = f"fa{it2 + 1}"
    return f"""{head},
        asg AS (SELECT id, g * {k2} + sc AS cell FROM {fa}),
        v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
              WHERE embedding IS NOT NULL
                AND list_reduce(list_transform(embedding::DOUBLE[],
                      x -> x*x), (x,y) -> x+y) > 0),
        heads AS (
          SELECT a.vec_id AS id, MIN(b.vec_id) AS g
          FROM v a
          JOIN asg ca ON ca.id = a.vec_id
          JOIN asg cb ON cb.cell = ca.cell AND cb.id < a.vec_id
          JOIN v b ON b.vec_id = cb.id
          WHERE {_DUCK_COSINE} >= {threshold}
          GROUP BY a.vec_id
        )
        SELECT e.vec_id,
               h.g AS dup_group_id,
               (h.g IS NOT NULL AND h.g < e.vec_id) AS is_duplicate
        FROM embeddings e LEFT JOIN heads h ON e.vec_id = h.id
    """


def dp131_knn_ivf_hier(spark: SparkSession, sf: str) -> DataFrame:
    """Two-level IVF ANN (datapipes/similarity.py knn_ivf_hier): inverted
    lists = the hierarchical quantizer's 4x4 cells, probing centroids =
    exact floor-div cell means on the integer grid, nprobe=3 probing with
    exact-cosine in-list re-rank — the FAISS coarse-quantizer pattern for
    list counts past the flat trainer's MAX_K cap, replayed bit-for-bit
    by the unrolled hierarchical oracle."""
    emb = load_table(spark, sf, "embeddings")
    return emb.transform(
        _t(
            "knn_ivf_hier",
            k=5,
            k_coarse=4,
            k_fine=4,
            coarse_iterations=1,
            fine_iterations=1,
            nprobe=3,
            query_filter="vec_id < 10",
        )
    )


_DP147_SHARED = (
    "this boilerplate disclaimer paragraph appears on every page of the site"
)


def dp151_char_entropy(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc character-distribution entropy (datapipes/text.py
    text_char_entropy): the garbled-text/base64-blob detector on the
    exact scaled-log2 grid — log2(n) − Σc·log2(c)/n with every log on
    floor(x·1e4+0.5) BIGINTs, one final double division. Oracle replays
    the char explode, the grid, and the algebra."""
    docs = load_table(spark, sf, "documents")
    return docs.select("doc_id", "text").transform(
        _t("text_char_entropy")
    ).select("doc_id", "char_entropy", "n_chars_counted")


def dp150_streaming_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Batch arm of streaming_topk_score (datapipes/stateful.py): per-user
    top-5 events by value — best-score-wins per id then one window rank,
    the pure function of the (id -> best score) map the stream maintains
    in O(k) state (order/batch/restart independence pytest-pinned)."""
    ev = load_table(spark, sf, "events")
    return ev.transform(
        _t(
            "streaming_topk_score",
            on=["user_id"],
            id_col="event_id",
            score_col="value",
            k=5,
        )
    )


BYTE_BPE_FIXED_MERGES = [
    ("t", "h"), ("th", "e"), ("a", "n"), ("an", "d"), ("i", "n"),
    ("e", "r"), ("r", "o"), ("ro", "w"), ("s", "c"), ("sc", "a"),
    ("sca", "n"), ("Ã", "©"),
]

# dp159: the byte table extended with Ġ (space-byte) merges — the
# space-prefixed pieces a GPT-2 vocabulary is mostly made of; only
# reachable under pretokenizer="gpt2" (whitespace pretokens never
# carry a leading space symbol).
GPT2_BPE_FIXED_MERGES = BYTE_BPE_FIXED_MERGES + [
    ("Ġ", "the"), ("Ġ", "t"), ("Ġ", "a"), ("Ġa", "nd"),
]


def dp159_gpt2_bpe(spark: SparkSession, sf: str) -> DataFrame:
    """Byte-level BPE under the GPT-2 REGEX pretokenizer
    (datapipes/bpe.py gpt2_pretokens + bpe_byte_encode
    (pretokenizer='gpt2')): the standard contraction/letter/digit/punct
    split — restated lookahead-free via the marker construction so RE2
    (and the DuckDB oracle) replays it bit-for-bit. Pretokens keep
    their leading space, so the Ġ-prefixed merges fire mid-sentence;
    whitespace runs become tokens of their own. Reports per-doc token
    and pretoken counts (fertility = n_tokens/n_pretokens) plus the
    exact piece-stream md5. A third of the docs get a contraction +
    accent suffix so the 's split and the multibyte merge are both
    consequential."""
    from lakehouse_engine_spark.datapipes.bpe import gpt2_pretokens

    docs = load_table(spark, sf, "documents")
    merges = spark.createDataFrame(
        [(i, a, b, a + b) for i, (a, b) in enumerate(GPT2_BPE_FIXED_MERGES)],
        "rank INT, left STRING, right STRING, merged STRING",
    )
    staged = (
        "concat(text, case when doc_id % 3 = 0"
        " then ' it''s the café and' else '' end)"
    )
    enc = docs.selectExpr("doc_id", f"{staged} AS text").transform(
        _t("bpe_byte_encode", merges=merges, pretokenizer="gpt2")
    )
    return enc.select(
        "doc_id",
        F.col("bpe_tokens_n").cast("long").alias("n_tokens"),
        F.coalesce(
            F.size(gpt2_pretokens(F.col("text"))), F.lit(0)
        ).cast("long").alias("n_pretokens"),
        F.md5(F.array_join("bpe_tokens", "\x1f")).alias("pieces_md5"),
    )


def dp158_byte_bpe(spark: SparkSession, sf: str) -> DataFrame:
    """BYTE-level BPE encode (datapipes/bpe.py bpe_byte_encode, the
    GPT-2 scheme): words map to UTF-8 bytes through the public
    bytes→unicode bijection, then the fixed merge table — every string
    is encodable, no [UNK] exists. A third of the docs get an accented
    suffix so the multibyte merge ("Ã","©" — the two bytes of 'é') is
    consequential. The oracle derives the byte symbols ARITHMETICALLY
    (code point → UTF-8 bytes via integer div/mod → 256-entry map
    literal) and replays the same double-space merge-scan chain as
    dp69b."""
    docs = load_table(spark, sf, "documents")
    merges = spark.createDataFrame(
        [(i, a, b, a + b) for i, (a, b) in enumerate(BYTE_BPE_FIXED_MERGES)],
        "rank INT, left STRING, right STRING, merged STRING",
    )
    staged = (
        "concat(text, case when doc_id % 3 = 0"
        " then ' café résumé naïve' else '' end)"
    )
    enc = docs.selectExpr("doc_id", f"{staged} AS text").transform(
        _t("bpe_byte_encode", merges=merges)
    )
    return enc.select(
        "doc_id",
        F.col("bpe_tokens_n").cast("long").alias("n_tokens"),
        F.md5(F.array_join("bpe_tokens", "\x1f")).alias("pieces_md5"),
    )


def dp157_knn_mmr(spark: SparkSession, sf: str) -> DataFrame:
    """MMR diversity re-rank (datapipes/similarity.py knn_mmr_rerank,
    Carbonell & Goldstein 1998): per query, 20 most-relevant candidates
    by exact int64 quantized dot, then 3 greedy MMR rounds at λ=300‰ —
    score = 700·rel − 300·max-sim-to-selected, ties to the smaller id.
    The oracle unrolls the greedy trajectory round by round (selection
    r depends on the exact selected set of rounds 1..r−1)."""
    emb = load_table(spark, sf, "embeddings")
    return emb.transform(
        _t(
            "knn_mmr_rerank",
            k=3,
            shortlist=20,
            lam_permille=300,
            query_filter="vec_id < 10",
        )
    )


def dp156_embedding_sanitize(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding corpus sanitation (datapipes/embeddings.py
    embedding_sanitize): the upfront NULL / wrong-width / NaN / Inf /
    zero-vector screen an ANN pipeline runs before its vectors meet a
    kernel. Five corruption classes are staged onto the clean corpus
    (NULL column, NaN head cell, +Inf head cell, all-zero vector,
    truncated width) so every flag fires both ways; the oracle replays
    the staging and each boolean."""
    emb = load_table(spark, sf, "embeddings")
    staged = (
        "CASE WHEN vec_id % 23 = 0 THEN CAST(NULL AS ARRAY<FLOAT>)"
        " WHEN vec_id % 17 = 0 THEN"
        "   concat(array(CAST('NaN' AS FLOAT)), slice(embedding, 2, 63))"
        " WHEN vec_id % 31 = 0 THEN"
        "   concat(array(CAST('Infinity' AS FLOAT)), slice(embedding, 2, 63))"
        " WHEN vec_id % 19 = 0 THEN transform(embedding, x -> CAST(0.0 AS FLOAT))"
        " WHEN vec_id % 29 = 0 THEN slice(embedding, 1, 10)"
        " ELSE embedding END"
    )
    out = emb.selectExpr("vec_id", f"{staged} AS embedding").transform(
        _t("embedding_sanitize", dim=64)
    )
    return out.select(
        "vec_id", "emb_null", "emb_wrong_dim", "emb_has_nan",
        "emb_has_inf", "emb_zero", "embedding_ok",
    )


def dp155_knn_pq_refine(spark: SparkSession, sf: str) -> DataFrame:
    """PQ shortlist + exact re-rank (datapipes/clustering.py
    knn_pq_refine, Jégou et al. 2011 §V): dp117's ADC pass widened to a
    20-candidate shortlist, raw vectors gathered by broadcast-semi-join
    (one corpus scan, no corpus shuffle), exact integer squared
    distance re-rank to top-5 — the production two-stage ANN recipe;
    adc_dist rides along so quantization rank-inversions are
    observable. Oracle replays dp117's codebook/code/LUT chain, the
    shortlist cut, and the exact re-rank."""
    emb = load_table(spark, sf, "embeddings")
    return emb.transform(
        _t(
            "knn_pq_refine",
            k=5,
            shortlist=20,
            m=4,
            num_codes=16,
            query_filter="vec_id < 10",
        )
    )


def dp153_c4_rules(spark: SparkSession, sf: str) -> DataFrame:
    """C4 cleaning heuristics (datapipes/text.py text_c4_rules, Raffel
    et al. 2020 §2.2): line retention (terminal punctuation + >=3 words
    + no 'javascript') then page rules (sentence floor on the CLEANED
    text, no brace / 'lorem ipsum' / blocklist word on the raw page).
    Documents are staged into four lines exercising every rule both
    ways; the oracle replays the staging, the line filter, and each
    page flag."""
    docs = load_table(spark, sf, "documents")
    staged = (
        "concat(substring(text, 1, 80), '.',"
        " case when doc_id % 11 = 0 then ' lorem ipsum.' else '' end,"
        " chr(10), 'short line', chr(10),"
        " substring(text, 81, 60),"
        " case when doc_id % 13 = 0 then ' {' else '' end,"
        " chr(10),"
        " case when doc_id % 7 = 0"
        "   then 'please enable javascript to view this page.'"
        "   else concat(substring(text, 141, 80),"
        "               case when doc_id % 5 = 0 then '?' else '!' end)"
        " end)"
    )
    out = (
        docs.selectExpr("doc_id", f"{staged} AS text")
        .transform(
            _t(
                "text_c4_rules",
                min_sentences=2,
                bad_words=("vector", "spam"),
            )
        )
    )
    return out.select(
        "doc_id", "n_lines_kept", "rule_sentences", "rule_no_brace",
        "rule_no_lorem", "rule_no_badwords", "c4_keep",
        F.md5("c4_text").alias("c4_digest"),
    )


def dp154_script_mix(spark: SparkSession, sf: str) -> DataFrame:
    """Unicode-script mixture profile (datapipes/text.py
    text_script_mix): per-doc counts over fixed LITERAL BMP ranges
    (engine-Unicode-table independent), dominant script with the
    SCRIPT_RANGES-order tiebreak, and the exact floor permille of
    classified chars outside the dominant script — the wrong-script
    contamination screen. A third of the docs get a Cyrillic suffix, a
    third CJK, so every branch is consequential; the oracle replays the
    counts, the greatest(), the tiebreak CASE, and the floor."""
    docs = load_table(spark, sf, "documents")
    staged = (
        "concat(text, case when doc_id % 3 = 0 then ' Привет мир'"
        " when doc_id % 3 = 1 then ' 你好世界 こんにちは' else '' end)"
    )
    out = docs.selectExpr("doc_id", f"{staged} AS text").transform(
        _t("text_script_mix")
    )
    return out.select(
        "doc_id", "script_latin", "script_cyrillic", "script_cjk",
        "script_kana", "script_chars", "script_dominant",
        "script_mix_permille",
    )


def dp162_gpt2_bpe_train(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end GPT-2 tokenizer TRAINING (datapipes/bpe.py
    bpe_byte_train + bpe_byte_encode, both pretokenizer='gpt2'): learn
    16 canonical byte-level merges from the gpt2-pretokenized corpus
    (space-carrying pretokens → byte symbols, no </w>), then tokenize
    the corpus with the learned table. The oracle UNROLLS the 16
    training rounds (the dp69 convention) over the SAME RE2 gpt2 split
    and byte-symbol seeding, then replays the per-doc encode from the
    final per-pretoken symbol strings — every round's argmax pick and
    every Ġ-prefixed merge is value-checked."""
    docs = load_table(spark, sf, "documents")
    merges = docs.transform(
        _t("bpe_byte_train", num_merges=16, pretokenizer="gpt2")
    )
    enc = docs.transform(
        _t("bpe_byte_encode", merges=merges, pretokenizer="gpt2")
    )
    return enc.select(
        "doc_id",
        F.col("bpe_tokens_n").cast("long").alias("n_bpe"),
        F.md5(F.array_join("bpe_tokens", "\x01")).alias("pieces_md5"),
    )


def dp160_stream_quantile_prune(spark: SparkSession, sf: str) -> DataFrame:
    """Batch arm of streaming_quantile_prune (datapipes/stateful.py):
    the live "train on the best X%" decision table on the dp152
    cumulative-histogram state — per-lang score histogram, best-first
    cumulative window, keep iff the strictly-better population leaves
    room inside ceil(keep_frac*N) (ties at the threshold all kept, the
    batch quantile_prune contract). Order/batch/restart independence is
    pytest-pinned (test_stateful.py)."""
    docs = load_table(spark, sf, "documents")
    return docs.transform(
        _t(
            "streaming_quantile_prune",
            on=["lang"],
            score_col="n_chars",
            keep_frac=0.3,
        )
    )


def dp161_stream_winsorize(spark: SparkSession, sf: str) -> DataFrame:
    """Batch arm of streaming_winsorize (datapipes/stateful.py): the
    live outlier-clipping table on the same histogram state — per-lang
    grid-exact empirical bounds (value at rank max(1, ceil(q*N))) and
    clip = least(greatest(v, lo), hi). Restart/parity pytest-pinned."""
    docs = load_table(spark, sf, "documents")
    return docs.transform(
        _t(
            "streaming_winsorize",
            on=["lang"],
            score_col="n_chars",
            lower=0.1,
            upper=0.9,
        )
    )


def dp152_streaming_quality_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """Batch arm of streaming_quality_buckets (datapipes/stateful.py):
    the live CCNet tier table — per-lang score histogram + cumulative
    window over distinct values + the ceil(c*N) tier CASE, emitting the
    (score value -> head/middle/tail) map the stream maintains in
    O(distinct-scores) state (order/batch/restart independence
    pytest-pinned). Same tier rule as dp149's quality_bucket_split,
    exposed as the lookup table instead of the attach join."""
    docs = load_table(spark, sf, "documents")
    return docs.transform(
        _t(
            "streaming_quality_buckets",
            on=["lang"],
            score_col="n_chars",
            buckets={"head": 3, "middle": 3, "tail": 4},
        )
    )


def dp149_quality_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style per-language quality tiers (datapipes/sampling.py
    quality_bucket_split): head/middle/tail 30/30/40 by score within each
    lang — histogram + distinct-value cumulative window + broadcast tier
    attach, no per-row window (the quantile_prune scale shape). Oracle
    replays the histogram, the ceil(c*n) budgets, and the tie rule."""
    docs = load_table(spark, sf, "documents")
    return docs.transform(
        _t(
            "quality_bucket_split",
            score_col="n_chars",
            buckets={"head": 3, "middle": 3, "tail": 4},
            group_cols=["lang"],
        )
    ).select("doc_id", "lang", "n_chars", "bucket")


def dp148_winnow_cross(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-corpus MOSS overlap (datapipes/dedup.py
    text_winnow_cross_overlap): main docs screened against a reference
    of 120-char excerpts of every 25th doc — localized, ranked
    (doc, ref, shared_fps) pairs, boilerplate fingerprints capped over
    BOTH corpora. The winnow guarantee makes any verbatim 8-char run
    detectable; the oracle runs the winnow chain twice (prefixed CTEs)
    and replays the union cap + fp equi-join."""
    docs = load_table(spark, sf, "documents")
    ref = docs.filter("doc_id % 25 = 0").select(
        "doc_id", F.substring("text", 20, 120).alias("text")
    )
    return docs.transform(
        _t(
            "text_winnow_cross_overlap",
            other_df=ref,
            min_shared=3,
            max_bucket_size=50,
        )
    )


def dp147_paragraph_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Paragraph-granularity near-dedup with reconstruction
    (datapipes/dedup.py text_paragraph_dedup): every doc staged into
    three paragraphs with a SHARED boilerplate middle; the minhash
    bucket-min rule keeps the lowest (doc, pos) copy corpus-wide and
    each doc reassembles from its survivors. Oracle replays staging,
    the per-paragraph signature/band pipeline, the bucket-min key rule,
    and the ordered reassembly."""
    docs = load_table(spark, sf, "documents")
    staged = docs.withColumn(
        "text",
        F.concat(
            F.substring("text", 1, 50),
            F.lit("\n" + _DP147_SHARED + "\n"),
            F.substring("text", 51, 100000),
        ),
    )
    out = staged.transform(_t("text_paragraph_dedup"))
    return out.select(
        "doc_id",
        "lang",
        "n_paragraphs",
        "n_kept",
        F.md5("text_dedup").alias("dedup_md5"),
    )


def dp146_session_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Batch arm of streaming_session_stats (datapipes/stateful.py):
    Spark's NATIVE session_window aggregation — per (user, session)
    first/last event + count, gap 30 min. session_window's merge rule
    IS the lag-gap split, which the oracle replays; the streaming arm
    is the same aggregation behind a watermark (built-in stateful
    operator, no Python state)."""
    ev = load_table(spark, sf, "events")
    out = ev.transform(
        _t("streaming_session_stats", on=["user_id"], ts_col="ts",
           gap="30 minutes")
    )
    return out.select(
        "user_id",
        epoch_us_ntz("session_start").cast("long").alias("start_us"),
        epoch_us_ntz("session_last").cast("long").alias("last_us"),
        "n_events",
    )


def dp145_streaming_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Batch arm of streaming_funnel (datapipes/stateful.py): the live
    conversion-funnel operator delegates to the batch funnel on a
    static frame — dp55's chained-minima semantics, same oracle shape.
    Cross-batch ratcheting + restart are pytest-pinned."""
    ev = load_table(spark, sf, "events")
    out = ev.transform(
        _t("streaming_funnel", on=["user_id"], stage_col="event_type",
           stages=["view", "click", "purchase"], ts_col="ts")
    )
    return out.select(
        "user_id",
        epoch_us_ntz("stage1_ts").cast("long").alias("s1_us"),
        epoch_us_ntz("stage2_ts").cast("long").alias("s2_us"),
        epoch_us_ntz("stage3_ts").cast("long").alias("s3_us"),
    )


def dp144_streaming_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    """Batch arm of streaming_heavy_hitters (datapipes/stateful.py): the
    MG guarantee set with exact counts — every per-user event type whose
    count clears processed/width. The live arm's O(width)-state summary
    and restart semantics are pytest-pinned."""
    ev = load_table(spark, sf, "events")
    return ev.transform(
        _t(
            "streaming_heavy_hitters",
            on=["user_id"],
            value_col="event_type",
            width=8,
        )
    )


def dp143_bottomk_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Batch arm of streaming_bottomk_sample (datapipes/stateful.py):
    deterministic per-group bottom-k-by-md5 reservoir — the uniform
    sample as a pure function of the id set, identical streamed or at
    rest (order/batch/restart independence pytest-pinned). Oracle: one
    window rank replay."""
    ev = load_table(spark, sf, "events")
    return ev.transform(
        _t("streaming_bottomk_sample", on=["user_id"], id_col="event_id", k=5)
    )


def dp142_streaming_pattern(spark: SparkSession, sf: str) -> DataFrame:
    """Batch arm of streaming_event_pattern (datapipes/stateful.py): the
    live MATCH_RECOGNIZE operator's oracle-able smoke path — dp135's
    totals reshaped to the streaming columns (n_new, cumulative
    n_matches, seq_len, first_match). The cross-batch/restart semantics
    are pytest-pinned (tests/test_stateful.py)."""
    ev = load_table(spark, sf, "events")
    return ev.transform(
        _t(
            "streaming_event_pattern",
            on=["user_id"],
            symbols={
                "view": "v",
                "click": "c",
                "purchase": "p",
                "signup": "s",
                "error": "e",
            },
            pattern="vc*p",
            max_span=50,
            tiebreak_col="event_id",
        )
    )


def dp141_winnow_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """MOSS copy-detection report (datapipes/dedup.py text_winnow_overlap):
    document pairs ranked by distinct shared winnowing fingerprints —
    equi-join on the fingerprint value over distinct (doc, fp) rows with
    the LSH family's bucket cap, one map-side-combined pair count.
    Oracle: the dp138 winnow CTE + self-join + HAVING replay."""
    docs = load_table(spark, sf, "documents")
    return docs.transform(
        _t("text_winnow_overlap", k=5, window=4, min_shared=20,
           max_bucket_size=50)
    )


def dp140_correlation_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """Pairwise Pearson feature correlations (datapipes/numeric.py
    correlation_matrix): per-label correlation of grid-quantized
    embedding dims 1-4 — ONE exact-decimal moment pass, constant-size
    pair explode, closed form whose SQL text (corr_pair_expr) is shared
    verbatim with this oracle so the doubles hash bit-for-bit."""
    emb = load_table(spark, sf, "embeddings")
    grid = emb.select(
        "label",
        *[
            F.floor(
                F.element_at(F.col("embedding"), i).cast("double") * 1024.0 + 0.5
            )
            .cast("long")
            .alias(f"x{i}")
            for i in (1, 2, 3, 4)
        ],
    )
    return grid.transform(
        _t(
            "correlation_matrix",
            value_cols=["x1", "x2", "x3", "x4"],
            group_cols=["label"],
        )
    )


def dp139_seed_classifier(spark: SparkSession, sf: str) -> DataFrame:
    """Seed-set NB quality classifier (datapipes/text.py
    text_seed_classifier_score): English docs as the trusted positive
    seed, the whole corpus as negative; add-one NB log-likelihood ratio
    over the combined top-10k vocabulary on the exact scaled-log grid,
    plus the >0 prediction. The interpretable-token sibling of dp115's
    hashed-bucket DSIR. Oracle replays counts, vocab cutoff, masses,
    and the integer LLR algebra."""
    docs = load_table(spark, sf, "documents")
    pos = docs.filter("lang = 'en'")
    out = docs.transform(_t("text_seed_classifier_score", pos_df=pos))
    return out.select("doc_id", "lang", "seed_llr", "n_scored_tokens", "seed_pred")


def dp138_winnow_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """MOSS winnowing fingerprints (datapipes/text.py
    text_winnow_fingerprint, Schleimer et al. 2003): char-5-gram 60-bit
    hashes over normalized text, rightmost-min-per-window-of-4
    selection — one codegen projection per doc, explode of the SELECTED
    set only, one distinct shuffle. Oracle replays normalization, gram
    hashing, and the window argmin bit-for-bit."""
    docs = load_table(spark, sf, "documents")
    return docs.transform(_t("text_winnow_fingerprint", k=5, window=4))


def dp137_ngram_novelty(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc 8-gram novelty (datapipes/text.py text_ngram_novelty):
    distinct-gram and corpus-unique-gram counts per document — grams
    travel as md5 digests, document frequency is one map-side-combined
    count on the digest, integer outputs hash-exact. Oracle replays the
    shingle set, digesting, and df=1 test."""
    docs = load_table(spark, sf, "documents")
    out = docs.transform(_t("text_ngram_novelty", n=8))
    return out.select("doc_id", "lang", "n_distinct_grams", "n_unique_grams")


def dp136_source_divergence(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source mixture drift (datapipes/text.py
    source_unigram_divergence): KL(source ‖ corpus) over unigram
    distributions on the exact scaled-log10 grid — integer sums, one
    final double division. The corpus is scanned once; all downstream
    tables are vocabulary-sized. Oracle replays the count tables and
    the identical grid algebra."""
    docs = load_table(spark, sf, "documents")
    return docs.transform(_t("source_unigram_divergence"))


def dp135_event_pattern(spark: SparkSession, sf: str) -> DataFrame:
    """MATCH_RECOGNIZE-lite sequence detection (datapipes/events.py
    event_pattern_match): per-user time-ordered event symbols folded to
    one string, conversion pattern ``vc*p`` (view, any clicks, purchase)
    counted with the shared Java/RE2 leftmost-first non-overlapping
    semantics. One shuffle on the user key; the regex runs once per key
    on the folded string. Oracle: ordered string_agg + regexp over the
    identical symbol mapping."""
    ev = load_table(spark, sf, "events")
    return ev.transform(
        _t(
            "event_pattern_match",
            on=["user_id"],
            symbols={
                "view": "v",
                "click": "c",
                "purchase": "p",
                "signup": "s",
                "error": "e",
            },
            pattern="vc*p",
            tiebreak_col="event_id",
        )
    )


def dp134_linear_fit(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed ridge-regression TRAINING (datapipes/numeric.py
    linear_fit_normal): per-label closed-form fit of grid-quantized
    embedding dim 1 on dims 2-4 — ONE map-side-combined moment pass
    (exact DECIMAL Gram sums, order-independent), then an unrolled
    Cramer solve whose generated SQL text is shared VERBATIM with this
    oracle, so the final IEEE doubles (weights + r2) hash-match
    bit-for-bit. The trainer half of dp_linear_score's inference: fit on
    a labeled seed, export weights, score 100 TB as a projection."""
    emb = load_table(spark, sf, "embeddings")
    grid = emb.select(
        "label",
        *[
            F.floor(
                F.element_at(F.col("embedding"), i).cast("double") * 1024.0 + 0.5
            )
            .cast("long")
            .alias(f"x{i}")
            for i in (1, 2, 3, 4)
        ],
    )
    out = grid.transform(
        _t(
            "linear_fit_normal",
            feature_cols=["x2", "x3", "x4"],
            y_col="x1",
            l2=1.0,
            group_cols=["label"],
        )
    )
    return out.select("label", "n", "w0", "w1", "w2", "w3", "r2")


def dp133_prototype_prune(spark: SparkSession, sf: str) -> DataFrame:
    """Prototypicality data pruning (Sorscher et al. 2022, 'Beyond neural
    scaling laws': prune by distance to the cluster prototype): cluster
    with dp112's deterministic integer-grid trainer, then keep the 50%
    most prototypical vectors WITHIN EACH CLUSTER (smallest exact squared
    grid distance to the final centroid). Pure composition —
    embedding_kmeans -> quantile_prune(higher_is_better=False,
    group_cols=[cluster]) — so the cut is dp129's per-group histogram
    threshold (no global sort, no per-row window; the cluster-sized
    threshold table broadcasts), and the oracle replays the trainer CTEs
    plus the cumulative-histogram cut bit-for-bit."""
    emb = load_table(spark, sf, "embeddings")
    out = emb.transform(_t("embedding_kmeans", k=8, iterations=2)).transform(
        _t(
            "quantile_prune",
            score_col="cluster_dist",
            keep_frac=0.5,
            higher_is_better=False,
            group_cols=["cluster"],
        )
    )
    return out.select("vec_id", "cluster", "cluster_dist")


def dp132_semantic_dedup_hier(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup over the hierarchical quantizer's cells (datapipes/dedup.py
    dedup_semantic_hier): clusters = embedding_kmeans_hier's 4x3 cells
    (exact integer-grid Lloyd, dp130's pinned semantics), in-cell pairwise
    cosine verify on the raw embeddings, min-id survivor rule — the
    wide-k arm of dp97 for SemDeDup past the flat trainer's MAX_K cap
    (k_eff 32k/65k probed on the 200k corpus, BASELINE.md). keep="all"
    so the oracle value-pins the full annotation, not just survivors."""
    emb = load_table(spark, sf, "embeddings")
    return emb.transform(
        _t(
            "dedup_semantic_hier",
            threshold=0.9,
            k_coarse=4,
            k_fine=3,
            coarse_iterations=1,
            fine_iterations=1,
            keep="all",
            dim=64,
        )
    ).select("vec_id", "dup_group_id", "is_duplicate")


def dp130_kmeans_hier(spark: SparkSession, sf: str) -> DataFrame:
    """Two-level hierarchical quantizer (datapipes/clustering.py
    embedding_kmeans_hier): exact integer-grid Lloyd at both levels —
    level 1 is dp112's flat trainer (k_coarse=4, 1 round); level 2
    initializes each coarse cell from its k_fine=3 md5-smallest members
    and runs 1 confined round. Assignments, the global
    ``coarse*k_fine+fine`` id and squared grid distances replay
    bit-for-bit in the unrolled hierarchical oracle."""
    emb = load_table(spark, sf, "embeddings")
    out = emb.transform(
        _t(
            "embedding_kmeans_hier",
            k_coarse=4,
            k_fine=3,
            coarse_iterations=1,
            fine_iterations=1,
        )
    )
    return out.select(
        "vec_id", "cluster_coarse", "cluster_fine", "cluster", "cluster_dist"
    )


def dp112_embedding_kmeans(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic integer-grid Lloyd k-means (datapipes/clustering.py
    embedding_kmeans): quantize to the 1024 grid (exact for the
    power-of-two scale), md5-ordered init, 2 exact Lloyd rounds with
    floor-div centroid updates — assignments and squared grid distances
    replay bit-for-bit in the unrolled-CTE oracle."""
    emb = load_table(spark, sf, "embeddings")
    out = emb.transform(_t("embedding_kmeans", k=8, iterations=2))
    return out.select("vec_id", "cluster", "cluster_dist")


def dp113_cluster_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-cluster curation diagnostics (datapipes/clustering.py
    cluster_stats) over the dp112 assignment: size, exact bigint inertia,
    rounded mean distance, max distance."""
    emb = load_table(spark, sf, "embeddings")
    out = emb.transform(_t("embedding_kmeans", k=8, iterations=2)).transform(
        _t("cluster_stats")
    )
    return out


_Q31_FOOTER = "CURATION FOOTER BOILERPLATE SHARED ACROSS EVERY PAGE"
_Q31_STOPWORDS = ["the", "a", "value", "table"]


def q33_ccnet_curation(spark: SparkSession, sf: str) -> DataFrame:
    """The CCNet curation recipe (Wenzek et al. 2020) as ONE ACON:
    corpus-derived unigram LM scoring (dp35's exact scaled-log grid) →
    per-language head/middle/tail perplexity tiers (quality_bucket_split,
    30/30/40) → per-tier keep rates (mixture_sample: head 100%, middle
    50%, tail 10%) — score, tier, downsample, the whole quality-mixing
    arm of pretraining prep composed through transform-spec chaining.
    Every stage keeps its gated posture: broadcast vocab probe, histogram
    tier attach (no per-row window), pure hash-filter projection."""
    from lakehouse_engine_spark import load_data

    acon = {
        "input_specs": [
            {
                "spec_id": "docs",
                "data_format": "parquet",
                "location": f"{sf}/documents.parquet",
            }
        ],
        "transform_specs": [
            {
                "spec_id": "curated",
                "input_id": "docs",
                "transformers": [
                    {"function": "text_lm_score", "args": {"top_v": 500}},
                    # quality_bucket_split consumes its input TWICE (the
                    # score histogram + the tier attach join), so without
                    # this persist the whole lm-score chain — corpus
                    # explode, vocab probe, doc aggregate, verdict join —
                    # recomputes once per consumer (the q31 posture,
                    # BASELINE.md r12 knob study). Result-neutral.
                    {"function": "persist", "args": {}},
                    {
                        "function": "quality_bucket_split",
                        "args": {
                            "score_col": "avg_logprob",
                            "buckets": {"head": 3, "middle": 3, "tail": 4},
                            "group_cols": ["lang"],
                        },
                    },
                    {
                        "function": "mixture_sample",
                        "args": {
                            "group_col": "bucket",
                            "id_col": "doc_id",
                            "weights": {
                                "head": 1.0,
                                "middle": 0.5,
                                "tail": 0.1,
                            },
                        },
                    },
                ],
            }
        ],
        "output_specs": [
            {
                "spec_id": "out",
                "input_id": "curated",
                "data_format": "dataframe",
            }
        ],
    }
    res = load_data(acon)
    return res["out"].select(
        "doc_id", "lang", "bucket", "n_scored_tokens", "avg_logprob"
    )


def q34_tokenizer_fertility(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer FERTILITY report (tokens emitted per word, the
    standard per-language tokenizer-quality metric — a multilingual
    corpus whose tail languages show 2-3x the fertility of English is
    paying 2-3x the context budget for the same text): langid over the
    WHOLE corpus (no language filter — 'und' included), BPE-encode with
    the fixed merge table, then one per-language aggregate of docs /
    words / BPE tokens with the exact floor-permille fertility ratio.
    The q32 sibling read: same langid + encode chain, but reporting the
    tokenizer instead of packing the tokens. Oracle replays langid, the
    per-word merge scan, and the group algebra."""
    from lakehouse_engine_spark import load_data

    merges = spark.createDataFrame(
        [(i, a, b, a + b) for i, (a, b) in enumerate(BPE_FIXED_MERGES)],
        "rank INT, left STRING, right STRING, merged STRING",
    )
    acon = {
        "input_specs": [
            {
                "spec_id": "docs",
                "data_format": "parquet",
                "location": f"{sf}/documents.parquet",
            }
        ],
        "transform_specs": [
            {
                "spec_id": "tok",
                "input_id": "docs",
                "transformers": [
                    {"function": "text_langid", "args": {}},
                    {"function": "bpe_encode", "args": {"merges": merges}},
                ],
            }
        ],
        "output_specs": [
            {"spec_id": "out", "input_id": "tok", "data_format": "dataframe"}
        ],
    }
    tok = load_data(acon)["out"]
    words = F.size(
        F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda t: t != "")
    ).cast("long")
    agg = (
        tok.withColumn("__w", words)
        .groupBy("lang_pred")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("__w").cast("long").alias("n_words"),
            F.sum("bpe_tokens_n").cast("long").alias("n_tokens"),
        )
    )
    return agg.select(
        "lang_pred", "n_docs", "n_words", "n_tokens",
        F.when(
            F.col("n_words") > 0,
            F.floor(1000 * F.col("n_tokens") / F.col("n_words")),
        ).otherwise(F.lit(0)).cast("long").alias("fertility_permille"),
    )


def q35_multimodal_curation(spark: SparkSession, sf: str) -> DataFrame:
    """Composed MULTIMODAL curation pipeline through ONE ACON load_data
    run — the image twin of q31: a mixed-codec binary corpus (split-color
    PPM / solid PNG with cycling scanline filters / solid GIF via the
    real LZW encoder / undecodable junk, all pure functions of doc_id)
    flows through perceptual dedup (REAL decode → thumbnail → aHash in
    Arrow-batched mapInPandas, keep='flagged'), a parallel decode branch
    for typed metadata, an ACON join of the two branches, sanitize +
    quality gates (undecodable / too_small / too_dark) as row-space
    expressions, and a per-media-type curation_report. The oracle
    predicts every stage arithmetically (the dp43 split-image aHash
    convention extended to the PNG/GIF solid-image case: every cell
    equals the thumbnail mean, so aHash is all-zeros and solid images
    collapse into one perceptual group — the honest average-hash
    property)."""
    import numpy as np
    import pandas as pd

    from lakehouse_engine_spark import load_data
    from lakehouse_engine_spark.datapipes.media_codecs import (
        encode_gif,
        encode_png,
        encode_ppm,
    )

    def _make_payload_fn(ids):
        out = []
        for i in ids:
            i = int(i)
            k, c = i % 4, (i // 4) % 32
            if k == 0:
                a = (17 * c % 256, 29 * c % 256, 41 * c % 256)
                b = (53 * c % 256, 71 * c % 256, 89 * c % 256)
                arr = np.empty((8, 8, 3), np.uint8)
                arr[:, :4] = a
                arr[:, 4:] = b
                out.append(encode_ppm(arr))
            elif k == 1:
                arr = np.empty((6, 4, 3), np.uint8)
                arr[:, :] = (11 * c % 256, 23 * c % 256, 37 * c % 256)
                out.append(
                    encode_png(arr, row_filters=[y % 5 for y in range(6)])
                )
            elif k == 2:
                arr = np.empty((5, 3 + c % 6, 3), np.uint8)
                arr[:, :] = (19 * c % 256, 31 * c % 256, 43 * c % 256)
                out.append(encode_gif(arr))
            else:
                out.append(b"NOTANIMAGE" + bytes([c]))
        return pd.Series(out)

    _make_payload = F.pandas_udf(_make_payload_fn, "binary")
    docs = load_table(spark, sf, "documents")
    # spread the mixed-codec Python encode, then persist: BOTH ACON
    # branches (perceptual dedup + typed decode) read `imgs`, and the
    # r13-removed byte-budget probes no longer force extra generation
    # passes — the persist makes generation run ONCE per bench run
    # (within the timed region; the bench clears caches between runs),
    # the q31 persist-splice convention
    ids = ensure_parallelism(docs.select("doc_id"))
    imgs = ids.select(
        "doc_id", _make_payload("doc_id").alias("payload")
    ).persist()
    acon = {
        "input_specs": [
            {"spec_id": "imgs", "data_format": "dataframe", "df_name": imgs}
        ],
        "transform_specs": [
            {
                "spec_id": "dedup",
                "input_id": "imgs",
                "transformers": [
                    {
                        "function": "multimodal_image_dedup",
                        "args": {"keep": "flagged"},
                    }
                ],
            },
            {
                "spec_id": "meta",
                "input_id": "imgs",
                "transformers": [
                    {"function": "multimodal_image_decode", "args": {}}
                ],
            },
            {
                "spec_id": "report",
                "input_id": "dedup",
                "transformers": [
                    {
                        "function": "join",
                        "args": {
                            "join_with": "meta",
                            "join_condition": "a.doc_id = b.id",
                            "join_type": "left",
                            "broadcast_join": False,
                            "select_cols": [
                                "a.doc_id", "a.is_duplicate",
                                "b.media_type", "b.codec", "b.width",
                                "b.height", "b.mean_rgb",
                            ],
                        },
                    },
                    {
                        "function": "with_expressions",
                        "args": {
                            "cols_and_exprs": {
                                "undecodable": "codec IS NULL",
                                "too_small": "coalesce(width * height < 24,"
                                             " false)",
                                "too_dark": "coalesce((CAST(mean_rgb[0] AS"
                                            " DOUBLE) + CAST(mean_rgb[1] AS"
                                            " DOUBLE) + CAST(mean_rgb[2] AS"
                                            " DOUBLE)) / 3.0 < 64.0, false)",
                            }
                        },
                    },
                    {
                        "function": "curation_report",
                        "args": {
                            "flag_cols": [
                                "undecodable", "too_small",
                                "too_dark", "is_duplicate",
                            ],
                            "group_col": "media_type",
                        },
                    },
                ],
            },
        ],
        "output_specs": [
            {"spec_id": "o", "input_id": "report", "data_format": "dataframe"}
        ],
    }
    return load_data(acon)["o"]


def q32_tokenize_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end TOKENIZATION pipeline through ONE ACON load_data run —
    the q31 sibling for the tokenize-and-pack half of pretraining data
    prep: language-ID and filter to English, BPE-encode with the fixed
    merge table (distinct-word pandas encode + size-gated dictionary
    join), then greedy context-window packing of the BPE token counts
    into 512-token shard-local packs. Summarized per pack; the oracle
    replays langid -> per-word merge scan -> shard/cumsum/pack
    arithmetic stage by stage."""
    from lakehouse_engine_spark import load_data

    merges = spark.createDataFrame(
        [(i, a, b, a + b) for i, (a, b) in enumerate(BPE_FIXED_MERGES)],
        "rank INT, left STRING, right STRING, merged STRING",
    )
    acon = {
        "input_specs": [
            {
                "spec_id": "docs",
                "data_format": "parquet",
                "location": f"{sf}/documents.parquet",
            }
        ],
        "transform_specs": [
            {
                "spec_id": "tok",
                "input_id": "docs",
                "transformers": [
                    {"function": "text_langid", "args": {}},
                    {"function": "expression_filter",
                     "args": {"exp": "lang_pred = 'en'"}},
                    {"function": "bpe_encode", "args": {"merges": merges}},
                    {"function": "pack_sequences",
                     "args": {"token_col": "bpe_tokens_n", "id_col": "doc_id",
                              "budget": 512, "shards": 8}},
                ],
            }
        ],
        "output_specs": [
            {"spec_id": "out", "input_id": "tok", "data_format": "dataframe"}
        ],
    }
    packed = load_data(acon)["out"]
    return (
        packed.groupBy("pack_shard", "pack_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("bpe_tokens_n").cast("long").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
        .select(
            F.col("pack_shard").cast("long"),
            F.col("pack_id").cast("long"),
            "n_docs",
            "n_tokens",
            "first_doc",
        )
    )


def q31_curation_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end curation pipeline through ONE ACON ``load_data`` run —
    the composition surface itself (transform_specs chaining across
    specs, mirroring reference
    ``lakehouse_engine/algorithms/data_loader.py:97-128``): stage a shared
    footer line into every document, Gopher-filter with a
    corpus-appropriate stopword profile, C4 line dedup, MinHash+LSH near
    dedup ON THE DEDUPED TEXT, 8-gram benchmark decontamination in drop
    mode (benchmark resolved from a SIBLING transform spec via
    ``text_decontaminate_with``), then a mixture plan over the final
    survivors. Every stage is consequential at sf0.01
    (500 -> 442 gopher -> 424 docs lose lines -> 406 minhash -> 397
    decontaminated); the oracle replays the whole chain stage by stage.

    Scale note: stages like minhash and decontamination join their
    verdicts back onto their input, so a lazily-composed chain
    recomputes the upstream corpus once per such stage (the reference
    composes the same way). The shipped ACON therefore splices the
    registry's ``persist`` transformer after the two dedup stages — the
    ACON-level knob for exactly this, measured in BASELINE.md (r12 knob
    study: 5.35 s un-persisted vs 3.84 s persisted at sf0.1, and the
    gap widens with corpus width); the 100k-doc probe
    (tools/scale_probes.py curation_pipeline_100k) quantified the
    un-persisted chain at 24.8 s, the sum of its stages.
    """
    from lakehouse_engine_spark import load_data

    staged_text = (
        "concat(substring(text, 1, 60), chr(10), "
        f"'{_Q31_FOOTER}', chr(10), substring(text, 61, 100000))"
    )
    acon = {
        "input_specs": [
            {
                "spec_id": "docs",
                "data_format": "parquet",
                "location": f"{sf}/documents.parquet",
            }
        ],
        "transform_specs": [
            {
                "spec_id": "bench",
                "input_id": "docs",
                "transformers": [
                    {
                        "function": "expression_filter",
                        "args": {"exp": "doc_id % 50 = 0"},
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
                            "stopwords": _Q31_STOPWORDS,
                            "min_stopword_hits": 2,
                        },
                    },
                    {
                        "function": "expression_filter",
                        "args": {"exp": "gopher_keep"},
                    },
                    {"function": "text_line_dedup", "args": {}},
                    # persist-after-dedup is the measured default posture
                    # (BASELINE.md r12 knob study: 5.35 s lazily composed
                    # vs 3.84 s persisted, −28%): the minhash and
                    # decontamination stages join verdicts back onto
                    # their input, so without these two persists the
                    # corpus above each dedup stage is recomputed once
                    # per verdict join — a multiplier on the two most
                    # expensive stages that widens with corpus width at
                    # 100 TB. Result-neutral by construction.
                    {"function": "persist", "args": {}},
                    {
                        "function": "dedup_minhash_lsh",
                        "args": {
                            "text_col": "text_deduped",
                            "num_hashes": 12,
                            "bands": 4,
                            "shingle_size": 3,
                        },
                    },
                    {"function": "persist", "args": {}},
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
                            "budget_tokens": 1_000_000,
                            "token_col": "n_chars",
                            "max_epochs_ppm": 2_000_000,
                        },
                    },
                ],
            },
        ],
        "output_specs": [
            {
                "spec_id": "out",
                "input_id": "curated",
                "data_format": "dataframe",
            }
        ],
    }
    res = load_data(acon)
    return res["out"].select(
        "lang", "parts", "available", "desired_tokens", "plan_tokens",
        "capped", "sample_rate_ppm", "epochs_ppm", "shortfall_tokens",
    )


# The driver's correctness gate checks the first DRIVER_WINDOW entries of
# queries() each round, so their order is derived (driver_order) from
# TOUCHED and the CORRECTNESS_r<NN>.json history of the rounds before ROUND.
ROUND = 16
DRIVER_WINDOW = 50

# query -> the last round a change altered its optimized plan (at any size
# tier) or its output on some input. A refactor that leaves the plan
# identical does not count; a new query enters with its round. The table
# starts at round 14: the round-13 touches the old rotation notes named
# (dp134, dp147, dp150, q31, q33) were driver-checked in round 13 or later.
TOUCHED = {
    **dict.fromkeys(
        (
            "dp13_knn_ivf", "dp16_asof_join", "dp17_range_join",
            "dp19_profile", "dp21_pii_redact", "dp30_asof_forward_tolerance",
            "dp38_embedding_quantize", "dp41_quantile_prune",
            "dp45_embedding_mean_pool", "dp46_token_budget_sample",
            "dp47_line_dedup", "dp51_winsorize", "dp52_zscore_normalize",
            "dp56_cohort_retention", "dp57_robust_scale", "dp71_trend_fit",
            "dp75_snapshot_diff", "dp76_schema_drift", "dp80_asof_nearest",
            "dp92_image_resize", "dp93_audio_resample", "dp98_ngram_counts",
            "dp100_unimax_sample", "dp106_temperature_sample",
            "dp108_corpus_overlap", "dp109_unicode_normalize",
            "dp110_random_projection", "dp115_dsir_score", "dp116_pq_encode",
            "dp117_knn_pq", "dp120_dup_line_stats", "dp122_pca_moments",
            "dp123_frequent_terms", "dp129_group_quantile_prune",
            "dp135_event_pattern", "dp138_winnow_fingerprint",
            "dp140_correlation_matrix", "dp160_stream_quantile_prune",
            "dp161_stream_winsorize",
        ),
        14,
    ),
    **dict.fromkeys(
        (
            "dp34_quality_prune", "dp49_curation_report", "dp83_bm25_topk",
            "dp112_embedding_kmeans", "dp113_cluster_stats", "dp130_kmeans_hier",
            "dp133_prototype_prune",
        ),
        15,
    ),
    **dict.fromkeys(
        (
            "dp20_dup_clusters", "dp23_decontaminate", "dp61_keep_best_dedup",
            "dp69_bpe_tokenize", "dp69b_bpe_encode", "dp87_pagerank",
            "dp102_decontaminate_bloom", "dp118_wordpiece_encode",
            "dp119_decontaminate_spans", "dp121_graph_components",
            "dp125_unigram_encode", "dp126_mixture_plan", "dp128_frequent_bigrams",
            "dp143_bottomk_sample", "dp158_byte_bpe", "dp159_gpt2_bpe",
            "dp162_gpt2_bpe_train",
            "q31_curation_pipeline", "q32_tokenize_pipeline",
            "q34_tokenizer_fertility",
            "dp07_dedup_ngram_jaccard", "dp08_embedding_dedup", "dp11_dedup_simhash",
            "dp12_knn_lsh", "dp28_embedding_dedup_lsh", "dp35_lm_score",
            "dp36_tfidf_top_terms", "dp42_cross_embedding_dedup",
            "dp44_lm_score_bigram", "dp48_substring_dedup", "dp97_semantic_dedup",
            "dp131_knn_ivf_hier", "dp132_semantic_dedup_hier",
            "dp136_source_divergence", "dp139_seed_classifier",
            "dp141_winnow_overlap", "dp148_winnow_cross", "q33_ccnet_curation",
        ),
        16,
    ),
}


def driver_order(names, touched, checked, window=DRIVER_WINDOW) -> list:
    """``names`` in driver order. ``checked`` maps a query to its last
    driver-checked round (absent: never checked). Retouched queries, whose
    ``touched`` round is later than that, lead; when more than ``window``
    are retouched, only the stalest ``window`` lead. The rest follow. Both
    parts run stalest check first, ties by name."""

    def stalest(q):
        return (checked.get(q, 0), q)

    lead = sorted(
        (q for q in names if touched.get(q, 0) > checked.get(q, 0)), key=stalest
    )[:window]
    rest = sorted(set(names) - set(lead), key=stalest)
    return lead + rest


def driver_checked() -> dict:
    """query -> the latest round below ``ROUND`` whose
    ``CORRECTNESS_r<NN>.json`` beside this file (the working directory
    when run without one) holds it."""
    root = pathlib.Path(globals().get("__file__", "./_")).resolve().parent
    last: dict = {}
    for path in root.glob("CORRECTNESS_r*.json"):
        rnd = int(re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name).group(1))
        if rnd < ROUND:
            for q in json.loads(path.read_text()):
                last[q] = max(last.get(q, 0), rnd)
    return last


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every ``q<N>_`` / ``dp<N>_`` function of this module, in driver
    order."""
    fns = {
        name: fn
        for name, fn in globals().items()
        if re.match(r"(q|dp)\d+[a-z]?_", name)
    }
    return {q: fns[q] for q in driver_order(fns, TOUCHED, driver_checked())}


# --------------------------------------------------------------------------
# DuckDB oracles
# --------------------------------------------------------------------------

# shared SQL fragments (DuckDB dialect)
_DUCK_TOKENS = r"list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t <> '')"
# case-SENSITIVE variant for ops that preserve case (cdc_chunk: chunk_text
# is emitted verbatim, so its boundary hash and md5 see original case)
_DUCK_TOKENS_CS = r"list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')"


def _dp154_oracle() -> str:
    """dp154 oracle composed from the SAME SCRIPT_RANGES literals the
    operator compiles, so the class strings cannot drift apart. DuckDB's
    regexp_replace needs the 'g' flag to match Spark's replace-all."""
    counts = ",\n                   ".join(
        f"CAST(length(t) - length(regexp_replace(t, '[{rng}]', '', 'g')) "
        f"AS BIGINT) AS c_{name}"
        for name, rng in SCRIPT_RANGES
    )
    total = " + ".join(f"c_{name}" for name, _ in SCRIPT_RANGES)
    mx = ", ".join(f"c_{name}" for name, _ in SCRIPT_RANGES)
    dominant = " ".join(
        f"WHEN mx > 0 AND c_{name} = mx THEN '{name}'"
        for name, _ in SCRIPT_RANGES
    )
    return f"""
            WITH staged AS (
              SELECT doc_id,
                     concat(text, CASE WHEN doc_id % 3 = 0 THEN ' Привет мир'
                       WHEN doc_id % 3 = 1 THEN ' 你好世界 こんにちは'
                       ELSE '' END) AS t
              FROM documents
            ), counted AS (
              SELECT doc_id,
                   {counts}
              FROM staged
            ), agg AS (
              SELECT *, ({total}) AS total, greatest({mx}) AS mx
              FROM counted
            )
            SELECT doc_id, c_latin AS script_latin,
                   c_cyrillic AS script_cyrillic, c_cjk AS script_cjk,
                   c_kana AS script_kana, total AS script_chars,
                   CASE {dominant} ELSE '' END AS script_dominant,
                   CASE WHEN total > 0
                        THEN CAST(floor(1000 * (total - mx) / total) AS BIGINT)
                        ELSE 0 END AS script_mix_permille
            FROM agg
        """


def _duck_byte_symword(col: str) -> str:
    """DuckDB expression: the GPT-2 byte-symbol string of ``col`` —
    code points (``unicode``) → UTF-8 bytes by integer div/mod → the
    256-entry bytes→unicode map as a list literal (1-indexed)."""
    from lakehouse_engine_spark.datapipes.bpe import bytes_to_unicode_table

    b2u = bytes_to_unicode_table()
    maplit = "[" + ", ".join(
        "'" + b2u[b].replace("'", "''") + "'" for b in range(256)
    ) + "]"
    return f"""array_to_string(list_transform(flatten(list_transform(
        list_transform(regexp_extract_all({col}, '(?s).'), c -> unicode(c)),
        cp -> CASE WHEN cp < 128 THEN [cp]
              WHEN cp < 2048 THEN [192 + cp // 64, 128 + cp % 64]
              WHEN cp < 65536 THEN [224 + cp // 4096,
                                    128 + (cp // 64) % 64, 128 + cp % 64]
              ELSE [240 + cp // 262144, 128 + (cp // 4096) % 64,
                    128 + (cp // 64) % 64, 128 + cp % 64] END)),
        b -> ({maplit})[b + 1]), '')"""


def _duck_byte_bpe_pieces(col: str = "w", merges=None) -> str:
    """DuckDB expression: byte-level BPE pieces of word ``col`` — the
    dp69b double-space merge-scan replay over the byte-symbol string,
    WITHOUT the </w> marker (the byte-level convention). ``merges``
    defaults to dp158's table; dp159 passes the GPT-2 table (with Ġ
    space-prefix merges)."""
    e = (
        "'  ' || array_to_string("
        f"regexp_extract_all({_duck_byte_symword(col)}, '(?s).'), '  ') || '  '"
    )
    for a, b in (merges or BYTE_BPE_FIXED_MERGES):
        e = f"replace({e}, ' {a}  {b} ', ' {a}{b} ')"
    return f"list_filter(string_split({e}, '  '), x -> x <> '')"


# The GPT-2 regex split replayed in RE2 (no lookahead): marker before
# the final whitespace char of each run, then the lookahead-free
# alternation per marker segment — the exact construction (and the
# equivalence argument) lives at datapipes/bpe.py gpt2_pretokens.
# The whitespace CLASS is the engine's literal GPT2_WS_CHARS (Python's
# Unicode \s), embedded as raw characters — RE2's own \s is ASCII-only
# and RE2 has no \uXXXX escape, so sharing the literal is the only way
# the engine and the oracle stay bit-identical on \x0b / U+00A0 / CJK
# space inputs.
from lakehouse_engine_spark.datapipes.bpe import (  # noqa: E402
    GPT2_WS_CHARS as _GPT2_WS,
)

_DUCK_GPT2_PAT = (
    "''s|''t|''re|''ve|''m|''ll|''d"
    f"| ?\\p{{L}}+| ?\\p{{N}}+| ?[^{_GPT2_WS}\\p{{L}}\\p{{N}}]+"
    f"|[{_GPT2_WS}]+"
)
_DUCK_GPT2_TOKS = (
    "list_filter(flatten(list_transform(string_split("
    "regexp_replace(regexp_replace(text, chr(57344), '', 'g'),"
    f" '([{_GPT2_WS}])([^{_GPT2_WS}])', chr(57344) || '\\1\\2', 'g'),"
    " chr(57344)),"
    f" seg -> regexp_extract_all(seg, '{_DUCK_GPT2_PAT}'))),"
    " t -> t <> '')"
)


def _dp157_oracle(k: int = 3, lam: int = 300, shortlist: int = 20) -> str:
    """dp157 oracle: the MMR greedy trajectory unrolled round by round
    (the dp69 unrolled-rounds convention) — round r's argmax depends on
    the exact selected set of rounds 1..r-1, so each round is one CTE
    pair (scores over the remaining candidates, then the argmax)."""
    dot = (
        "list_sum(list_transform(list_zip({a}, {b}), "
        "p -> p[1]*p[2]))"
    )
    keep = 1000 - lam
    parts = [f"""
            WITH q AS (
              SELECT vec_id AS id,
                     list_transform(embedding,
                       x -> CAST(floor(CAST(x AS DOUBLE)*1024.0 + 0.5) AS BIGINT)) AS v
              FROM embeddings
            ),
            qry AS (SELECT id AS qid, v AS qv FROM q WHERE id < 10),
            rel AS (
              SELECT qry.qid, q.id AS nid,
                     {dot.format(a='qry.qv', b='q.v')} AS rel, q.v AS nv
              FROM qry CROSS JOIN q WHERE q.id <> qry.qid
            ),
            sl AS (
              SELECT qid, nid, rel, nv FROM (
                SELECT *, row_number() OVER (
                  PARTITION BY qid ORDER BY rel DESC, nid ASC) AS rn
                FROM rel
              ) WHERE rn <= {shortlist}
            ),
            s1 AS (
              SELECT qid, nid, rel, nv FROM (
                SELECT *, row_number() OVER (
                  PARTITION BY qid ORDER BY {keep}*rel DESC, nid ASC) AS rn
                FROM sl
              ) WHERE rn = 1
            )"""]
    for r in range(2, k + 1):
        prev = ", ".join(f"s{i}" for i in range(1, r))
        exclude = " AND ".join(f"c.nid <> s{i}.nid" for i in range(1, r))
        joins = " ".join(
            f"JOIN s{i} ON s{i}.qid = c.qid" for i in range(1, r)
        )
        sims = ", ".join(
            dot.format(a="c.nv", b=f"s{i}.nv") for i in range(1, r)
        )
        maxsim = f"greatest({sims})" if r > 2 else sims
        parts.append(f""",
            r{r} AS (
              SELECT c.qid, c.nid, c.rel, c.nv,
                     {keep}*c.rel - {lam}*({maxsim}) AS score
              FROM sl c {joins}
              WHERE {exclude}
            ),
            s{r} AS (
              SELECT qid, nid, rel, nv FROM (
                SELECT *, row_number() OVER (
                  PARTITION BY qid ORDER BY score DESC, nid ASC) AS rn
                FROM r{r}
              ) WHERE rn = 1
            )""")
    sel = "\n            UNION ALL\n".join(
        f"            SELECT qid AS query_id, nid AS neighbor_id, "
        f"CAST(rel AS BIGINT) AS relevance, CAST({i} AS INT) AS mmr_rank "
        f"FROM s{i}"
        for i in range(1, k + 1)
    )
    return "".join(parts) + "\n" + sel


def _duck_shingles(n: int) -> str:
    return (
        f"CASE WHEN len(w) >= {n} THEN "
        f"list_transform(generate_series(1, len(w)-{n-1}), i -> array_to_string(w[i:i+{n-1}], ' ')) "
        f"ELSE [array_to_string(w, ' ')] END"
    )


def _duck_minhash(num_hashes: int) -> str:
    """Mirror of dedup.minhash_signature: one md5 per distinct shingle →
    60-bit int, then the shared (a*x+b) % P permutation family."""
    P = MINHASH_P
    mins = ",\n    ".join(
        f"list_min(list_transform(bs, x -> ({a}*x + {b}) % {P}))"
        for a, b in MINHASH_AB[:num_hashes]
    )
    return f"[{mins}]"


def _duck_bands(bands: int, rows: int) -> str:
    parts = ",\n    ".join(
        f"md5('{b}:' || array_to_string(sg[{b * rows + 1}:{b * rows + rows}], '|'))"
        for b in range(bands)
    )
    return f"[{parts}]"


def _duck_bpe_train(
    num_merges: int,
    toks_expr: str = None,
    sym_expr: str = None,
) -> str:
    """Unrolled canonical BPE training rounds as DuckDB CTEs (bpe.py
    bpe_train / bpe_byte_train at merges_per_round=1). Produces w0..w{N}
    (per-WORD symbol strings, word column threaded through) and
    m0..m{N-1} (one picked merge per round). The merge application
    replays the engine's left-to-right non-overlapping regex scan via
    the dp69b double-space padding trick; coalesce guards keep a
    dried-up corpus from nulling the chain. Defaults replay the
    char-level ``</w>`` trainer over whitespace tokens (dp69);
    ``toks_expr``/``sym_expr`` swap in the gpt2 pretokenizer and the
    byte-symbol seeding for dp162's byte-level trainer."""
    toks = toks_expr or _DUCK_TOKENS_CS
    sym = sym_expr or "array_to_string(str_split(w, ''), ' ') || ' </w>'"
    parts = [
        f"""wc AS (
          SELECT w, COUNT(*) AS cnt
          FROM (SELECT unnest({toks}) AS w FROM documents)
          GROUP BY 1
        ),
        w0 AS MATERIALIZED (
          SELECT w, {sym} AS s, cnt
          FROM wc
        )"""
    ]
    for r in range(num_merges):
        parts.append(
            f"""p{r} AS (
              SELECT pair, SUM(cnt) AS n FROM (
                SELECT cnt,
                       unnest(list_transform(
                           generate_series(1, len(str_split(s, ' ')) - 1),
                           i -> str_split(s, ' ')[i] || ' ' || str_split(s, ' ')[i+1]
                       )) AS pair
                FROM w{r}
              ) GROUP BY 1
            ),
            m{r} AS MATERIALIZED (
              SELECT {r} AS rank,
                     str_split(pair, ' ')[1] AS a,
                     str_split(pair, ' ')[2] AS b,
                     replace(pair, ' ', '') AS merged,
                     ' ' || replace(pair, ' ', '  ') || ' ' AS pat,
                     ' ' || replace(pair, ' ', '') || ' ' AS rep
              FROM p{r} ORDER BY n DESC, pair ASC LIMIT 1
            ),
            w{r+1} AS MATERIALIZED (
              SELECT w.w,
                     trim(replace(replace(
                         ' ' || replace(w.s, ' ', '  ') || ' ',
                         coalesce((SELECT pat FROM m{r}), chr(1)),
                         coalesce((SELECT rep FROM m{r}), chr(1))
                     ), '  ', ' ')) AS s,
                     w.cnt
              FROM w{r} w
            )"""
        )
    return ",\n".join(parts)


def _minhash_cte(num_hashes: int, bands: int, shingle_size: int) -> str:
    rows = num_hashes // bands
    return f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_TOKENS} AS w FROM documents
    ),
    sh AS (
      SELECT doc_id, {_duck_shingles(shingle_size)} AS s FROM toks
    ),
    bases AS (
      SELECT doc_id, list_distinct(list_transform(
        s, x -> CAST('0x' || substr(md5(x), 1, 15) AS BIGINT) % {MINHASH_P})) AS bs
      FROM sh
    ),
    sig AS (
      SELECT doc_id, {_duck_minhash(num_hashes)} AS sg FROM bases
    ),
    bands AS (
      SELECT doc_id, {_duck_bands(bands, rows)} AS bh FROM sig
    ),
    ex AS (SELECT doc_id, unnest(bh) AS h FROM bands),
    buckets AS (SELECT h, min(doc_id) AS m FROM ex GROUP BY h),
    heads AS (
      SELECT ex.doc_id, min(b.m) AS dup_group_id
      FROM ex JOIN buckets b USING (h) GROUP BY ex.doc_id
    )"""


def _duck_bpe_pieces(col: str = "w") -> str:
    """DuckDB expression: BPE-encode one word ``col`` with BPE_FIXED_MERGES.

    Replays apply_merges_py's left-to-right non-overlapping scan without
    regex (DuckDB is RE2 — no lookbehind): symbols are joined with TWO
    spaces ('  a  b  '); each merge is a plain replace of ' a  b ' with
    ' ab ' — the match consumes one space from each double boundary, so
    the neighbouring pair keeps its own boundary space and stays
    matchable, while the merged symbol cannot re-match the same pass
    (replace continues after the replaced region), exactly like the
    Python scanner's i += 2."""
    e = (
        "'  ' || array_to_string("
        f"list_append(regexp_extract_all({col}, '.'), '</w>'), '  ') || '  '"
    )
    for a, b in BPE_FIXED_MERGES:
        e = f"replace({e}, ' {a}  {b} ', ' {a}{b} ')"
    return f"list_filter(string_split({e}, '  '), x -> x <> '')"


def _duck_pii() -> str:
    """Mirror of text_pii_redact over the dp21 seeded text: staged
    regexp_replace in PII_PATTERNS order, counting each pattern on the text
    as redacted by earlier patterns (identical to the Spark operator)."""
    sql = """
    WITH s0 AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@mail.example.com call +1-555-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  || ' ip 10.' || CAST(doc_id % 256 AS VARCHAR)
                  || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR)
                  || ' card 4111 1111 1111 1111 ok' AS t,
             0 AS n
      FROM documents
    )"""
    prev = "s0"
    for i, (_, pat, token) in enumerate(PII_PATTERNS, 1):
        sql += f""",
    s{i} AS (
      SELECT doc_id,
             regexp_replace(t, '{pat}', '{token}', 'g') AS t,
             n + len(regexp_extract_all(t, '{pat}')) AS n
      FROM {prev}
    )"""
        prev = f"s{i}"
    return sql + f"""
    SELECT doc_id, md5(t) AS clean_md5, CAST(n AS INT) AS n_pii FROM {prev}
    """


_DUCK_COSINE = (
    "list_reduce(list_transform(list_zip(a.v, b.v), p -> p[1]*p[2]), (x,y) -> x+y)"
    " / (sqrt(list_reduce(list_transform(a.v, x -> x*x), (x,y) -> x+y))"
    " * sqrt(list_reduce(list_transform(b.v, x -> x*x), (x,y) -> x+y)))"
)


def _duck_simhash(shingle_size: int, hamming_threshold: int) -> str:
    """Mirror of dedup_simhash: 60-bit md5-fold SimHash (±1 vote per bit,
    sign → bit), 4×15-bit chunk pigeonhole candidates, popcount verify,
    survivors = docs with no verified smaller neighbor."""
    bits = 60
    votes = ",\n                   ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(bits)
    )
    sig = "\n                 + ".join(
        f"(CASE WHEN b{i} > 0 THEN 1::BIGINT << {i} ELSE 0::BIGINT END)"
        for i in range(bits)
    )
    return f"""
        WITH toks AS (SELECT doc_id, {_DUCK_TOKENS} AS w FROM documents),
        sh AS (SELECT doc_id, {_duck_shingles(shingle_size)} AS s FROM toks),
        ex AS (
          SELECT doc_id, CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS h
          FROM (SELECT doc_id, unnest(s) AS g FROM sh)
        ),
        votes AS (SELECT doc_id,
                   {votes}
                  FROM ex GROUP BY doc_id),
        sig AS (SELECT doc_id,
                   {sig}
                 AS sm FROM votes),
        ch AS (
          SELECT doc_id, sm, k, (sm >> (k * 15)) & 32767 AS c
          FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k)
        ),
        pairs AS (
          SELECT l.doc_id AS id, r.doc_id AS cand, l.sm AS s1, r.sm AS s2
          FROM ch l JOIN ch r ON l.k = r.k AND l.c = r.c AND l.doc_id > r.doc_id
          GROUP BY 1, 2, 3, 4
        ),
        heads AS (
          SELECT id, MIN(cand) AS g FROM pairs
          WHERE bit_count(xor(s1, s2)) <= {hamming_threshold} GROUP BY id
        )
        SELECT d.doc_id, d.lang, d.source
        FROM documents d LEFT JOIN heads h ON d.doc_id = h.id
        WHERE h.g IS NULL OR h.g >= d.doc_id
    """


def _lsh_planes(num_tables: int, num_planes: int, dim: int) -> list:
    """The EXACT hyperplane literals knn_lsh seeds (same RNG, same order) —
    the oracle re-derives them instead of reading engine state."""
    import random

    rng = random.Random(20240613)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)]
        for _ in range(num_tables * num_planes)
    ]


def _duck_lsh_sig_ctes(num_planes: int, num_tables: int, dim: int) -> str:
    """Shared WITH-prefix: embeddings → per-plane dots → per-table sign
    signatures (the exact literals the engine seeds)."""
    planes = _lsh_planes(num_tables, num_planes, dim)
    dots = ",\n              ".join(
        "list_reduce(list_transform(list_zip(v, ["
        + ",".join(repr(x) for x in planes[j])
        + f"]), p -> p[1]*p[2]), (x,y) -> x+y) AS d{j}"
        for j in range(num_tables * num_planes)
    )

    def table_sig(t: int) -> str:
        return " + ".join(
            f"(CASE WHEN d{t * num_planes + p} >= 0 THEN {2 ** p} ELSE 0 END)"
            for p in range(num_planes)
        )

    sigs = ", ".join(table_sig(t) for t in range(num_tables))
    tables = ", ".join(str(t) for t in range(num_tables))
    return f"""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        d AS (SELECT vec_id, v,
              {dots}
              FROM v),
        sigs AS (
          SELECT vec_id, unnest([{tables}]) AS t, unnest([{sigs}]) AS sig
          FROM d
        )"""


def _duck_knn_lsh(k: int, num_planes: int, num_tables: int, dim: int) -> str:
    """Mirror of knn_lsh: per-table sign signatures against the seeded
    hyperplanes, bucket-join candidates, exact cosine re-rank."""
    return _duck_lsh_sig_ctes(num_planes, num_tables, dim) + f""",
        cand AS (
          SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
          FROM sigs q JOIN sigs c ON q.t = c.t AND q.sig = c.sig
          WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
        ),
        scored AS (
          SELECT cand.query_id, cand.neighbor_id,
                 ROUND({_DUCK_COSINE}, 6) AS score
          FROM cand
          JOIN v a ON a.vec_id = cand.query_id
          JOIN v b ON b.vec_id = cand.neighbor_id
        )
        SELECT query_id, neighbor_id, score, rank FROM (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
          FROM scored
        ) WHERE rank <= {k}
    """


def _duck_knn_ivf(k: int, num_centroids: int, nprobe: int) -> str:
    """Mirror of knn_ivf: deterministic centroids (num_centroids smallest
    md5-fold content hashes — works for any id distribution), best-cosine
    assignment (ties → larger centroid id, matching Spark's max(struct)),
    nprobe probing, exact re-rank."""
    return f"""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        cent AS (
          SELECT vec_id AS centroid_id, v AS cv FROM v
          ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)
                        AS BIGINT), vec_id
          LIMIT {num_centroids}
        ),
        assigned AS (
          SELECT vec_id, v, centroid_id FROM (
            SELECT a.vec_id, a.v AS v, b.centroid_id,
                   ROW_NUMBER() OVER (
                     PARTITION BY a.vec_id
                     ORDER BY {_DUCK_COSINE} DESC, b.centroid_id DESC) AS rn
            FROM v a CROSS JOIN (SELECT centroid_id, cv AS v FROM cent) b
          ) WHERE rn = 1
        ),
        probes AS (
          SELECT query_id, centroid_id FROM (
            SELECT a.vec_id AS query_id, b.centroid_id,
                   ROW_NUMBER() OVER (
                     PARTITION BY a.vec_id
                     ORDER BY {_DUCK_COSINE} DESC, b.centroid_id ASC) AS rn
            FROM v a CROSS JOIN (SELECT centroid_id, cv AS v FROM cent) b
            WHERE a.vec_id < 10
          ) WHERE rn <= {nprobe}
        ),
        scored AS (
          SELECT p.query_id, b.vec_id AS neighbor_id,
                 ROUND({_DUCK_COSINE}, 6) AS score
          FROM probes p
          JOIN v a ON a.vec_id = p.query_id
          JOIN assigned b ON b.centroid_id = p.centroid_id
                         AND b.vec_id <> p.query_id
        )
        SELECT query_id, neighbor_id, score, rank FROM (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
          FROM scored
        ) WHERE rank <= {k}
    """


def _duck_winnow_fps(src: str = "documents", pre: str = "") -> str:
    """Winnow-fingerprint CTE chain (the dp138 replay) over ``src`` (a
    table name or parenthesized subquery) with CTE names prefixed by
    ``pre`` so two chains can coexist in one statement (dp148's
    main-vs-reference overlap)."""
    return f"""
            WITH {pre}nrm AS (
              SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s
              FROM {src} WHERE text IS NOT NULL
            ), {pre}g AS (
              SELECT doc_id, s, length(s) - 5 + 1 AS m FROM {pre}nrm WHERE length(s) >= 5
            ), {pre}codes AS (
              SELECT doc_id, m,
                     list_transform(generate_series(1, length(s)),
                       p -> CAST(CASE WHEN ascii(substr(s, p, 1)) >= 97
                                      THEN ascii(substr(s, p, 1)) - 87
                                      ELSE ascii(substr(s, p, 1)) - 48 END AS BIGINT)) AS c
              FROM {pre}g
            ), {pre}hs AS (
              -- packed base-36 gram codes (collision-free for k=5)
              SELECT doc_id, m,
                     list_transform(generate_series(1, m),
                       i -> c[i]*1679616 + c[i+1]*46656 + c[i+2]*1296 + c[i+3]*36 + c[i+4]) AS h
              FROM {pre}codes
            ), {pre}w AS (
              SELECT doc_id,
                     unnest(list_transform(generate_series(1, greatest(m - 4 + 1, 1)),
                       i -> struct_pack(
                         pos := CAST(i + len(h[i:i+3])
                                   - list_position(list_reverse(h[i:i+3]), list_min(h[i:i+3])) AS INTEGER),
                         fp := list_min(h[i:i+3])))) AS f
              FROM {pre}hs
            )
            SELECT DISTINCT doc_id, f.pos AS pos, f.fp AS fp FROM {pre}w
"""


_DUCK_WINNOW_FPS = _duck_winnow_fps()

def _duck_linear_fit(l2: float) -> str:
    """Replay of dp134: grid-quantize dims 1-4, exact integer moment sums
    (DuckDB HUGEINT ≡ Spark's exact DECIMAL(37,12) sums — both cast to
    the nearest double of the same exact integer), then the IDENTICAL
    Cramer/r2 expression text the Spark plan runs
    (numeric.cramer_fit_exprs) — bit-for-bit weight parity."""
    ex = cramer_fit_exprs(3, l2)
    dims = {f"x{i}": f"CAST(floor(CAST(embedding[{i}] AS DOUBLE)*1024.0 + 0.5) AS BIGINT)" for i in (1, 2, 3, 4)}
    feats = ["x2", "x3", "x4"]  # y = x1
    moments = [
        "COUNT(*) AS n",
        "CAST(COUNT(*) AS DOUBLE) AS g00",
    ]
    for i, f in enumerate(feats, start=1):
        moments.append(f"CAST(SUM({f}) AS DOUBLE) AS g0{i}")
        for j, f2 in enumerate(feats[i - 1:], start=i):
            moments.append(f"CAST(SUM({f}*{f2}) AS DOUBLE) AS g{i}{j}")
    moments.append("CAST(SUM(x1) AS DOUBLE) AS b0")
    for i, f in enumerate(feats, start=1):
        moments.append(f"CAST(SUM({f}*x1) AS DOUBLE) AS b{i}")
    moments.append("CAST(SUM(x1*x1) AS DOUBLE) AS syy")
    wb = " + ".join(f"w{i}*b{i}" for i in range(4))
    wgw = " + ".join(
        f"w{i}*w{j}*g{min(i, j)}{max(i, j)}" for i in range(4) for j in range(4)
    )
    sse = f"(syy - 2.0*({wb}) + ({wgw}))"
    sst = "(syy - b0*b0/n)"
    return f"""
        WITH q AS (
          SELECT label,
                 {dims['x1']} AS x1, {dims['x2']} AS x2,
                 {dims['x3']} AS x3, {dims['x4']} AS x4
          FROM embeddings
        ), qq AS (
          SELECT * FROM q
          WHERE x1 IS NOT NULL AND x2 IS NOT NULL
            AND x3 IS NOT NULL AND x4 IS NOT NULL
        ), mom AS (
          SELECT label, {', '.join(moments)}
          FROM qq GROUP BY label
        ), solved AS (
          SELECT *, {ex['det']} AS det,
                 CASE WHEN {ex['det']} <> 0.0 THEN {ex['w0']} / {ex['det']} END AS w0,
                 CASE WHEN {ex['det']} <> 0.0 THEN {ex['w1']} / {ex['det']} END AS w1,
                 CASE WHEN {ex['det']} <> 0.0 THEN {ex['w2']} / {ex['det']} END AS w2,
                 CASE WHEN {ex['det']} <> 0.0 THEN {ex['w3']} / {ex['det']} END AS w3
          FROM mom
        )
        SELECT label, n, w0, w1, w2, w3,
               CASE WHEN det <> 0.0 AND {sst} > 0.0
                    THEN 1.0 - {sse}/{sst} END AS r2
        FROM solved
    """


def oracle_sql() -> dict[str, str]:
    sw = {
        "en": "['the','and','of','to','in','is','that','it','for','was','with','on']",
        "de": "['der','die','das','und','ist','von','mit','den','nicht','ein','eine','zu']",
        "fr": "['le','la','les','et','est','des','un','une','du','que','pour','dans']",
        "es": "['el','la','los','las','es','de','un','una','que','por','para','con']",
    }
    lang_score = {
        k: f"len(list_intersect(list_distinct({_DUCK_TOKENS}), {v}))" for k, v in sw.items()
    }
    best = f"greatest({lang_score['en']}, {lang_score['de']}, {lang_score['fr']}, {lang_score['es']})"
    # mirror Spark's tie-break: first language in (en, de, fr, es) order wins
    pred = (
        f"CASE WHEN {best} = 0 THEN 'und' "
        f"WHEN {lang_score['en']} = {best} THEN 'en' "
        f"WHEN {lang_score['de']} = {best} THEN 'de' "
        f"WHEN {lang_score['fr']} = {best} THEN 'fr' "
        f"WHEN {lang_score['es']} = {best} THEN 'es' ELSE 'und' END"
    )

    oracles = {
        "q01_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
                   CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
                   CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
                   ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 4) AS avg_qty,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q02_revenue_by_segment": """
            SELECT c_mktsegment, n_name,
                   CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
                   COUNT(*) AS n_items
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            GROUP BY c_mktsegment, n_name
        """,
        "q03_latest_order_per_customer": """
            SELECT o_custkey,
                   o_orderkey AS latest_orderkey,
                   epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS latest_orderdate_us,
                   o_orderstatus,
                   o_totalprice AS totalprice
            FROM (
              SELECT *, ROW_NUMBER() OVER (
                PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
              FROM orders
            ) WHERE rn = 1
        """,
        "q04_union_dedup": """
            SELECT DISTINCT o_orderkey, o_custkey, o_orderstatus,
                   o_totalprice AS totalprice, o_orderpriority,
                   epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS orderdate_us
            FROM (
              SELECT * FROM orders WHERE o_totalprice > 100000
              UNION ALL
              SELECT * FROM orders WHERE o_orderpriority = '1-URGENT'
            )
        """,
        "q05_incremental_filter": """
            SELECT l_returnflag, COUNT(*) AS n_rows,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
            FROM lineitem WHERE l_shipdate > TIMESTAMP '1998-01-01'
            GROUP BY l_returnflag
        """,
        "q06_condense_cdc": """
            WITH cdc AS (
              SELECT o_orderkey, 1 AS seq, 'N' AS recordmode, o_totalprice FROM orders
              UNION ALL
              SELECT o_orderkey, 2, '', o_totalprice * 2 FROM orders WHERE o_orderkey % 10 = 0
              UNION ALL
              SELECT o_orderkey, 3, 'D', o_totalprice FROM orders WHERE o_orderkey % 100 = 0
              UNION ALL
              SELECT o_orderkey, 4, 'X', o_totalprice FROM orders WHERE o_orderkey % 50 = 0
            ),
            ranked AS (
              -- rank FIRST over all rows, filter record modes AFTER (reference
              -- semantics): a key whose newest image is excluded ('X') yields
              -- no row at all
              SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
              FROM cdc
            )
            SELECT o_orderkey, seq, o_totalprice AS totalprice
            FROM ranked
            WHERE (recordmode IS NULL OR recordmode IN ('', 'N', 'D'))
              AND rn = 1 AND recordmode <> 'D'
        """,
        "q07_dq_stats": """
            SELECT * FROM (VALUES
              ('expect_column_values_to_not_be_null',
               (SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NULL),
               (SELECT COUNT(*) FROM lineitem)),
              ('expect_column_values_to_be_between',
               (SELECT COUNT(*) FROM lineitem WHERE NOT (l_quantity IS NULL OR (l_quantity >= 1 AND l_quantity <= 50))),
               (SELECT COUNT(*) FROM lineitem)),
              ('expect_column_values_to_be_in_set',
               (SELECT COUNT(*) FROM lineitem WHERE NOT (l_returnflag IS NULL OR l_returnflag IN ('A','N','R'))),
               (SELECT COUNT(*) FROM lineitem)),
              ('expect_column_pair_a_to_be_smaller_or_equal_than_b',
               (SELECT COUNT(*) FROM lineitem WHERE NOT (l_discount IS NULL OR l_tax IS NULL OR l_discount <= l_tax + 0.05)),
               (SELECT COUNT(*) FROM lineitem)),
              ('expect_column_values_to_not_be_null_or_empty_string',
               (SELECT COUNT(*) FROM lineitem WHERE NOT (l_linestatus IS NOT NULL AND trim(CAST(l_linestatus AS VARCHAR)) <> '')),
               (SELECT COUNT(*) FROM lineitem))
            ) AS t(expectation_type, unexpected_count, element_count)
        """,
        "q08_reconciliation": """
            WITH cur AS (
              SELECT o_orderkey, o_orderstatus,
                     CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.1 ELSE o_totalprice END AS o_totalprice
              FROM orders WHERE o_orderkey % 13 <> 0
            )
            SELECT COALESCE(t.o_orderstatus, c.o_orderstatus) AS o_orderstatus,
                   CAST(SUM(CAST(ABS(COALESCE(c.o_totalprice,0) - COALESCE(t.o_totalprice,0)) AS DECIMAL(18,4))) AS DOUBLE) AS abs_diff,
                   COUNT(*) FILTER (WHERE c.o_totalprice IS NULL) AS missing_current,
                   COUNT(*) AS n
            FROM orders t FULL OUTER JOIN cur c ON t.o_orderkey = c.o_orderkey
            GROUP BY 1
        """,
        "q09_flatten_explode": """
            SELECT l_orderkey, l_linenumber,
                   l_quantity AS qty,
                   l_extendedprice AS price,
                   unnest([l_discount, l_tax]) AS rate
            FROM lineitem WHERE l_orderkey % 100 = 0
        """,
        "q10_date_hierarchy": """
            SELECT EXTRACT(year FROM o_orderdate) AS yr,
                   EXTRACT(quarter FROM o_orderdate) AS qtr,
                   COUNT(*) AS n_orders,
                   MIN(strftime(o_orderdate, '%Y-%m-%d')) AS first_day,
                   MAX(EXTRACT(day FROM o_orderdate)) AS max_dom,
                   MAX(EXTRACT(month FROM o_orderdate)) AS max_month
            FROM orders GROUP BY 1, 2
        """,
        "q11_hash_masker": """
            SELECT c_custkey, c_nationkey, c_mktsegment AS segment,
                   sha256(c_name) AS c_name_hash
            FROM customer
        """,
        "q12_column_ops": r"""
            SELECT p_partkey, p_brand,
                   COALESCE(regexp_extract(p_type, '(\w+)$', 1), '') AS p_type_last,
                   CAST(p_size AS VARCHAR) AS p_size,
                   'tpch' AS source_system
            FROM part
        """,
        "q13_get_max_value": """
            SELECT epoch_us(CAST(MAX(l_shipdate) AS TIMESTAMP)) AS latest_us FROM lineitem
        """,
        "q14_window_running": """
            SELECT l_suppkey, l_orderkey, l_linenumber,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) OVER (
                     PARTITION BY l_suppkey
                     ORDER BY l_shipdate, l_orderkey, l_linenumber
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_rev
            FROM lineitem WHERE l_suppkey < 5
        """,
        "q15_events_hourly": """
            SELECT epoch(date_trunc('hour', CAST(ts AS TIMESTAMP)))::BIGINT AS hour_epoch,
                   event_type, COUNT(*) AS n_events,
                   COUNT(DISTINCT user_id) AS n_users,
                   CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "q16_events_dedup": """
            WITH dedup AS (
              SELECT *, ROW_NUMBER() OVER (
                PARTITION BY user_id, event_type, epoch(date_trunc('minute', CAST(ts AS TIMESTAMP)))::BIGINT
                ORDER BY ts, event_id) AS rn
              FROM events
            )
            SELECT event_type, COUNT(*) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
            FROM dedup WHERE rn = 1 GROUP BY event_type
        """,
        "dp01_text_quality": rf"""
            WITH base AS (
              SELECT doc_id, text,
                     {_DUCK_TOKENS} AS w,
                     length(text) AS n_chars
              FROM documents
            )
            SELECT doc_id,
                   len(w)::INT AS n_words,
                   ROUND(CASE WHEN len(w) > 0
                         THEN CAST(list_reduce(list_transform(w, t -> length(t)), (a,b) -> a+b) AS DOUBLE)/len(w)
                         ELSE 0.0 END, 4) AS mean_word_len,
                   ROUND(CASE WHEN n_chars > 0
                         THEN CAST(n_chars - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS DOUBLE)/n_chars
                         ELSE 0.0 END, 4) AS punct_ratio,
                   ROUND(CASE WHEN n_chars > 0
                         THEN CAST(n_chars - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)/n_chars
                         ELSE 0.0 END, 4) AS digit_ratio,
                   ROUND(CASE WHEN n_chars > 0
                         THEN CAST(n_chars - length(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE)/n_chars
                         ELSE 0.0 END, 4) AS upper_ratio,
                   ROUND(CASE WHEN len(w) > 0
                         THEN CAST(len(list_intersect(list_distinct(list_transform(w, t -> lower(t))), {sw['en']})) AS DOUBLE)
                              / least(len(w), 12)
                         ELSE 0.0 END, 4) AS stopword_ratio,
                   ROUND(
                     (CASE WHEN len(w) BETWEEN 10 AND 100000 THEN 0.25 ELSE 0.0 END) +
                     (CASE WHEN len(w) > 0 AND
                           CAST(list_reduce(list_transform(w, t -> length(t)), (a,b) -> a+b) AS DOUBLE)/len(w)
                           BETWEEN 3 AND 12 THEN 0.25 ELSE 0.0 END) +
                     (CASE WHEN n_chars > 0 AND
                           CAST(n_chars - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS DOUBLE)/n_chars < 0.3
                           THEN 0.25 ELSE 0.0 END) +
                     least(CASE WHEN len(w) > 0
                           THEN CAST(len(list_intersect(list_distinct(list_transform(w, t -> lower(t))), {sw['en']})) AS DOUBLE)
                                / least(len(w), 12) ELSE 0.0 END, 1.0) * 0.25
                   , 4) AS quality_score
            FROM base
        """,
        "dp02_langid": f"""
            SELECT lang, {pred} AS lang_pred, COUNT(*) AS n
            FROM documents GROUP BY 1, 2
        """,
        "dp03_token_count": r"""
            SELECT doc_id,
                   len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\s]'))::INT AS n_tokens
            FROM documents
        """,
        "dp04_fingerprint": r"""
            WITH fp AS (
              SELECT doc_id,
                     md5(array_to_string(list_sort(list_distinct(
                       list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g')), '\s+'), t -> t <> '')
                     )), ' ')) AS fingerprint
              FROM documents
            )
            SELECT fingerprint, COUNT(*) AS cluster_size, MIN(doc_id) AS head_doc
            FROM fp GROUP BY fingerprint HAVING COUNT(*) > 1
        """,
        "dp05_dedup_exact": r"""
            -- row_number survivor (r13): id TIES leave exactly one copy
            WITH norm AS (
              SELECT *, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS k FROM documents
            )
            SELECT doc_id, lang, source, n_chars FROM (
              SELECT *, ROW_NUMBER() OVER (
                PARTITION BY k ORDER BY doc_id ASC) AS rn FROM norm
            ) WHERE rn = 1
        """,
        "dp06_dedup_minhash": _minhash_cte(12, 4, 3)
        + """
            SELECT d.doc_id, d.lang, d.source
            FROM documents d JOIN heads h ON d.doc_id = h.doc_id
            WHERE h.dup_group_id = d.doc_id
        """,
        "dp07_dedup_ngram_jaccard": _minhash_cte(12, 6, 3).replace(
            "heads AS (",
            """pairs AS (
              SELECT l.doc_id AS id, r.doc_id AS cand
              FROM ex l JOIN ex r ON l.h = r.h AND l.doc_id > r.doc_id
              GROUP BY 1, 2
            ),
            jac AS (
              SELECT p.id, p.cand,
                     CAST(len(list_intersect(s1.ds, s2.ds)) AS DOUBLE) /
                     (len(s1.ds) + len(s2.ds) - len(list_intersect(s1.ds, s2.ds))) AS j
              FROM pairs p
              JOIN (SELECT doc_id, list_distinct(s) AS ds FROM sh) s1 ON s1.doc_id = p.id
              JOIN (SELECT doc_id, list_distinct(s) AS ds FROM sh) s2 ON s2.doc_id = p.cand
            ),
            heads0 AS (""",
        ).replace(
            """SELECT ex.doc_id, min(b.m) AS dup_group_id
      FROM ex JOIN buckets b USING (h) GROUP BY ex.doc_id
    )""",
            """SELECT id AS doc_id, min(cand) AS dup_group_id
      FROM jac WHERE j >= 0.5 GROUP BY id
    )""",
        )
        + """
            SELECT d.doc_id, d.lang, d.source
            FROM documents d LEFT JOIN heads0 h ON d.doc_id = h.doc_id
            WHERE h.dup_group_id IS NULL OR h.dup_group_id >= d.doc_id
        """,
        "dp08_embedding_dedup": """
            WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            pairs AS (
              SELECT a.vec_id AS id, b.vec_id AS cand
              FROM v a JOIN v b ON a.vec_id > b.vec_id
              WHERE """
        + _DUCK_COSINE
        + """ >= 0.9
            ),
            heads AS (SELECT id, MIN(cand) AS g FROM pairs GROUP BY id)
            SELECT e.vec_id, e.label
            FROM embeddings e LEFT JOIN heads h ON e.vec_id = h.id
            WHERE h.g IS NULL OR h.g >= e.vec_id
        """,
        "dp09_knn_brute": """
            WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            scored AS (
              SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                     ROUND("""
        + _DUCK_COSINE
        + """, 6) AS score
              FROM v a JOIN v b ON a.vec_id < 10 AND a.vec_id <> b.vec_id
            )
            SELECT query_id, neighbor_id, score, rank FROM (
              SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
              FROM scored
            ) WHERE rank <= 5
        """,
        "dp10_multimodal_bytes": """
            SELECT doc_id, strlen(text)::BIGINT AS n_bytes FROM documents
        """,
        "dp11_dedup_simhash": _duck_simhash(shingle_size=2, hamming_threshold=3),
        "dp12_knn_lsh": _duck_knn_lsh(k=5, num_planes=12, num_tables=4, dim=64),
        "dp13_knn_ivf": _duck_knn_ivf(k=5, num_centroids=16, nprobe=4),
        "dp29_pack_sequences": r"""
            WITH t AS (
              SELECT doc_id,
                     len(string_split_regex(trim(text), '\s+')) AS n_tokens,
                     CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                          AS BIGINT) % 1000000 AS b
              FROM documents
            ),
            s AS (
              SELECT doc_id, n_tokens, b % 8 AS pack_shard,
                     SUM(n_tokens) OVER (
                       PARTITION BY b % 8 ORDER BY b, doc_id
                       ROWS UNBOUNDED PRECEDING) - n_tokens AS strt
              FROM t
            )
            SELECT CAST(pack_shard AS BIGINT) AS pack_shard,
                   CAST(pack_shard * 1000000000 + (strt // 512) AS BIGINT) AS pack_id,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
                   MIN(doc_id) AS first_doc
            FROM s GROUP BY 1, 2
        """,
        "dp27_image_decode": """
            SELECT doc_id,
                   'image/x-portable-pixmap' AS media_type,
                   'ppm' AS codec,
                   (4 + doc_id % 5)::INT AS width,
                   3::INT AS height,
                   (doc_id % 256)::DOUBLE AS mean_r,
                   ((7 * doc_id) % 256)::DOUBLE AS mean_g,
                   ((13 * doc_id) % 256)::DOUBLE AS mean_b
            FROM documents
        """,
        "dp34_quality_prune": rf"""
            WITH base AS (
              SELECT doc_id, lang, text, {_DUCK_TOKENS} AS w,
                     length(text) AS n_chars
              FROM documents
            ), feat AS (
              SELECT doc_id, lang,
                     len(w) AS nw,
                     CASE WHEN len(w) > 0
                          THEN CAST(list_reduce(list_transform(w, t -> length(t)), (a,b) -> a+b) AS DOUBLE)/len(w)
                          ELSE 0.0 END AS mean_wl,
                     CASE WHEN n_chars > 0
                          THEN CAST(n_chars - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS DOUBLE)/n_chars
                          ELSE 0.0 END AS sym_ratio,
                     CASE WHEN n_chars > 0
                          THEN CAST(n_chars - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)/n_chars
                          ELSE 0.0 END AS digit_ratio,
                     len(list_intersect(list_distinct(w), {sw['en']})) AS sw_hits,
                     CASE WHEN len(w) > 0
                          THEN CAST(list_max(list_transform(list_distinct(w),
                                t -> len(list_filter(w, x -> x = t)))) AS DOUBLE)/len(w)
                          ELSE 0.0 END AS top_ratio
              FROM base
            )
            SELECT doc_id, lang,
                   (nw >= 10 AND nw <= 100000) AS pass_word_count,
                   (mean_wl >= 2.0 AND mean_wl <= 14.0) AS pass_mean_word_len,
                   (sym_ratio <= 0.3) AS pass_symbol_ratio,
                   (digit_ratio <= 0.3) AS pass_digit_ratio,
                   (sw_hits >= 1) AS pass_stopwords,
                   (top_ratio <= 0.2) AS pass_top_word,
                   ((nw >= 10 AND nw <= 100000) AND (mean_wl >= 2.0 AND mean_wl <= 14.0)
                    AND (sym_ratio <= 0.3) AND (digit_ratio <= 0.3)
                    AND (sw_hits >= 1) AND (top_ratio <= 0.2)) AS quality_pass
            FROM feat
        """,
        "dp35_lm_score": rf"""
            WITH toks AS (
              SELECT doc_id, unnest({_DUCK_TOKENS}) AS w FROM documents
            ), vocab AS (
              SELECT w, COUNT(*) AS c FROM toks GROUP BY w
              ORDER BY c DESC, w ASC LIMIT 500
            ), tot AS (
              SELECT SUM(c) AS n FROM vocab
            ), scored AS (
              -- 4dp-grid logs as scaled BIGINTs (floor(x*1e4+0.5)): exact
              -- integer sums, no engine round() anywhere (Spark rounds the
              -- shortest decimal repr, DuckDB the binary value — they
              -- disagree on the half-way points Σlp/n hits often)
              SELECT t.doc_id, COUNT(*) AS nt,
                     SUM(CASE WHEN v.c IS NOT NULL
                              THEN CAST(floor(log10(v.c) * 10000 + 0.5) AS BIGINT)
                              ELSE -3010 END) AS slp
              FROM toks t LEFT JOIN vocab v ON t.w = v.w
              GROUP BY t.doc_id
            )
            SELECT d.doc_id,
                   CAST(COALESCE(s.nt, 0) AS INT) AS n_scored_tokens,
                   (CAST(s.slp AS DOUBLE)/s.nt
                    - floor(log10(t.n) * 10000 + 0.5)) / 10000.0 AS avg_logprob
            FROM documents d
            LEFT JOIN scored s ON d.doc_id = s.doc_id
            CROSS JOIN tot t
        """,
        "dp36_tfidf_top_terms": rf"""
            WITH pairs AS (
              SELECT doc_id, w AS term, COUNT(*) AS tf
              FROM (SELECT doc_id, unnest({_DUCK_TOKENS}) AS w FROM documents)
              GROUP BY doc_id, w
            ), dfreq AS (
              SELECT term, COUNT(*) AS df FROM pairs GROUP BY term
            ), nd AS (
              SELECT COUNT(DISTINCT doc_id) AS n FROM documents
            ), scored AS (
              -- scaled-BIGINT idf (see dp35 note): exact integer ranking
              SELECT p.doc_id, p.term, p.tf, f.df,
                     p.tf * CAST(floor(log10(CAST(n.n + 1 AS DOUBLE)/(f.df + 1))
                                       * 10000 + 0.5) AS BIGINT) AS tfidf_s
              FROM pairs p JOIN dfreq f USING (term) CROSS JOIN nd n
            )
            SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
                   tfidf_s / 10000.0 AS tfidf, CAST(term_rank AS INT) AS term_rank
            FROM (
              SELECT *, ROW_NUMBER() OVER (
                PARTITION BY doc_id ORDER BY tfidf_s DESC, term ASC) AS term_rank
              FROM scored
            ) WHERE term_rank <= 3
        """,
        "dp37_global_shuffle": """
            WITH t AS (
              SELECT doc_id,
                     CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 's1'), 1, 15)
                          AS BIGINT) % 1000000 AS b
              FROM documents
            )
            SELECT doc_id,
                   CAST(b % 8 AS INT) AS shard,
                   CAST(ROW_NUMBER() OVER (PARTITION BY b % 8 ORDER BY b, doc_id) - 1
                        AS BIGINT) AS position
            FROM t
        """,
        "dp38_embedding_quantize": """
            WITH n AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                     sqrt(list_reduce(list_transform(CAST(embedding AS DOUBLE[]), x -> x*x),
                                      (a,b) -> a+b)) AS l2
              FROM embeddings
            ), u AS (
              SELECT vec_id, l2,
                     CASE WHEN l2 >= 1e-12 THEN list_transform(v, x -> x / l2)
                          ELSE list_transform(v, x -> 0.0) END AS uv
              FROM n
            ), q AS (
              SELECT vec_id, l2, uv,
                     list_max(list_transform(uv, x -> abs(x))) AS amax
              FROM u
            ), codes AS (
              SELECT vec_id, l2, amax,
                     CASE WHEN amax > 0.0
                          THEN list_transform(uv, x -> CAST(floor(x * 127.0 / amax + 0.5) AS INT))
                          ELSE list_transform(uv, x -> 0) END AS qq
              FROM q
            )
            SELECT vec_id, l2 AS l2_norm,
                   CASE WHEN amax > 0.0 THEN amax / 127.0 ELSE 0.0 END AS q8_scale,
                   CAST(list_reduce(qq, (a,b) -> a+b) AS BIGINT) AS q8_sum,
                   CAST(list_max(qq) AS INT) AS q8_max,
                   md5(array_to_string(qq, ',')) AS q8_md5
            FROM codes
        """,
        "dp40_cross_near_dedup": rf"""
            WITH toks AS (
              SELECT doc_id, {_DUCK_TOKENS} AS w FROM documents
            ),
            sh AS (
              SELECT doc_id, {_duck_shingles(3)} AS s FROM toks
            ),
            bases AS (
              SELECT doc_id, list_distinct(list_transform(
                s, x -> CAST('0x' || substr(md5(x), 1, 15) AS BIGINT) % {MINHASH_P})) AS bs
              FROM sh
            ),
            sig AS (
              SELECT doc_id, {_duck_minhash(12)} AS sg FROM bases
            ),
            bandsx AS (
              SELECT doc_id, {_duck_bands(4, 3)} AS bh FROM sig
            ),
            ex AS (SELECT doc_id, unnest(bh) AS h FROM bandsx),
            ref AS (
              SELECT DISTINCT h FROM ex
              WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'xm'), 1, 15)
                         AS BIGINT) % 1000000 < 100000
            ),
            hits AS (SELECT DISTINCT e.doc_id FROM ex e JOIN ref USING (h))
            SELECT d.doc_id, d.lang, (x.doc_id IS NOT NULL) AS near_reference
            FROM documents d LEFT JOIN hits x USING (doc_id)
        """,
        "dp42_cross_embedding_dedup": _duck_lsh_sig_ctes(12, 4, 64) + """,
        ref AS (
          SELECT s.vec_id, s.t, s.sig FROM sigs s
          WHERE CAST('0x' || substr(md5(CAST(s.vec_id AS VARCHAR) || 'xe'), 1, 15)
                     AS BIGINT) % 1000000 < 200000
        ),
        pairs AS (
          SELECT DISTINCT l.vec_id AS id, r.vec_id AS cand
          FROM sigs l JOIN ref r ON l.t = r.t AND l.sig = r.sig
        ),
        hits AS (
          SELECT DISTINCT p.id
          FROM pairs p
          JOIN v a ON a.vec_id = p.id
          JOIN v b ON b.vec_id = p.cand
          WHERE """ + _DUCK_COSINE + """ >= 0.9
        )
        SELECT e.vec_id, e.label, (x.id IS NOT NULL) AS near_reference
        FROM embeddings e LEFT JOIN hits x ON e.vec_id = x.id
        """,
        "dp49_curation_report": rf"""
            WITH base AS (
              SELECT doc_id, lang, text, {_DUCK_TOKENS} AS w,
                     length(text) AS n_chars
              FROM documents
            ), feat AS (
              SELECT lang,
                     len(w) AS nw,
                     CASE WHEN len(w) > 0
                          THEN CAST(list_reduce(list_transform(w, t -> length(t)), (a,b) -> a+b) AS DOUBLE)/len(w)
                          ELSE 0.0 END AS mean_wl,
                     CASE WHEN n_chars > 0
                          THEN CAST(n_chars - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS DOUBLE)/n_chars
                          ELSE 0.0 END AS sym_ratio,
                     CASE WHEN n_chars > 0
                          THEN CAST(n_chars - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)/n_chars
                          ELSE 0.0 END AS digit_ratio,
                     len(list_intersect(list_distinct(w), {sw['en']})) AS sw_hits,
                     CASE WHEN len(w) > 0
                          THEN CAST(list_max(list_transform(list_distinct(w),
                                t -> len(list_filter(w, x -> x = t)))) AS DOUBLE)/len(w)
                          ELSE 0.0 END AS top_ratio
              FROM base
            ), flags AS (
              SELECT lang,
                     (nw >= 10 AND nw <= 100000) AS f_wc,
                     (sw_hits >= 1) AS f_sw,
                     ((nw >= 10 AND nw <= 100000) AND (mean_wl >= 2.0 AND mean_wl <= 14.0)
                      AND (sym_ratio <= 0.3) AND (digit_ratio <= 0.3)
                      AND (sw_hits >= 1) AND (top_ratio <= 0.2)) AS f_qp
              FROM feat
            ), agg AS (
              SELECT lang, COUNT(*) AS n,
                     SUM(CASE WHEN f_wc THEN 1 ELSE 0 END) AS c_wc,
                     SUM(CASE WHEN f_sw THEN 1 ELSE 0 END) AS c_sw,
                     SUM(CASE WHEN f_qp THEN 1 ELSE 0 END) AS c_qp
              FROM flags GROUP BY lang
            )
            SELECT lang, 'pass_word_count' AS flag, CAST(n AS BIGINT) AS n_rows,
                   CAST(c_wc AS BIGINT) AS n_flagged,
                   CAST(c_wc AS DOUBLE)/n AS pct_flagged FROM agg
            UNION ALL
            SELECT lang, 'pass_stopwords', CAST(n AS BIGINT), CAST(c_sw AS BIGINT),
                   CAST(c_sw AS DOUBLE)/n FROM agg
            UNION ALL
            SELECT lang, 'quality_pass', CAST(n AS BIGINT), CAST(c_qp AS BIGINT),
                   CAST(c_qp AS DOUBLE)/n FROM agg
        """,
        "dp48_substring_dedup": rf"""
            WITH staged AS (
              SELECT doc_id,
                     substr(text, 1, 80) || ' {_DP48_PASSAGE} '
                       || substr(text, 81, 60) AS t
              FROM documents
            ), tk AS (
              SELECT doc_id,
                     list_filter(string_split_regex(trim(t), '\s+'),
                                 x -> x <> '') AS w
              FROM staged
            ), wins AS (
              SELECT doc_id,
                     unnest(generate_series(0, len(w) - 8)) AS s,
                     unnest(list_transform(generate_series(0, len(w) - 8),
                       i -> md5(array_to_string(list_slice(w, i + 1, i + 8), ' ')))) AS gh
              FROM tk WHERE len(w) >= 8
            ), rep AS (
              SELECT doc_id, s FROM (
                SELECT doc_id, s,
                       ROW_NUMBER() OVER (PARTITION BY gh ORDER BY doc_id, s) AS rn
                FROM wins
              ) WHERE rn > 1
            ), cov AS (
              SELECT DISTINCT doc_id, p FROM (
                SELECT doc_id, unnest(generate_series(s, s + 7)) AS p FROM rep
              )
            ), toksx AS (
              SELECT doc_id,
                     unnest(generate_series(0, len(w) - 1)) AS p,
                     unnest(w) AS tok
              FROM tk WHERE len(w) >= 1
            ), kept AS (
              SELECT t.doc_id, t.p, t.tok
              FROM toksx t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.p = c.p
              WHERE c.p IS NULL
            ), reb AS (
              SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS txt,
                     COUNT(*) AS nk
              FROM kept GROUP BY doc_id
            )
            SELECT k.doc_id,
                   md5(COALESCE(r.txt, '')) AS clean_md5,
                   CAST(len(k.w) - COALESCE(r.nk, 0) AS INT) AS n_tokens_removed
            FROM tk k LEFT JOIN reb r ON k.doc_id = r.doc_id
        """,
        "dp47_line_dedup": """
            WITH staged AS (
              SELECT doc_id,
                     substr(text, 1, 60) || chr(10) || 'COMMON FOOTER BOILERPLATE'
                       || chr(10) || substr(text, 61, 60) AS t
              FROM documents
            ), ln AS (
              SELECT doc_id,
                     unnest(generate_series(0, len(string_split(t, chr(10))) - 1)) AS idx,
                     unnest(string_split(t, chr(10))) AS line
              FROM staged
            ), keyed AS (
              SELECT doc_id, idx, line,
                     (length(regexp_replace(line, '^[\t\x0b\f\r ]+|[\t\x0b\f\r ]+$', '', 'g')) < 1) OR
                     (ROW_NUMBER() OVER (PARTITION BY md5(regexp_replace(line, '^[\t\x0b\f\r ]+|[\t\x0b\f\r ]+$', '', 'g'))
                                         ORDER BY doc_id, idx) = 1) AS keep
              FROM ln
            )
            SELECT doc_id,
                   md5(COALESCE(string_agg(CASE WHEN keep THEN line END, chr(10)
                                           ORDER BY idx), '')) AS clean_md5,
                   CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS INT)
                       AS n_lines_removed
            FROM keyed GROUP BY doc_id
        """,
        "dp46_token_budget_sample": r"""
            WITH t AS (
              SELECT doc_id, lang,
                     len(list_filter(string_split_regex(trim(text), '\s+'),
                                     x -> x <> '')) AS n_tokens
              FROM documents
            ), tot AS (
              SELECT lang AS g, SUM(n_tokens) AS tt FROM t GROUP BY lang
            ), thr AS (
              SELECT g,
                     CASE WHEN g = 'en' THEN LEAST(1000000.0, 5000.0 / tt * 1000000)
                          WHEN g = 'zh' THEN LEAST(1000000.0, 2000.0 / tt * 1000000)
                          ELSE 1000000.0 END AS th
              FROM tot
            )
            SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens
            FROM t JOIN thr ON t.lang = thr.g
            WHERE CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'tb'), 1, 15)
                       AS BIGINT) % 1000000 AS DOUBLE) < th
        """,
        "dp45_embedding_mean_pool": """
            WITH v AS (
              SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            ), comp AS (
              SELECT label,
                     unnest(generate_series(1, len(v))) AS p,
                     unnest(list_transform(v, x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT))) AS ci
              FROM v
            ), agg AS (
              SELECT label, p, SUM(ci) AS s, COUNT(*) AS n
              FROM comp GROUP BY label, p
            ), pooled AS (
              SELECT label, MAX(n) AS n_vectors,
                     list(s ORDER BY p) AS sums
              FROM agg GROUP BY label
            )
            SELECT CAST(label AS INT) AS label,
                   CAST(n_vectors AS BIGINT) AS n_vectors,
                   md5(array_to_string(sums, ',')) AS sums_md5,
                   CAST(sums[1] AS DOUBLE) / n_vectors / 1000000 AS mean_c0
            FROM pooled
        """,
        "dp44_lm_score_bigram": rf"""
            WITH t AS (
              SELECT doc_id, {_DUCK_TOKENS} AS w FROM documents
            ), bix AS (
              SELECT doc_id,
                     unnest(list_transform(generate_series(1, len(w)-1), i -> w[i])) AS pre,
                     unnest(list_transform(generate_series(1, len(w)-1),
                                           i -> w[i] || ' ' || w[i+1])) AS bg
              FROM t WHERE len(w) >= 2
            ), vb AS (
              SELECT bg, COUNT(*) AS cb FROM bix GROUP BY bg
              ORDER BY cb DESC, bg ASC LIMIT 500
            ), pre AS (
              SELECT DISTINCT string_split(bg, ' ')[1] AS w FROM vb
            ), uni AS (
              SELECT u.w, COUNT(*) AS cu
              FROM (SELECT unnest(w) AS w FROM t) u
              WHERE u.w IN (SELECT w FROM pre)
              GROUP BY u.w
            ), scored AS (
              SELECT b.doc_id, COUNT(*) AS nb,
                     SUM(CASE WHEN v.cb IS NOT NULL AND un.cu IS NOT NULL
                          THEN CAST(floor(log10(v.cb) * 10000 + 0.5) AS BIGINT)
                             - CAST(floor(log10(un.cu) * 10000 + 0.5) AS BIGINT)
                          ELSE -30000 END) AS slp
              FROM bix b
              LEFT JOIN vb v USING (bg)
              LEFT JOIN uni un ON b.pre = un.w
              GROUP BY b.doc_id
            )
            SELECT d.doc_id,
                   CAST(COALESCE(s.nb, 0) AS INT) AS n_scored_bigrams,
                   CAST(s.slp AS DOUBLE) / s.nb / 10000.0 AS avg_logprob2
            FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
        """,
        "dp43_image_phash_dedup": """
            WITH g AS (
              SELECT doc_id,
                     (doc_id % 256) + ((7*doc_id) % 256) + ((13*doc_id) % 256) AS sl,
                     ((3*doc_id) % 256) + ((5*doc_id) % 256) + ((11*doc_id) % 256) AS sr
              FROM documents
            ), h AS (
              SELECT doc_id,
                     CASE WHEN sl > sr THEN repeat('11110000', 8)
                          WHEN sl < sr THEN repeat('00001111', 8)
                          ELSE repeat('0', 64) END AS ahash
              FROM g
            )
            SELECT doc_id, ahash,
                   (MIN(doc_id) OVER (PARTITION BY ahash)) < doc_id AS is_duplicate,
                   CAST(MIN(doc_id) OVER (PARTITION BY ahash) AS BIGINT) AS dup_group_id
            FROM h
        """,
        "dp41_quantile_prune": """
            WITH hist AS (
              SELECT n_chars AS s, COUNT(*) AS c FROM documents GROUP BY 1
            ),
            cum AS (
              SELECT s, SUM(c) OVER (ORDER BY s DESC ROWS UNBOUNDED PRECEDING) AS cm
              FROM hist
            ),
            tot AS (SELECT COUNT(*) AS n FROM documents),
            thr AS (
              SELECT MAX(s) AS t FROM cum CROSS JOIN tot WHERE cm >= CEIL(n * 0.25)
            )
            SELECT doc_id, n_chars FROM documents CROSS JOIN thr
            WHERE n_chars >= t
        """,
        "dp129_group_quantile_prune": """
            WITH hist AS (
              SELECT lang, n_chars AS s, COUNT(*) AS c
              FROM documents GROUP BY 1, 2
            ),
            cum AS (
              SELECT lang, s,
                     SUM(c) OVER (PARTITION BY lang ORDER BY s DESC
                                  ROWS UNBOUNDED PRECEDING) AS cm,
                     SUM(c) OVER (PARTITION BY lang) AS n
              FROM hist
            ),
            thr AS (
              SELECT lang, MAX(s) AS t FROM cum
              WHERE cm >= CEIL(n * 0.3) GROUP BY lang
            )
            SELECT d.doc_id, d.lang, d.n_chars
            FROM documents d JOIN thr USING (lang)
            WHERE d.n_chars >= thr.t
        """,
        "dp39_cross_corpus_dedup": r"""
            WITH ref AS (
              SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS kh
              FROM documents
              WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'xr'), 1, 15)
                         AS BIGINT) % 1000000 < 300000
            )
            SELECT d.doc_id, d.lang, (r.kh IS NOT NULL) AS in_reference
            FROM documents d
            LEFT JOIN ref r
              ON md5(regexp_replace(lower(trim(d.text)), '\s+', ' ', 'g')) = r.kh
        """,
        "dp33_text_chunk": r"""
            WITH t AS (
              SELECT doc_id,
                     list_filter(string_split_regex(trim(text), '\s+'),
                                 x -> x <> '') AS toks
              FROM documents
            ), e AS (
              SELECT doc_id, toks,
                     GREATEST(CAST(CEIL((len(toks) - 16) / 48.0) AS INT), 1)
                         AS n_chunks
              FROM t
            ), x AS (
              SELECT doc_id, toks,
                     unnest(generate_series(0, n_chunks - 1)) AS chunk_idx
              FROM e
            )
            SELECT doc_id,
                   CAST(chunk_idx AS BIGINT) AS chunk_idx,
                   CAST(len(list_slice(toks, chunk_idx * 48 + 1,
                                       chunk_idx * 48 + 64)) AS INT)
                       AS chunk_n_tokens,
                   md5(array_to_string(
                       list_slice(toks, chunk_idx * 48 + 1, chunk_idx * 48 + 64),
                       ' ')) AS chunk_md5
            FROM x
            WHERE len(list_slice(toks, chunk_idx * 48 + 1, chunk_idx * 48 + 64)) >= 1
        """,
        "dp32_audio_decode": """
            SELECT doc_id,
                   'audio/wav' AS media_type,
                   'pcm16' AS codec,
                   8000::INT AS sample_rate,
                   1::INT AS n_channels,
                   CAST(16 + doc_id % 16 AS BIGINT) AS n_samples,
                   (16 + doc_id % 16) / 8000.0 AS duration_s,
                   (doc_id % 1000) / 32768.0 AS rms,
                   (doc_id % 1000) / 32768.0 AS peak
            FROM documents
        """,
        "dp28_embedding_dedup_lsh": _duck_lsh_sig_ctes(12, 4, 64) + f""",
        pairs AS (
          SELECT DISTINCT l.vec_id AS id, r.vec_id AS cand
          FROM sigs l JOIN sigs r ON l.t = r.t AND l.sig = r.sig
                                 AND l.vec_id > r.vec_id
        ),
        heads AS (
          SELECT id, MIN(cand) AS g
          FROM pairs
          JOIN v a ON a.vec_id = pairs.id
          JOIN v b ON b.vec_id = pairs.cand
          WHERE {_DUCK_COSINE} >= 0.9
          GROUP BY id
        )
        SELECT e.vec_id, e.label
        FROM embeddings e LEFT JOIN heads h ON e.vec_id = h.id
        WHERE h.g IS NULL OR h.g >= e.vec_id
        """,
        "dp97_semantic_dedup": f"""
            -- SemDeDup replay: md5-smallest centroids, best-cosine
            -- assignment (ties -> larger centroid id, Spark max(struct)),
            -- in-cluster pairs, survivors with no smaller verified
            -- neighbor at cosine >= 0.9
            WITH v AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
              -- zero-norm vectors skip assignment/pairing and pass
              -- through as survivors (they never reach `heads`)
              WHERE list_reduce(list_transform(embedding::DOUBLE[],
                      x -> x*x), (a,b) -> a+b) > 0
            ),
            cent AS (
              SELECT vec_id AS cid, v AS cv FROM v
              ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)
                            AS BIGINT), vec_id
              LIMIT 16
            ),
            assigned AS (
              SELECT vec_id, cid FROM (
                SELECT a.vec_id, b.cid,
                       ROW_NUMBER() OVER (
                         PARTITION BY a.vec_id
                         ORDER BY {_DUCK_COSINE} DESC, b.cid DESC) AS rn
                FROM v a CROSS JOIN (SELECT cid, cv AS v FROM cent) b
              ) WHERE rn = 1
            ),
            pairs AS (
              SELECT l.vec_id AS id, r.vec_id AS cand
              FROM assigned l JOIN assigned r
                ON l.cid = r.cid AND l.vec_id > r.vec_id
            ),
            heads AS (
              SELECT id, MIN(cand) AS g
              FROM pairs
              JOIN v a ON a.vec_id = pairs.id
              JOIN v b ON b.vec_id = pairs.cand
              WHERE {_DUCK_COSINE} >= 0.9
              GROUP BY id
            )
            SELECT e.vec_id, e.label
            FROM embeddings e LEFT JOIN heads h ON e.vec_id = h.id
            WHERE h.g IS NULL OR h.g >= e.vec_id
        """,
        "dp101_reservoir_quantiles": """
            -- deterministic hash-priority reservoir replay: per user the
            -- 64 rows with the smallest md5-fold(event_id) priorities,
            -- quantile = lower-index order statistic over the sample
            WITH nn AS (
              SELECT user_id, value,
                     CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15)
                          AS BIGINT) AS pri
              FROM events WHERE value IS NOT NULL
            ),
            ranked AS (
              SELECT user_id, value,
                     ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY pri, value) AS rn
              FROM nn
            ),
            sample AS (
              SELECT user_id, list_sort(list(value)) AS vals
              FROM ranked WHERE rn <= 64 GROUP BY user_id
            ),
            counts AS (
              SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_seen
              FROM nn GROUP BY user_id
            )
            SELECT c.user_id, c.n_seen,
                   CAST(len(s.vals) AS BIGINT) AS sample_n,
                   s.vals[CAST(floor(0.5 * (len(s.vals) - 1)) AS INT) + 1] AS q_50,
                   s.vals[CAST(floor(0.9 * (len(s.vals) - 1)) AS INT) + 1] AS q_90
            FROM counts c JOIN sample s USING (user_id)
        """,
        "dp100_unimax_sample": rf"""
            -- integer water-filling replay: sorted caps, running
            -- waterline (B - prefix) // remaining; capped groups take
            -- their cap, the rest share the final waterline; then the
            -- stable-hash keep filter at thr = alloc*1e6 // tokens
            WITH d AS (
              SELECT doc_id, lang,
                     len({_DUCK_TOKENS}) AS tok
              FROM documents
            ),
            stats AS (SELECT lang AS g, SUM(tok) AS t FROM d GROUP BY 1),
            caps AS (
              SELECT g, t, CAST(floor(t * 1.0) AS BIGINT) AS c FROM stats
            ),
            ordered AS (
              SELECT *,
                     ROW_NUMBER() OVER (ORDER BY c, g) AS k,
                     COUNT(*) OVER () AS n,
                     COALESCE(SUM(c) OVER (
                       ORDER BY c, g
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ), 0) AS p
              FROM caps
            ),
            flags AS (
              SELECT *, c <= ((30000 - p) // (n - k + 1)) AS capped
              FROM ordered
            ),
            agg AS (
              SELECT COALESCE(SUM(CASE WHEN capped THEN c END), 0) AS cp,
                     COALESCE(SUM(CASE WHEN capped THEN 1 ELSE 0 END), 0) AS ck,
                     MAX(n) AS n
              FROM flags
            ),
            alloc AS (
              SELECT f.g, f.t,
                     CASE WHEN f.capped THEN f.c
                          ELSE (30000 - a.cp) // (a.n - a.ck) END AS alc
              FROM flags f CROSS JOIN agg a
            ),
            thr AS (
              SELECT g,
                     CASE WHEN t = 0 THEN 1000000
                          ELSE least(1000000, alc * 1000000 // t) END AS thr
              FROM alloc
            ),
            kept AS (
              SELECT d.doc_id, d.lang, d.tok
              FROM d JOIN thr ON d.lang = thr.g
              WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                         AS BIGINT) % 1000000 < thr.thr
            )
            SELECT lang,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(tok) AS BIGINT) AS kept_tokens
            FROM kept GROUP BY lang
        """,
        "dp99_hash_embedding": f"""
            WITH tok AS (
              SELECT doc_id, unnest({_DUCK_TOKENS}) AS w FROM documents
            ),
            h AS (
              SELECT doc_id,
                     CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) AS hv
              FROM tok
            ),
            cell AS (
              SELECT doc_id, hv % 32 AS b,
                     SUM(CASE WHEN (hv // 32) % 2 = 0 THEN 1 ELSE -1 END) AS v
              FROM h GROUP BY 1, 2
            ),
            grid AS (
              SELECT d.doc_id, g.i, coalesce(c.v, 0) AS v
              FROM (SELECT doc_id FROM documents) d
              CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS i) g
              LEFT JOIN cell c ON c.doc_id = d.doc_id AND c.b = g.i
            )
            SELECT doc_id,
                   md5(string_agg(CAST(v AS VARCHAR), ',' ORDER BY i)) AS cells_md5,
                   CAST(COUNT(*) FILTER (WHERE v <> 0) AS BIGINT) AS n_nonzero,
                   sqrt(SUM(CAST(v AS DOUBLE) * v)) AS norm
            FROM grid GROUP BY doc_id
        """,
        "dp98_ngram_counts": f"""
            WITH toks AS (
              SELECT doc_id, {_DUCK_TOKENS} AS w FROM documents
            ),
            sh AS (SELECT doc_id, {_duck_shingles(2)} AS s FROM toks),
            ex AS (SELECT doc_id, unnest(s) AS ngram FROM sh),
            counts AS (
              SELECT ngram,
                     CAST(COUNT(*) AS BIGINT) AS n_count,
                     CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
              FROM ex WHERE ngram <> '' GROUP BY ngram
            )
            SELECT ngram, n_count, doc_freq,
                   CAST(ROW_NUMBER() OVER (
                     ORDER BY n_count DESC, ngram) AS INT) AS rank
            FROM counts ORDER BY n_count DESC, ngram LIMIT 40
        """,
        "dp14_hash_split": """
            WITH b AS (
              SELECT *,
                     CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 15) AS BIGINT)
                       % 1000000 AS bucket
              FROM documents
            )
            SELECT CASE WHEN bucket < 800000 THEN 'train'
                        WHEN bucket < 900000 THEN 'val'
                        ELSE 'test' END AS split,
                   COUNT(*) AS n_docs,
                   SUM(n_chars)::BIGINT AS total_chars
            FROM b GROUP BY 1
        """,
        "dp15_hash_sample": """
            SELECT doc_id, lang, n_chars FROM documents
            WHERE CAST('0x' || substr(md5(doc_id::VARCHAR || 's1'), 1, 15) AS BIGINT)
                  % 1000000 < 100000
        """,
        "q19_join_transformer": """
            SELECT n.n_name,
                   COUNT(*) AS n_orders,
                   ROUND(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2)
                     AS revenue
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY n.n_name
        """,
        "q20_union_by_name": """
            SELECT o_orderkey, o_custkey, o_totalprice, NULL AS o_orderstatus
            FROM orders WHERE o_orderpriority = '1-URGENT'
            UNION ALL
            SELECT o_orderkey, o_custkey, NULL AS o_totalprice, o_orderstatus
            FROM orders WHERE o_orderpriority = '2-HIGH'
        """,
        "dp16_asof_join": """
            SELECT l.event_id, l.user_id,
                   epoch_us(CAST(l.ts AS TIMESTAMP)) AS click_us,
                   epoch_us(CAST(r.ts AS TIMESTAMP)) AS purchase_us,
                   ROUND(r.value, 6) AS purchase_value
            FROM (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'click') l
            ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                            WHERE event_type = 'purchase') r
              ON l.user_id = r.user_id AND l.ts >= r.ts
        """,
        "dp30_asof_forward_tolerance": """
            WITH c AS (SELECT event_id, user_id, ts FROM events
                       WHERE event_type = 'click'),
            p AS (SELECT user_id, ts, value FROM events
                  WHERE event_type = 'purchase'),
            j AS (
              SELECT c.event_id, c.user_id, c.ts AS cts, p.ts AS pts, p.value,
                     ROW_NUMBER() OVER (
                       PARTITION BY c.event_id ORDER BY p.ts, p.value) AS rn
              FROM c LEFT JOIN p
                ON c.user_id = p.user_id
               AND p.ts >= c.ts
               AND p.ts <= c.ts + INTERVAL 24 HOUR
            )
            SELECT event_id, user_id,
                   epoch_us(CAST(cts AS TIMESTAMP)) AS click_us,
                   epoch_us(CAST(pts AS TIMESTAMP)) AS next_us,
                   ROUND(value, 6) AS next_value
            FROM j WHERE rn = 1
        """,
        "dp17_range_join": """
            SELECT p.event_id AS purchase_id, COUNT(*) AS n_clicks_24h
            FROM (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'purchase') p
            JOIN (SELECT user_id, ts FROM events
                  WHERE event_type = 'click') c
              ON p.user_id = c.user_id
             AND c.ts >= p.ts
             AND c.ts <= p.ts + INTERVAL 24 HOUR
            GROUP BY p.event_id
        """,
        "dp19_profile": """
            SELECT 'doc_id' AS "column", 'bigint' AS dtype,
                   COUNT(*) AS n_rows, COUNT(*) - COUNT(doc_id) AS n_nulls,
                   ROUND((COUNT(*) - COUNT(doc_id)) * 100.0 / COUNT(*), 4) AS null_pct,
                   CAST(MIN(doc_id) AS VARCHAR) AS min_str, CAST(MAX(doc_id) AS VARCHAR) AS max_str
            FROM documents
            UNION ALL
            SELECT 'lang', 'string', COUNT(*), COUNT(*) - COUNT(lang),
                   ROUND((COUNT(*) - COUNT(lang)) * 100.0 / COUNT(*), 4),
                   MIN(lang), MAX(lang)
            FROM documents
            UNION ALL
            SELECT 'n_chars', 'bigint', COUNT(*), COUNT(*) - COUNT(n_chars),
                   ROUND((COUNT(*) - COUNT(n_chars)) * 100.0 / COUNT(*), 4),
                   CAST(MIN(n_chars) AS VARCHAR), CAST(MAX(n_chars) AS VARCHAR)
            FROM documents
        """,
        "dp20_dup_clusters": _minhash_cte(12, 4, 3).replace(
            "WITH toks", "WITH RECURSIVE toks"
        )
        + """,
            nodes AS (SELECT DISTINCT doc_id FROM ex),
            reach AS (
              SELECT doc_id, doc_id AS label FROM nodes
              UNION
              SELECT e2.doc_id, r.label
              FROM reach r
              JOIN ex e1 ON e1.doc_id = r.doc_id
              JOIN ex e2 ON e2.h = e1.h
              WHERE r.label < e2.doc_id
            )
            SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS component_id
            FROM documents d
            LEFT JOIN (SELECT doc_id, MIN(label) AS comp FROM reach GROUP BY doc_id) c
              USING (doc_id)
        """,
        "dp21_pii_redact": _duck_pii(),
        "dp22_repetition": f"""
            WITH toks AS (SELECT doc_id, {_DUCK_TOKENS} AS w FROM documents),
            words AS (SELECT doc_id, unnest(w) AS wd FROM toks),
            wcnt AS (SELECT doc_id, wd, COUNT(*) AS c FROM words GROUP BY 1, 2),
            wstats AS (
              SELECT doc_id, SUM(c) AS nw, COUNT(*) AS dw, MAX(c) AS topw
              FROM wcnt GROUP BY 1
            ),
            grams AS (
              SELECT doc_id, unnest({_duck_shingles(2)}) AS g FROM toks
            ),
            gcnt AS (SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY 1, 2),
            gstats AS (SELECT doc_id, SUM(c) AS ng, MAX(c) AS topg FROM gcnt GROUP BY 1),
            stats AS (
              SELECT w.doc_id, w.nw, w.dw, w.topw, g.ng, g.topg
              FROM wstats w LEFT JOIN gstats g USING (doc_id)
            )
            SELECT d.doc_id,
                   COALESCE(s.nw, 0)::INT AS n_words_r,
                   COALESCE(ROUND(s.dw / CAST(s.nw AS DOUBLE), 4), 0.0) AS distinct_word_ratio,
                   COALESCE(ROUND(s.topw / CAST(s.nw AS DOUBLE), 4), 0.0) AS top_word_ratio,
                   COALESCE(ROUND(s.topg / CAST(s.ng AS DOUBLE), 4), 0.0) AS top_2gram_ratio
            FROM documents d LEFT JOIN stats s USING (doc_id)
        """,
        "dp23_decontaminate": f"""
            WITH toks AS (SELECT doc_id, {_DUCK_TOKENS} AS w FROM documents),
            g AS (SELECT doc_id, unnest({_duck_shingles(8)}) AS g FROM toks),
            bg AS (SELECT DISTINCT g FROM g WHERE doc_id % 50 = 0 AND g <> ''),
            hits AS (
              SELECT dg.doc_id, COUNT(DISTINCT dg.g) AS n_hit
              FROM (SELECT DISTINCT doc_id, g FROM g) dg JOIN bg USING (g)
              GROUP BY 1
            )
            SELECT d.doc_id,
                   COALESCE(h.n_hit, 0)::INT AS n_contaminated_ngrams,
                   COALESCE(h.n_hit, 0) > 0 AS is_contaminated
            FROM documents d LEFT JOIN hits h USING (doc_id)
        """,
        "dp102_decontaminate_bloom": f"""
            WITH toks AS (SELECT doc_id, {_DUCK_TOKENS} AS w FROM documents),
            gr AS (SELECT doc_id, unnest({_duck_shingles(8)}) AS g FROM toks),
            probes AS (SELECT unnest(generate_series(0, 2)) AS i),
            bp AS (
              SELECT DISTINCT
                (CAST('0x' || substr(md5(g), 1, 15) AS BIGINT)
                 + i * CAST('0x' || substr(md5(g || '#b2'), 1, 15) AS BIGINT))
                % 65536 AS p
              FROM (SELECT DISTINCT g FROM gr WHERE doc_id % 50 = 0 AND g <> '') bg
              CROSS JOIN probes
            ),
            chunks AS (
              SELECT p // 60 AS c,
                     bit_or(1::BIGINT << CAST(p % 60 AS INT)) AS b
              FROM bp GROUP BY 1
            ),
            dg AS (SELECT DISTINCT doc_id, g FROM gr),
            dpos AS (
              SELECT doc_id, g,
                (CAST('0x' || substr(md5(g), 1, 15) AS BIGINT)
                 + i * CAST('0x' || substr(md5(g || '#b2'), 1, 15) AS BIGINT))
                % 65536 AS p
              FROM dg CROSS JOIN probes
            ),
            ok AS (
              SELECT doc_id, g, COUNT(*) AS nok
              FROM dpos JOIN chunks ch
                ON ch.c = dpos.p // 60
               AND (ch.b & (1::BIGINT << CAST(dpos.p % 60 AS INT))) <> 0
              GROUP BY 1, 2
            ),
            hits AS (SELECT doc_id, COUNT(*) AS n FROM ok WHERE nok = 3 GROUP BY 1)
            SELECT d.doc_id,
                   COALESCE(h.n, 0)::INT AS n_bloom_hit_ngrams,
                   COALESCE(h.n, 0) > 0 AS maybe_contaminated
            FROM documents d LEFT JOIN hits h USING (doc_id)
        """,
        "dp103_zorder_layout": f"""
            WITH k AS (
              SELECT o_orderkey, o_custkey,
                     o_custkey AS k1,
                     epoch_us(o_orderdate) AS k2
              FROM orders
            ),
            s AS (
              SELECT min(k1) AS lo1, max(k1) AS hi1,
                     min(k2) AS lo2, max(k2) AS hi2
              FROM k
            ),
            b AS (
              SELECT o_orderkey, o_custkey,
                     CASE WHEN (hi1 - lo1 + 1) <= 2147483648
                          THEN ((k1 - lo1) * 65536) // (hi1 - lo1 + 1)
                          ELSE (k1 - lo1) // (((hi1 - lo1 + 1) + 65535) // 65536)
                     END AS b1,
                     CASE WHEN (hi2 - lo2 + 1) <= 2147483648
                          THEN ((k2 - lo2) * 65536) // (hi2 - lo2 + 1)
                          ELSE (k2 - lo2) // (((hi2 - lo2 + 1) + 65535) // 65536)
                     END AS b2
              FROM k CROSS JOIN s
            )
            SELECT o_orderkey, o_custkey,
                   CAST(({" + ".join(f"(((b1 >> {j}) & 1) << {2 * j}) + (((b2 >> {j}) & 1) << {2 * j + 1})" for j in range(16))}) AS BIGINT) AS zorder_key
            FROM b
        """,
        "dp104_zorder_rank": f"""
            WITH k AS (
              SELECT o_orderkey, o_totalprice AS k1, o_custkey AS k2 FROM orders
            ),
            c1 AS (SELECT k1, COUNT(*) AS n FROM k WHERE k1 IS NOT NULL GROUP BY 1),
            d1 AS (
              SELECT k1,
                COALESCE(SUM(n) OVER (ORDER BY k1
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
                SUM(n) OVER () AS nn
              FROM c1
            ),
            b1 AS (SELECT k1, ((cb * 65536) // nn)::BIGINT AS b FROM d1),
            c2 AS (SELECT k2, COUNT(*) AS n FROM k WHERE k2 IS NOT NULL GROUP BY 1),
            d2 AS (
              SELECT k2,
                COALESCE(SUM(n) OVER (ORDER BY k2
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
                SUM(n) OVER () AS nn
              FROM c2
            ),
            b2 AS (SELECT k2, ((cb * 65536) // nn)::BIGINT AS b FROM d2),
            j AS (
              SELECT k.o_orderkey,
                     COALESCE(b1.b, 0) AS v1, COALESCE(b2.b, 0) AS v2
              FROM k LEFT JOIN b1 USING (k1) LEFT JOIN b2 USING (k2)
            )
            SELECT o_orderkey,
                   CAST(({" + ".join(f"(((v1 >> {j}) & 1) << {2 * j}) + (((v2 >> {j}) & 1) << {2 * j + 1})" for j in range(16))}) AS BIGINT) AS zorder_key
            FROM j
        """,
        "dp105_stream_dedup_exact": """
            WITH d AS (
              SELECT doc_id, md5(text) AS content_digest,
                     ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
              FROM documents
            )
            SELECT doc_id, content_digest FROM d WHERE rn = 1
        """,
        "dp106_temperature_sample": rf"""
            -- temperature-mixing replay at T=2: integer-sqrt weights,
            -- integer allocation B*w // Σw, keep threshold
            -- min(1e6, alloc*1e6 // tokens), stable-hash membership
            WITH d AS (
              SELECT doc_id, lang, len({_DUCK_TOKENS}) AS tok FROM documents
            ),
            stats AS (SELECT lang AS g, SUM(tok) AS t FROM d GROUP BY 1),
            w AS (
              -- exact integer sqrt: floor(sqrt(t)) on doubles rounds UP
              -- for t just below a large perfect square (t = k^2 - 1,
              -- k > ~2^26); the correction term (wt - (wt*wt > t))
              -- makes the replay match the engine's math.isqrt exactly
              SELECT g, t,
                     CAST(floor(sqrt(t)) AS BIGINT)
                       - CASE WHEN CAST(floor(sqrt(t)) AS BIGINT)
                                   * CAST(floor(sqrt(t)) AS BIGINT) > t
                              THEN 1 ELSE 0 END AS wt
              FROM stats
            ),
            a AS (
              SELECT g, t,
                     CASE WHEN t = 0 THEN 1000000
                          ELSE least(
                            1000000,
                            (30000 * wt // (SELECT SUM(wt) FROM w)) * 1000000 // t
                          )
                     END AS thr
              FROM w
            ),
            kept AS (
              SELECT d.doc_id, d.lang, d.tok
              FROM d JOIN a ON d.lang = a.g
              WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                         AS BIGINT) % 1000000 < a.thr
            )
            SELECT lang,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(tok) AS BIGINT) AS kept_tokens
            FROM kept GROUP BY lang
        """,
        "dp107_profile_skew": """
            WITH c AS (
              SELECT lang, source, COUNT(*) AS n_rows
              FROM documents GROUP BY 1, 2
            ),
            tot AS (SELECT SUM(n_rows) AS total, COUNT(*) AS nk FROM c),
            r AS (
              SELECT lang, source, n_rows,
                     ROW_NUMBER() OVER (ORDER BY n_rows DESC, lang, source) AS rk,
                     SUM(n_rows) OVER (ORDER BY n_rows DESC, lang, source
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM c
            )
            SELECT lang, source, n_rows,
                   ROUND(n_rows * 1.0 / tot.total, 6) AS share,
                   ROUND(cum * 1.0 / tot.total, 6) AS cum_share,
                   tot.total::BIGINT AS total_rows,
                   tot.nk::BIGINT AS n_distinct_keys
            FROM r CROSS JOIN tot WHERE rk <= 10
        """,
        "dp108_corpus_overlap": f"""
            WITH toks AS (SELECT doc_id, {_DUCK_TOKENS} AS w FROM documents),
            gr AS (SELECT doc_id, unnest({_duck_shingles(8)}) AS g FROM toks),
            a AS (SELECT DISTINCT g FROM gr),
            b AS (SELECT DISTINCT g FROM gr WHERE doc_id % 7 = 0),
            s AS (SELECT COUNT(*) AS ns FROM a SEMI JOIN b USING (g)),
            na AS (SELECT COUNT(*) AS n_grams_self FROM a),
            nb AS (SELECT COUNT(*) AS n_grams_other FROM b)
            SELECT n_grams_self, n_grams_other, ns AS n_shared,
                   ROUND(ns * 1.0 / (n_grams_self + n_grams_other - ns), 6) AS jaccard,
                   ROUND(ns * 1.0 / n_grams_self, 6) AS containment_self,
                   ROUND(ns * 1.0 / n_grams_other, 6) AS containment_other
            FROM na CROSS JOIN nb CROSS JOIN s
        """,
        "dp109_unicode_normalize": """
            SELECT doc_id,
                   md5(nfc_normalize(text)) AS norm_digest,
                   nfc_normalize(text) <> text AS unicode_changed
            FROM documents
        """,
        "dp114_gopher_rules": r"""
            WITH b AS (
              SELECT doc_id,
                     coalesce(text, '') AS tx,
                     list_filter(string_split_regex(trim(coalesce(text, '')), '\s+'),
                                 t -> t <> '') AS w,
                     list_filter(string_split(coalesce(text, ''), chr(10)),
                                 l -> trim(l) <> '') AS ln
              FROM documents
            ), c AS (
              SELECT doc_id,
                     len(w) AS n_words,
                     coalesce(list_sum(list_transform(w, t -> len(t))), 0) AS sum_wl,
                     (len(tx) - len(replace(tx, '#', '')))
                       + len(regexp_extract_all(tx, '(\.\.\.|…)')) AS n_sym,
                     len(ln) AS n_lines,
                     len(list_filter(ln, l -> regexp_matches(ltrim(l), '^[-*•]'))) AS bullet_lines,
                     len(list_filter(ln, l -> regexp_matches(rtrim(l), '(\.\.\.|…)$'))) AS ellipsis_lines,
                     len(list_filter(w, t -> regexp_matches(t, '[A-Za-z]'))) AS alpha_words,
                     len(list_intersect(
                       list_distinct(list_filter(
                         string_split_regex(trim(lower(coalesce(text, ''))), '\s+'),
                         t -> t <> '')),
                       ['the','be','to','of','and','that','have','with']
                     )) AS sw_hits
              FROM b JOIN documents USING (doc_id)
            )
            SELECT doc_id,
                   (n_words >= 30 AND n_words <= 100000) AS rule_word_count,
                   (n_words > 0 AND sum_wl >= 3 * n_words
                    AND sum_wl <= 10 * n_words) AS rule_mean_word_len,
                   (1000 * n_sym <= 100 * n_words) AS rule_symbol_ratio,
                   (1000 * bullet_lines <= 900 * n_lines) AS rule_bullet_lines,
                   (1000 * ellipsis_lines <= 300 * n_lines) AS rule_ellipsis_lines,
                   (1000 * alpha_words >= 800 * n_words) AS rule_alpha_words,
                   (sw_hits >= 2) AS rule_stopwords,
                   ((n_words >= 30 AND n_words <= 100000)
                    AND (n_words > 0 AND sum_wl >= 3 * n_words
                         AND sum_wl <= 10 * n_words)
                    AND (1000 * n_sym <= 100 * n_words)
                    AND (1000 * bullet_lines <= 900 * n_lines)
                    AND (1000 * ellipsis_lines <= 300 * n_lines)
                    AND (1000 * alpha_words >= 800 * n_words)
                    AND (sw_hits >= 2)) AS gopher_keep
            FROM c
        """,
        "dp115_dsir_score": f"""
            -- doc_id IS NOT NULL encodes the engine contract: dsir_score
            -- excludes null-id docs from the SOURCE bucket distribution
            -- (datapipes/text.py dsir_score) — the oracle must agree even
            -- if the generator ever emits null ids
            WITH toks AS (
              SELECT doc_id, {_DUCK_TOKENS} AS w FROM documents
              WHERE doc_id IS NOT NULL
            ),
            sg AS (
              SELECT doc_id,
                     unnest(list_concat({_duck_shingles(1)}, {_duck_shingles(2)})) AS g
              FROM toks
            ),
            sb AS (
              SELECT doc_id,
                     CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) % 10000 AS b
              FROM sg
            ),
            ttoks AS (
              SELECT doc_id, {_DUCK_TOKENS} AS w FROM documents WHERE lang = 'en'
            ),
            tg AS (
              SELECT unnest(list_concat({_duck_shingles(1)}, {_duck_shingles(2)})) AS g
              FROM ttoks
            ),
            tb AS (
              SELECT CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) % 10000 AS b
              FROM tg
            ),
            sc AS (SELECT b, COUNT(*) AS cs FROM sb GROUP BY 1),
            tc AS (SELECT b, COUNT(*) AS ct FROM tb GROUP BY 1),
            tbl AS (
              SELECT coalesce(sc.b, tc.b) AS b,
                     CAST(floor(log10(coalesce(ct, 0) + 1) * 10000 + 0.5) AS BIGINT) AS lt,
                     CAST(floor(log10(coalesce(cs, 0) + 1) * 10000 + 0.5) AS BIGINT) AS ls
              FROM sc FULL OUTER JOIN tc ON sc.b = tc.b
            ),
            st AS (
              SELECT CAST(floor(log10((SELECT SUM(cs) FROM sc) + 10000) * 10000 + 0.5) AS BIGINT) AS sts,
                     CAST(floor(log10((SELECT SUM(ct) FROM tc) + 10000) * 10000 + 0.5) AS BIGINT) AS stt
            ),
            agg AS (
              SELECT sb.doc_id,
                     SUM(coalesce(tbl.lt, 0) - coalesce(tbl.ls, 0)) AS d,
                     COUNT(*) AS n
              FROM sb LEFT JOIN tbl ON sb.b = tbl.b
              GROUP BY 1
            )
            SELECT doc.doc_id, doc.lang,
                   (agg.d + agg.n * (st.sts - st.stt))::BIGINT AS dsir_score
            FROM documents doc
            JOIN agg ON doc.doc_id = agg.doc_id
            CROSS JOIN st
        """,
        "dp116_pq_encode": """
            WITH q AS (
              SELECT vec_id AS id,
                     list_transform(embedding,
                       x -> CAST(floor(CAST(x AS DOUBLE)*1024.0 + 0.5) AS BIGINT)) AS v
              FROM embeddings
            ),
            cb AS (
              SELECT row_number() OVER
                       (ORDER BY md5(CAST(id AS VARCHAR)), id) - 1 AS c, v
              FROM q ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT 16
            ),
            pairs AS (
              SELECT q.id, cb.c, ss.s,
                     list_sum(list_transform(
                       list_zip(q.v[ss.s*16+1 : (ss.s+1)*16],
                                cb.v[ss.s*16+1 : (ss.s+1)*16]),
                       p -> (p[1]-p[2])*(p[1]-p[2]))) AS d
              FROM q
              CROSS JOIN cb
              CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS s) ss
            ),
            best AS (
              SELECT id, s, c, d,
                     row_number() OVER (PARTITION BY id, s ORDER BY d, c) AS rn
              FROM pairs
            ),
            sel AS (SELECT id, s, c, d FROM best WHERE rn = 1),
            tot AS (SELECT id, SUM(d) AS td FROM sel GROUP BY 1)
            SELECT sel.id AS vec_id, sel.s::INT AS subspace,
                   sel.c::INT AS code, tot.td::BIGINT AS pq_dist
            FROM sel JOIN tot ON sel.id = tot.id
        """,
        "dp117_knn_pq": """
            WITH q AS (
              SELECT vec_id AS id,
                     list_transform(embedding,
                       x -> CAST(floor(CAST(x AS DOUBLE)*1024.0 + 0.5) AS BIGINT)) AS v
              FROM embeddings
            ),
            cb AS (
              SELECT row_number() OVER
                       (ORDER BY md5(CAST(id AS VARCHAR)), id) - 1 AS c, v
              FROM q ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT 16
            ),
            pairs AS (
              SELECT q.id, cb.c, ss.s,
                     list_sum(list_transform(
                       list_zip(q.v[ss.s*16+1 : (ss.s+1)*16],
                                cb.v[ss.s*16+1 : (ss.s+1)*16]),
                       p -> (p[1]-p[2])*(p[1]-p[2]))) AS d
              FROM q
              CROSS JOIN cb
              CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS s) ss
            ),
            codes AS (
              SELECT id, s, c FROM (
                SELECT id, s, c, d,
                       row_number() OVER (PARTITION BY id, s ORDER BY d, c) AS rn
                FROM pairs
              ) WHERE rn = 1
            ),
            qry AS (SELECT id AS qid, v AS qv FROM q WHERE id < 10),
            adc AS (
              SELECT qry.qid, codes.id AS nid,
                     SUM(list_sum(list_transform(
                       list_zip(qry.qv[codes.s*16+1 : (codes.s+1)*16],
                                cb.v[codes.s*16+1 : (codes.s+1)*16]),
                       p -> (p[1]-p[2])*(p[1]-p[2])))) AS d
              FROM qry
              CROSS JOIN codes
              JOIN cb ON cb.c = codes.c
              WHERE qry.qid <> codes.id
              GROUP BY 1, 2
            )
            SELECT qid AS query_id, nid AS neighbor_id,
                   d::BIGINT AS adc_dist, rank::INT AS rank
            FROM (
              SELECT qid, nid, d,
                     row_number() OVER (PARTITION BY qid ORDER BY d, nid) AS rank
              FROM adc
            ) WHERE rank <= 5
        """,
        "dp118_wordpiece_encode": (lambda: (
            "WITH RECURSIVE vocab(v) AS (VALUES "
            + ", ".join("('" + p + "')" for p in WP_FIXED_VOCAB)
            + f"""),
            toks AS (SELECT doc_id, {_DUCK_TOKENS} AS ws FROM documents),
            tw AS (
              SELECT doc_id, unnest(generate_series(1, len(ws))) AS pos, ws
              FROM toks
            ),
            words AS (SELECT doc_id, pos, ws[pos] AS w FROM tw),
            dw AS (SELECT DISTINCT w FROM words),
            pos_l AS (
              SELECT w, unnest(generate_series(1, len(w))) AS p FROM dw
            ),
            cand_all AS (
              SELECT w, p, unnest(generate_series(1, len(w) - p + 1)) AS L
              FROM pos_l
            ),
            cand AS (
              SELECT c.w, c.p, MAX(c.L) AS bestL
              FROM cand_all c
              JOIN vocab ON vocab.v = CASE WHEN c.p = 1
                                           THEN substr(c.w, c.p, c.L)
                                           ELSE '##' || substr(c.w, c.p, c.L)
                                      END
              GROUP BY 1, 2
            ),
            walk AS (
              SELECT w, CAST(1 AS BIGINT) AS p,
                     CAST([] AS VARCHAR[]) AS pieces, FALSE AS dead
              FROM dw
              UNION ALL
              SELECT walk.w,
                     CASE WHEN cand.bestL IS NULL THEN len(walk.w) + 1
                          ELSE walk.p + cand.bestL END,
                     CASE WHEN cand.bestL IS NULL THEN ['[UNK]']
                          ELSE list_append(walk.pieces,
                               CASE WHEN walk.p = 1
                                    THEN substr(walk.w, walk.p, cand.bestL)
                                    ELSE '##' || substr(walk.w, walk.p, cand.bestL)
                               END) END,
                     cand.bestL IS NULL
              FROM walk
              LEFT JOIN cand ON cand.w = walk.w AND cand.p = walk.p
              WHERE walk.p <= len(walk.w) AND NOT walk.dead
            ),
            done AS (
              SELECT w,
                     CASE WHEN len(w) > 100 THEN ['[UNK]'] ELSE pieces END AS pieces
              FROM walk WHERE p > len(w) OR dead
            ),
            per_doc AS (
              SELECT words.doc_id,
                     flatten(list(done.pieces ORDER BY words.pos)) AS pieces
              FROM words JOIN done ON done.w = words.w
              GROUP BY 1
            )
            SELECT d.doc_id,
                   CAST(coalesce(len(p.pieces), 0) AS BIGINT) AS n_wp,
                   CAST(coalesce(len(list_filter(p.pieces, x -> x = '[UNK]')), 0)
                        AS BIGINT) AS n_unk,
                   md5(array_to_string(coalesce(p.pieces, []), chr(31))) AS pieces_md5
            FROM documents d LEFT JOIN per_doc p USING (doc_id)
        """))(),
        "dp119_decontaminate_spans": f"""
            WITH bg AS (
              SELECT DISTINCT g FROM (
                SELECT unnest({_duck_shingles(8)}) AS g
                FROM (SELECT {_DUCK_TOKENS} AS w FROM documents
                      WHERE doc_id % 50 = 0)
              ) WHERE g <> ''
            ),
            tcs AS (SELECT doc_id, {_DUCK_TOKENS_CS} AS w FROM documents),
            pos AS (
              SELECT doc_id, unnest(generate_series(1, len(w))) AS tp, w
              FROM tcs WHERE len(w) >= 1
            ),
            st AS (
              SELECT doc_id, unnest(generate_series(1, len(w) - 7)) AS p, w
              FROM tcs WHERE len(w) >= 8
            ),
            hitp AS (
              SELECT st.doc_id, st.p FROM st
              JOIN bg ON lower(array_to_string(st.w[st.p : st.p + 7], ' ')) = bg.g
            ),
            hitdocs AS (SELECT DISTINCT doc_id FROM hitp),
            kept AS (
              SELECT pos.doc_id, pos.tp, pos.w[pos.tp] AS tok
              FROM pos JOIN hitdocs USING (doc_id)
              WHERE NOT EXISTS (
                SELECT 1 FROM hitp
                WHERE hitp.doc_id = pos.doc_id
                  AND pos.tp BETWEEN hitp.p AND hitp.p + 7
              )
            ),
            isl AS (
              SELECT doc_id, tp, tok,
                     tp - row_number() OVER (PARTITION BY doc_id ORDER BY tp) AS g
              FROM kept
            ),
            fr AS (
              SELECT doc_id, g, MIN(tp) AS fp, COUNT(*) AS flen,
                     string_agg(tok, ' ' ORDER BY tp) AS ftext
              FROM isl GROUP BY 1, 2
            ),
            fr2 AS (
              SELECT doc_id, list(ftext ORDER BY fp) AS frags,
                     SUM(flen) AS keptn
              FROM fr WHERE flen >= 5 GROUP BY 1
            )
            SELECT d.doc_id,
                   CAST(CASE WHEN h.doc_id IS NULL
                             THEN CASE WHEN len(t.w) > 0 THEN 1 ELSE 0 END
                             ELSE coalesce(len(f.frags), 0) END AS INT)
                     AS n_fragments,
                   CAST(CASE WHEN h.doc_id IS NULL THEN 0
                             ELSE len(t.w) - coalesce(f.keptn, 0) END AS BIGINT)
                     AS n_removed_tokens,
                   md5(coalesce(CASE WHEN h.doc_id IS NULL
                            THEN CASE WHEN len(t.w) > 0
                                      THEN array_to_string(t.w, ' ')
                                      ELSE '' END
                            ELSE array_to_string(coalesce(f.frags, []), chr(31))
                       END, '')) AS frags_md5
            FROM documents d
            JOIN tcs t USING (doc_id)
            LEFT JOIN hitdocs h ON h.doc_id = d.doc_id
            LEFT JOIN fr2 f ON f.doc_id = d.doc_id
        """,
        "dp128_frequent_bigrams": f"""
            WITH toks AS (
              SELECT doc_id, {_DUCK_TOKENS} AS w FROM documents
            ),
            sh AS (SELECT doc_id, {_duck_shingles(2)} AS s FROM toks),
            g AS (SELECT unnest(s) AS term FROM sh),
            gg AS (SELECT term FROM g WHERE term <> ''),
            tot AS (SELECT COUNT(*)::BIGINT AS total FROM gg),
            c AS (SELECT term, COUNT(*)::BIGINT AS n FROM gg GROUP BY 1)
            SELECT c.term, c.n,
                   CAST(c.n AS DOUBLE) / t.total AS support
            FROM c, tot t
            WHERE c.n >= CEIL(CAST(0.0012 AS DOUBLE) * t.total)
        """,
        "dp127_hilbert_layout": (lambda levels=_hilbert_level_ctes(
            8, "o_orderkey, o_custkey"
        ): f"""
            WITH k AS (
              SELECT o_orderkey, o_custkey,
                     o_custkey AS k1,
                     epoch_us(o_orderdate) AS k2
              FROM orders
            ),
            s AS (
              SELECT min(k1) AS lo1, max(k1) AS hi1,
                     min(k2) AS lo2, max(k2) AS hi2
              FROM k
            ),
            l_in AS (
              SELECT o_orderkey, o_custkey,
                     CASE WHEN (hi1 - lo1 + 1) <= 2147483648
                          THEN ((k1 - lo1) * 256) // (hi1 - lo1 + 1)
                          ELSE (k1 - lo1) // (((hi1 - lo1 + 1) + 255) // 256)
                     END AS x,
                     CASE WHEN (hi2 - lo2 + 1) <= 2147483648
                          THEN ((k2 - lo2) * 256) // (hi2 - lo2 + 1)
                          ELSE (k2 - lo2) // (((hi2 - lo2 + 1) + 255) // 256)
                     END AS y,
                     CAST(0 AS BIGINT) AS d
              FROM k CROSS JOIN s
            ),
            {levels[0]}
            SELECT o_orderkey, o_custkey, d AS hilbert_key FROM {levels[1]}
        """)(),
        "dp126_mixture_plan": """
            -- exact floor-division replay of the planner arithmetic
            WITH w(lang, parts) AS (
              VALUES ('de', 20), ('en', 60), ('fr', 15), ('xx', 5)
            ),
            avail AS (
              SELECT lang, SUM(n_chars)::BIGINT AS available
              FROM documents WHERE lang IN ('en', 'de', 'fr', 'xx')
              GROUP BY lang
            ),
            base AS (
              SELECT w.lang, CAST(w.parts AS BIGINT) AS parts,
                     COALESCE(a.available, 0) AS available,
                     (CAST(2000000 AS BIGINT) * w.parts) // 100
                       AS desired_tokens
              FROM w LEFT JOIN avail a USING (lang)
            ),
            planned AS (
              SELECT *,
                     LEAST(desired_tokens,
                           (CAST(1500000 AS BIGINT) * available)
                             // 1000000) AS plan_tokens
              FROM base
            )
            SELECT lang, parts, available, desired_tokens, plan_tokens,
                   plan_tokens < desired_tokens AS capped,
                   CASE WHEN available > 0
                        THEN (plan_tokens * CAST(1000000 AS BIGINT))
                               // available
                        ELSE 0 END AS sample_rate_ppm,
                   CASE WHEN available > 0
                        THEN (desired_tokens * CAST(1000000 AS BIGINT))
                               // available
                        ELSE 0 END AS epochs_ppm,
                   desired_tokens - plan_tokens AS shortfall_tokens
            FROM planned
        """,
        # full replay of the q31 composed curation chain: staging ->
        # gopher (corpus stopword profile) -> corpus line dedup ->
        # MinHash+LSH on the deduped text -> 8-gram decontamination vs
        # the raw benchmark slice -> mixture plan over survivors
        "q31_curation_pipeline": rf"""
            WITH staged AS (
              SELECT doc_id, lang, n_chars,
                     substr(text, 1, 60) || chr(10) || '{_Q31_FOOTER}'
                       || chr(10) || substr(text, 61, 100000) AS tx
              FROM documents
            ),
            gb AS (
              SELECT doc_id, tx,
                     list_filter(string_split_regex(trim(tx), '\s+'),
                                 t -> t <> '') AS w,
                     list_filter(string_split(tx, chr(10)),
                                 l -> trim(l) <> '') AS ln
              FROM staged
            ),
            gc AS (
              SELECT doc_id,
                     len(w) AS n_words,
                     coalesce(list_sum(list_transform(w, t -> len(t))), 0)
                       AS sum_wl,
                     (len(tx) - len(replace(tx, '#', '')))
                       + len(regexp_extract_all(tx, '(\.\.\.|…)')) AS n_sym,
                     len(ln) AS n_lines,
                     len(list_filter(ln,
                         l -> regexp_matches(ltrim(l), '^[-*•]')))
                       AS bullet_lines,
                     len(list_filter(ln,
                         l -> regexp_matches(rtrim(l), '(\.\.\.|…)$')))
                       AS ellipsis_lines,
                     len(list_filter(w, t -> regexp_matches(t, '[A-Za-z]')))
                       AS alpha_words,
                     len(list_intersect(
                       list_distinct(list_filter(
                         string_split_regex(trim(lower(tx)), '\s+'),
                         t -> t <> '')),
                       ['the','a','value','table'])) AS sw_hits
              FROM gb
            ),
            keepers AS (
              SELECT doc_id FROM gc
              WHERE n_words >= 30 AND n_words <= 100000
                AND n_words > 0 AND sum_wl >= 3 * n_words
                AND sum_wl <= 10 * n_words
                AND 1000 * n_sym <= 100 * n_words
                AND 1000 * bullet_lines <= 900 * n_lines
                AND 1000 * ellipsis_lines <= 300 * n_lines
                AND 1000 * alpha_words >= 800 * n_words
                AND sw_hits >= 2
            ),
            gdocs AS (
              SELECT s.doc_id, s.tx FROM staged s JOIN keepers USING (doc_id)
            ),
            lns AS (
              SELECT doc_id,
                     unnest(generate_series(0,
                       len(string_split(tx, chr(10))) - 1)) AS idx,
                     unnest(string_split(tx, chr(10))) AS line
              FROM gdocs
            ),
            keyed AS (
              SELECT doc_id, idx, line,
                     (length(trim(line)) < 1) OR
                     (ROW_NUMBER() OVER (PARTITION BY md5(trim(line))
                                         ORDER BY doc_id, idx) = 1) AS keep
              FROM lns
            ),
            ded AS (
              SELECT doc_id,
                     COALESCE(string_agg(CASE WHEN keep THEN line END,
                                         chr(10) ORDER BY idx), '') AS t2
              FROM keyed GROUP BY doc_id
            ),
            mtoks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(trim(lower(t2)), '\s+'),
                                 t -> t <> '') AS w
              FROM ded
            ),
            msh AS (SELECT doc_id, {_duck_shingles(3)} AS s FROM mtoks),
            mbases AS (
              SELECT doc_id, list_distinct(list_transform(
                s, x -> CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)
                          % {MINHASH_P})) AS bs
              FROM msh
            ),
            msig AS (SELECT doc_id, {_duck_minhash(12)} AS sg FROM mbases),
            mbds AS (SELECT doc_id, {_duck_bands(4, 3)} AS bh FROM msig),
            mex AS (SELECT doc_id, unnest(bh) AS h FROM mbds),
            mbuckets AS (SELECT h, min(doc_id) AS m FROM mex GROUP BY h),
            mheads AS (
              SELECT mex.doc_id, min(b.m) AS g
              FROM mex JOIN mbuckets b USING (h) GROUP BY mex.doc_id
            ),
            msurv AS (
              SELECT d.doc_id, d.t2
              FROM ded d JOIN mheads h ON d.doc_id = h.doc_id
              WHERE h.g = d.doc_id
            ),
            btoks AS (
              SELECT doc_id, {_DUCK_TOKENS} AS w
              FROM documents WHERE doc_id % 50 = 0
            ),
            bgr AS (SELECT unnest({_duck_shingles(8)}) AS g FROM btoks),
            bg AS (SELECT DISTINCT g FROM bgr),
            dtoks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(trim(lower(t2)), '\s+'),
                                 t -> t <> '') AS w
              FROM msurv
            ),
            dgr AS (
              SELECT doc_id, unnest({_duck_shingles(8)}) AS g FROM dtoks
            ),
            hits AS (SELECT DISTINCT doc_id FROM dgr JOIN bg USING (g)),
            surv AS (
              SELECT doc_id FROM msurv
              WHERE doc_id NOT IN (SELECT doc_id FROM hits)
            ),
            wt(lang, parts) AS (
              VALUES ('de', 30), ('en', 50), ('fr', 15), ('xx', 5)
            ),
            avail AS (
              SELECT d.lang, SUM(d.n_chars)::BIGINT AS available
              FROM documents d JOIN surv USING (doc_id)
              WHERE d.lang IN ('en', 'de', 'fr', 'xx')
              GROUP BY d.lang
            ),
            base AS (
              SELECT wt.lang, CAST(wt.parts AS BIGINT) AS parts,
                     COALESCE(a.available, 0) AS available,
                     (CAST(1000000 AS BIGINT) * wt.parts) // 100
                       AS desired_tokens
              FROM wt LEFT JOIN avail a USING (lang)
            ),
            planned AS (
              SELECT *,
                     LEAST(desired_tokens,
                           (CAST(2000000 AS BIGINT) * available)
                             // 1000000) AS plan_tokens
              FROM base
            )
            SELECT lang, parts, available, desired_tokens, plan_tokens,
                   plan_tokens < desired_tokens AS capped,
                   CASE WHEN available > 0
                        THEN (plan_tokens * CAST(1000000 AS BIGINT))
                               // available
                        ELSE 0 END AS sample_rate_ppm,
                   CASE WHEN available > 0
                        THEN (desired_tokens * CAST(1000000 AS BIGINT))
                               // available
                        ELSE 0 END AS epochs_ppm,
                   desired_tokens - plan_tokens AS shortfall_tokens
            FROM planned
        """,
        "dp125_unigram_encode": (lambda: (
            "WITH RECURSIVE vocab(piece, lp) AS (VALUES "
            + ", ".join(
                f"('{p}', CAST({lp} AS BIGINT))" for p, lp in UG_FIXED_VOCAB
            )
            + f"""),
            toks AS (SELECT doc_id, {_DUCK_TOKENS} AS ws FROM documents),
            tw AS (
              SELECT doc_id, unnest(generate_series(1, len(ws))) AS pos, ws
              FROM toks
            ),
            words AS (SELECT doc_id, pos, ws[pos] AS w FROM tw),
            dw AS (SELECT DISTINCT w FROM words),
            short AS (SELECT w FROM dw WHERE len(w) <= 12),
            -- exhaustive segmentation enumeration (words are bounded, so
            -- the path set is finite); Viterbi = ORDER BY over all paths
            rec(w, pos, score, np, path) AS (
              SELECT w, 0, CAST(0 AS BIGINT), 0, '' FROM short
              UNION ALL
              SELECT r.w, r.pos + len(v.piece), r.score + v.lp, r.np + 1,
                     CASE WHEN r.path = '' THEN v.piece
                          ELSE r.path || chr(1) || v.piece END
              FROM rec r JOIN vocab v
                ON substr(r.w, r.pos + 1, len(v.piece)) = v.piece
              WHERE r.pos < len(r.w)
            ),
            best AS (
              SELECT w, score, np, path,
                     ROW_NUMBER() OVER (
                       PARTITION BY w
                       ORDER BY score DESC, np ASC, path ASC
                     ) AS rn
              FROM rec WHERE pos = len(w)
            ),
            enc AS (
              SELECT d.w,
                     COALESCE(b.path, '[UNK]') AS path,
                     COALESCE(b.score, -100000) AS score,
                     COALESCE(b.np, 1) AS np,
                     CASE WHEN b.path IS NULL THEN 1 ELSE 0 END AS unk
              FROM dw d LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
                USING (w)
            ),
            asm AS (
              SELECT wd.doc_id,
                     SUM(e.np)::BIGINT AS n_ug,
                     SUM(e.unk)::BIGINT AS n_unk,
                     SUM(e.score)::BIGINT AS score_s,
                     string_agg(replace(e.path, chr(1), chr(31)), chr(31)
                                ORDER BY wd.pos) AS joined
              FROM words wd JOIN enc e USING (w)
              GROUP BY wd.doc_id
            )
            SELECT d.doc_id,
                   COALESCE(a.n_ug, 0) AS n_ug,
                   COALESCE(a.n_unk, 0) AS n_unk,
                   COALESCE(a.score_s, 0) AS score_s,
                   md5(COALESCE(a.joined, '')) AS pieces_md5
            FROM documents d LEFT JOIN asm a USING (doc_id)
        """))(),
        "dp124_word_pmi": f"""
            -- grid-snapped integer-argument logs (the lm_score
            -- convention): L(x) = floor(log10(x)*1e4 + 0.5) as BIGINT
            WITH t AS (SELECT {_DUCK_TOKENS} AS w FROM documents),
            tot AS (
              SELECT SUM(len(w))::BIGINT AS nu,
                     SUM(GREATEST(len(w) - 1, 0))::BIGINT AS nb
              FROM t
            ),
            bi AS (
              SELECT w[i] AS w1, w[i+1] AS w2, COUNT(*)::BIGINT AS n_ab
              FROM (SELECT w, unnest(generate_series(1, len(w)-1)) AS i
                    FROM t WHERE len(w) >= 2)
              GROUP BY 1, 2 HAVING COUNT(*) >= 4
            ),
            uni AS (
              SELECT u.w, COUNT(*)::BIGINT AS cu
              FROM (SELECT unnest(w) AS w FROM t) u
              WHERE u.w IN (SELECT w1 FROM bi UNION SELECT w2 FROM bi)
              GROUP BY 1
            ),
            scored AS (
              SELECT b.w1, b.w2, b.n_ab,
                     CAST(floor(log10(b.n_ab) * 10000 + 0.5) AS BIGINT)
                     + 2 * CAST(floor(log10(t.nu) * 10000 + 0.5) AS BIGINT)
                     - CAST(floor(log10(t.nb) * 10000 + 0.5) AS BIGINT)
                     - CAST(floor(log10(u1.cu) * 10000 + 0.5) AS BIGINT)
                     - CAST(floor(log10(u2.cu) * 10000 + 0.5) AS BIGINT)
                       AS pmi_s
              FROM bi b
              JOIN uni u1 ON u1.w = b.w1
              JOIN uni u2 ON u2.w = b.w2
              CROSS JOIN tot t
            )
            SELECT w1, w2, n_ab, pmi_s,
                   CAST(pmi_s AS DOUBLE) / 10000.0 AS pmi
            FROM scored
            ORDER BY pmi_s DESC, w1 ASC, w2 ASC
            LIMIT 40
        """,
        "dp123_frequent_terms": f"""
            -- plain exact replay: the MG candidate pass is invisible to
            -- a correct implementation (superset + exact recount)
            WITH w AS (SELECT unnest({_DUCK_TOKENS}) AS term FROM documents),
            tot AS (SELECT COUNT(*)::BIGINT AS total FROM w),
            c AS (SELECT term, COUNT(*)::BIGINT AS n FROM w GROUP BY 1)
            SELECT c.term, c.n,
                   CAST(c.n AS DOUBLE) / t.total AS support
            FROM c, tot t
            WHERE c.n >= CEIL(CAST(0.004 AS DOUBLE) * t.total)
        """,
        "dp122_pca_moments": """
            -- exact integer moment replay: 1024-grid quantization, upper
            -- triangle of the Gram matrix + per-dim sums + count
            WITH q AS (
              SELECT list_transform(
                       embedding,
                       x -> CAST(floor(CAST(x AS DOUBLE) * 1024 + 0.5) AS BIGINT)
                     ) AS qe
              FROM embeddings
              WHERE embedding IS NOT NULL
            ),
            dims AS (SELECT CAST(UNNEST(range(64)) AS INT) AS i)
            SELECT p.i, p.j,
                   CAST(SUM(q.qe[p.i + 1] * q.qe[p.j + 1]) AS BIGINT) AS sxy
            FROM q, (SELECT d1.i AS i, d2.i AS j
                     FROM dims d1 JOIN dims d2 ON d2.i >= d1.i) p
            GROUP BY p.i, p.j
            UNION ALL
            SELECT d.i, CAST(-1 AS INT) AS j,
                   CAST(SUM(q.qe[d.i + 1]) AS BIGINT) AS sxy
            FROM q, dims d GROUP BY d.i
            UNION ALL
            SELECT CAST(-1 AS INT), CAST(-1 AS INT),
                   CAST(COUNT(*) AS BIGINT) FROM q
        """,
        "dp121_graph_components": """
            -- reachability replay with a recursive CTE (NOT the edge
            -- generator's closed form, so a labeling bug cannot cancel)
            WITH RECURSIVE
            chain AS (
              SELECT d.doc_id AS src, e.doc_id AS dst
              FROM documents d JOIN documents e ON e.doc_id = d.doc_id + 1
              WHERE d.doc_id % 50 <> 49
            ),
            bridge AS (
              SELECT d.doc_id AS src, e.doc_id AS dst
              FROM documents d JOIN documents e ON e.doc_id = d.doc_id + 50
              WHERE d.doc_id % 150 = 0
            ),
            edges AS (
              SELECT src, dst FROM chain UNION ALL SELECT dst, src FROM chain
              UNION ALL
              SELECT src, dst FROM bridge UNION ALL SELECT dst, src FROM bridge
            ),
            reach(node, lab) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
            )
            SELECT CAST(node AS BIGINT) AS node,
                   CAST(MIN(lab) AS BIGINT) AS component
            FROM reach GROUP BY node
        """,
        "dp120_dup_line_stats": """
            WITH lined AS (
              SELECT doc_id, replace(text, ' a ', chr(10)) AS text
              FROM documents
            ),
            lines AS (
              SELECT doc_id, regexp_replace(l, '^[\t\x0b\f\r ]+|[\t\x0b\f\r ]+$', '', 'g') AS l
              FROM (SELECT doc_id, unnest(string_split(coalesce(text, ''),
                                                       chr(10))) AS l
                    FROM lined)
              WHERE regexp_replace(l, '^[\t\x0b\f\r ]+|[\t\x0b\f\r ]+$', '', 'g') <> ''
            ),
            grp AS (
              SELECT doc_id, l, COUNT(*) AS c FROM lines GROUP BY 1, 2
            ),
            per_doc AS (
              SELECT doc_id,
                     SUM(c) AS n_lines,
                     SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS n_dup,
                     SUM(len(l) * c) AS tc,
                     SUM(CASE WHEN c >= 2 THEN len(l) * c ELSE 0 END) AS dc
              FROM grp GROUP BY 1
            )
            SELECT d.doc_id,
                   CAST(coalesce(p.n_lines, 0) AS BIGINT) AS n_lines,
                   CAST(coalesce(p.n_dup, 0) AS BIGINT) AS n_dup_lines,
                   CASE WHEN coalesce(p.n_lines, 0) > 0
                        THEN CAST(p.n_dup AS DOUBLE) / p.n_lines
                        ELSE 0.0 END AS dup_line_frac,
                   CASE WHEN coalesce(p.tc, 0) > 0
                        THEN CAST(p.dc AS DOUBLE) / p.tc
                        ELSE 0.0 END AS dup_char_frac
            FROM documents d LEFT JOIN per_doc p USING (doc_id)
        """,
        "q30_gab_week_day_snapshot": """
            WITH cal AS (
              SELECT unnest(generate_series(DATE '1995-01-04', DATE '1995-02-28',
                                            INTERVAL 1 DAY))::DATE AS d
            ), buckets AS (
              SELECT DISTINCT
                     date_trunc('week', d)::DATE AS cadence_start_date,
                     d AS cadence_end_date
              FROM cal
              WHERE date_trunc('week', d)::DATE >= DATE '1995-01-02'
            )
            SELECT strftime(b.cadence_start_date, '%Y-%m-%d') AS from_date,
                   strftime(b.cadence_end_date, '%Y-%m-%d') AS to_date,
                   o.o_orderpriority AS d1,
                   COUNT(*) AS m1,
                   CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS m2
            FROM orders o
            JOIN buckets b
              ON o.o_orderdate BETWEEN b.cadence_start_date AND b.cadence_end_date
            WHERE o.o_orderdate >= DATE '1995-01-02' AND o.o_orderdate < DATE '1995-03-01'
            GROUP BY 1, 2, 3
        """,
        "dp110_random_projection": (lambda: (
            "WITH p AS (SELECT vec_id, ["
            + ", ".join(
                "("
                + " ".join(
                    ("+" if _rp_sign("rp", i, j) > 0 else "-")
                    + f" embedding[{j + 1}]::DOUBLE"
                    for j in range(64)
                ).lstrip("+ ")
                + f") * {1.0 / 4.0!r}"
                for i in range(16)
            )
            + "] AS embedding_rp FROM embeddings) "
            "SELECT vec_id, unnest(generate_series(0, 15))::INT AS dim_idx, "
            "unnest(embedding_rp) AS component FROM p"
        ))(),
        "dp111_interval_overlap_join": """
            WITH l AS (
              SELECT o_orderkey, o_orderpriority,
                     o_orderdate AS s, o_orderdate + INTERVAL 3 DAY AS e
              FROM orders WHERE o_orderkey % 7 = 0
            ),
            r AS (
              SELECT o_orderkey AS rk, o_orderpriority,
                     o_orderdate AS s, o_orderdate + INTERVAL 2 DAY AS e
              FROM orders WHERE o_orderkey % 11 = 0
            )
            SELECT l.o_orderkey, r.rk, l.o_orderpriority
            FROM l JOIN r ON l.o_orderpriority = r.o_orderpriority
             AND l.s <= r.e AND r.s <= l.e
        """,
        "dp112_embedding_kmeans": _kmeans_oracle_sql(8, 2),
        "dp130_kmeans_hier": _kmeans_hier_oracle_sql(4, 3, 1, 1),
        "dp132_semantic_dedup_hier": _duck_semantic_hier(0.9, 4, 3, 1, 1),
        "dp133_prototype_prune": _duck_prototype_prune(8, 2, 0.5),
        "dp134_linear_fit": _duck_linear_fit(1.0),
        "dp140_correlation_matrix": """
            WITH q AS (
              SELECT label,
                     CAST(floor(CAST(embedding[1] AS DOUBLE)*1024.0 + 0.5) AS BIGINT) AS x1, CAST(floor(CAST(embedding[2] AS DOUBLE)*1024.0 + 0.5) AS BIGINT) AS x2,
                     CAST(floor(CAST(embedding[3] AS DOUBLE)*1024.0 + 0.5) AS BIGINT) AS x3, CAST(floor(CAST(embedding[4] AS DOUBLE)*1024.0 + 0.5) AS BIGINT) AS x4
              FROM embeddings
            ), qq AS (
              SELECT * FROM q
              WHERE x1 IS NOT NULL AND x2 IS NOT NULL
                AND x3 IS NOT NULL AND x4 IS NOT NULL
            ), mom AS (
              SELECT label, COUNT(*) AS n, CAST(SUM(x1) AS DOUBLE) AS s0, CAST(SUM(x1*x1) AS DOUBLE) AS s00, CAST(SUM(x1*x2) AS DOUBLE) AS s01, CAST(SUM(x1*x3) AS DOUBLE) AS s02, CAST(SUM(x1*x4) AS DOUBLE) AS s03, CAST(SUM(x2) AS DOUBLE) AS s1, CAST(SUM(x2*x2) AS DOUBLE) AS s11, CAST(SUM(x2*x3) AS DOUBLE) AS s12, CAST(SUM(x2*x4) AS DOUBLE) AS s13, CAST(SUM(x3) AS DOUBLE) AS s2, CAST(SUM(x3*x3) AS DOUBLE) AS s22, CAST(SUM(x3*x4) AS DOUBLE) AS s23, CAST(SUM(x4) AS DOUBLE) AS s3, CAST(SUM(x4*x4) AS DOUBLE) AS s33
              FROM qq GROUP BY label
            ), pairs AS (
              SELECT label, n,
                     unnest([struct_pack(col_x := 'x1', col_y := 'x2', corr := CASE WHEN (n*s00 - s0*s0) > 0.0 AND (n*s11 - s1*s1) > 0.0 THEN (n*s01 - s0*s1) / sqrt((n*s00 - s0*s0) * (n*s11 - s1*s1)) END),
                       struct_pack(col_x := 'x1', col_y := 'x3', corr := CASE WHEN (n*s00 - s0*s0) > 0.0 AND (n*s22 - s2*s2) > 0.0 THEN (n*s02 - s0*s2) / sqrt((n*s00 - s0*s0) * (n*s22 - s2*s2)) END),
                       struct_pack(col_x := 'x1', col_y := 'x4', corr := CASE WHEN (n*s00 - s0*s0) > 0.0 AND (n*s33 - s3*s3) > 0.0 THEN (n*s03 - s0*s3) / sqrt((n*s00 - s0*s0) * (n*s33 - s3*s3)) END),
                       struct_pack(col_x := 'x2', col_y := 'x3', corr := CASE WHEN (n*s11 - s1*s1) > 0.0 AND (n*s22 - s2*s2) > 0.0 THEN (n*s12 - s1*s2) / sqrt((n*s11 - s1*s1) * (n*s22 - s2*s2)) END),
                       struct_pack(col_x := 'x2', col_y := 'x4', corr := CASE WHEN (n*s11 - s1*s1) > 0.0 AND (n*s33 - s3*s3) > 0.0 THEN (n*s13 - s1*s3) / sqrt((n*s11 - s1*s1) * (n*s33 - s3*s3)) END),
                       struct_pack(col_x := 'x3', col_y := 'x4', corr := CASE WHEN (n*s22 - s2*s2) > 0.0 AND (n*s33 - s3*s3) > 0.0 THEN (n*s23 - s2*s3) / sqrt((n*s22 - s2*s2) * (n*s33 - s3*s3)) END)]) AS u
              FROM mom
            )
            SELECT label, n, u.col_x AS col_x, u.col_y AS col_y, u.corr AS corr
            FROM pairs
        """,
        "dp139_seed_classifier": f"""
            WITH neg AS (
              SELECT unnest({_DUCK_TOKENS}) AS w FROM documents
            ), pos AS (
              SELECT unnest({_DUCK_TOKENS}) AS w FROM documents WHERE lang = 'en'
            ), tcn AS (
              SELECT w, COUNT(*) AS c_n FROM neg GROUP BY w
            ), tcp AS (
              SELECT w, COUNT(*) AS c_p FROM pos GROUP BY w
            ), vocab AS (
              SELECT coalesce(tcn.w, tcp.w) AS w,
                     coalesce(c_n, 0) AS c_n, coalesce(c_p, 0) AS c_p
              FROM tcn FULL OUTER JOIN tcp ON tcn.w = tcp.w
              ORDER BY (coalesce(c_n, 0) + coalesce(c_p, 0)) DESC,
                       coalesce(tcn.w, tcp.w) ASC
              LIMIT 10000
            ), m AS (
              SELECT CAST(SUM(c_p) AS BIGINT) AS np,
                     CAST(SUM(c_n) AS BIGINT) AS nn,
                     COUNT(*) AS v
              FROM vocab
            ), toks AS (
              SELECT doc_id, unnest({_DUCK_TOKENS}) AS w FROM documents
            ), sc AS (
              SELECT doc_id, COUNT(*) AS nt,
                     CAST(SUM(CAST(floor(log10(coalesce(c_p, 0) + 1)*10000 + 0.5) AS BIGINT)
                              - CAST(floor(log10(coalesce(c_n, 0) + 1)*10000 + 0.5) AS BIGINT)) AS BIGINT) AS slp
              FROM toks LEFT JOIN vocab USING (w) GROUP BY doc_id
            )
            SELECT d.doc_id, d.lang,
                   CAST(sc.slp + sc.nt*(CAST(floor(log10(m.nn + m.v)*10000 + 0.5) AS BIGINT) - CAST(floor(log10(m.np + m.v)*10000 + 0.5) AS BIGINT)) AS BIGINT) AS seed_llr,
                   CAST(coalesce(sc.nt, 0) AS INT) AS n_scored_tokens,
                   (sc.slp + sc.nt*(CAST(floor(log10(m.nn + m.v)*10000 + 0.5) AS BIGINT) - CAST(floor(log10(m.np + m.v)*10000 + 0.5) AS BIGINT))) > 0 AS seed_pred
            FROM documents d
            LEFT JOIN sc ON d.doc_id = sc.doc_id
            CROSS JOIN m
        """,
        "dp138_winnow_fingerprint": _DUCK_WINNOW_FPS,
        "q34_tokenizer_fertility": f"""
            -- langid over the whole corpus -> per-word BPE merge scan
            -- -> per-language docs/words/tokens + exact floor-permille
            -- fertility (tokens per word)
            WITH langed AS (
              SELECT doc_id, text, {pred} AS lang_pred FROM documents
            ),
            toks AS (
              SELECT doc_id, lang_pred, {_DUCK_TOKENS_CS} AS ws FROM langed
            ),
            tw AS (
              SELECT doc_id, unnest(generate_series(1, len(ws))) AS pos, ws
              FROM toks
            ),
            enc AS (
              SELECT doc_id, pos, len({_duck_bpe_pieces("ws[pos]")}) AS np
              FROM tw
            ),
            per_doc AS (
              SELECT t.doc_id, t.lang_pred,
                     CAST(len(t.ws) AS BIGINT) AS nw,
                     CAST(coalesce(SUM(e.np), 0) AS BIGINT) AS nt
              FROM toks t LEFT JOIN enc e ON t.doc_id = e.doc_id
              GROUP BY 1, 2, 3
            )
            SELECT lang_pred,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(nw) AS BIGINT) AS n_words,
                   CAST(SUM(nt) AS BIGINT) AS n_tokens,
                   CASE WHEN SUM(nw) > 0
                        THEN CAST(floor(1000.0 * SUM(nt) / SUM(nw)) AS BIGINT)
                        ELSE 0 END AS fertility_permille
            FROM per_doc GROUP BY lang_pred
        """,
        "q32_tokenize_pipeline": f"""
            -- full pipeline replay: langid filter -> per-word BPE merge
            -- scan -> shard/cumsum/pack arithmetic (dp29's replay over
            -- the BPE counts)
            WITH langed AS (
              SELECT doc_id, text FROM documents WHERE {pred} = 'en'
            ),
            toks AS (
              SELECT doc_id, {_DUCK_TOKENS_CS} AS ws FROM langed
            ),
            tw AS (
              SELECT doc_id, unnest(generate_series(1, len(ws))) AS pos, ws
              FROM toks
            ),
            enc AS (
              SELECT doc_id, pos, len({_duck_bpe_pieces("ws[pos]")}) AS np
              FROM tw
            ),
            per_doc AS (
              SELECT l.doc_id,
                     CAST(coalesce(SUM(e.np), 0) AS BIGINT) AS n_tokens
              FROM langed l LEFT JOIN enc e ON l.doc_id = e.doc_id
              GROUP BY l.doc_id
            ),
            t AS (
              SELECT doc_id, n_tokens,
                     CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                          AS BIGINT) % 1000000 AS b
              FROM per_doc
            ),
            s AS (
              SELECT doc_id, n_tokens, b % 8 AS pack_shard,
                     SUM(n_tokens) OVER (
                       PARTITION BY b % 8 ORDER BY b, doc_id
                       ROWS UNBOUNDED PRECEDING) - n_tokens AS strt
              FROM t
            )
            SELECT CAST(pack_shard AS BIGINT) AS pack_shard,
                   CAST(pack_shard * 1000000000 + (strt // 512) AS BIGINT) AS pack_id,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
                   MIN(doc_id) AS first_doc
            FROM s GROUP BY 1, 2
        """,
        "dp151_char_entropy": """
            -- exact scaled-log2 grid (the dp35 convention): integer
            -- c*floor(log2(c)*1e4+0.5) sums, one final double division
            WITH chars AS (
              SELECT doc_id, unnest(string_split(text, '')) AS ch
              FROM documents
            ), counts AS (
              SELECT doc_id, ch, COUNT(*) AS c
              FROM chars WHERE ch <> '' GROUP BY doc_id, ch
            ), per_doc AS (
              SELECT doc_id,
                     CAST(SUM(c) AS BIGINT) AS n,
                     SUM(c * CAST(floor(log2(c) * 10000 + 0.5) AS BIGINT)) AS sclc
              FROM counts GROUP BY doc_id
            )
            SELECT d.doc_id,
                   (CAST(floor(log2(p.n) * 10000 + 0.5) AS DOUBLE)
                    - CAST(p.sclc AS DOUBLE) / p.n) / 10000.0 AS char_entropy,
                   COALESCE(p.n, 0) AS n_chars_counted
            FROM documents d LEFT JOIN per_doc p USING (doc_id)
        """,
        "dp150_streaming_topk": """
            -- best-score-wins per id, then rank by (score DESC, id);
            -- total_seen counts raw (non-null id+score) rows; NULL and
            -- NaN scores excluded on both arms (NaN cannot compete)
            WITH src AS (
              SELECT user_id, event_id, CAST(value AS DOUBLE) AS v
              FROM events
              WHERE event_id IS NOT NULL AND value IS NOT NULL
                AND NOT isnan(CAST(value AS DOUBLE))
            ), tot AS (
              SELECT user_id, CAST(COUNT(*) AS BIGINT) AS total_seen
              FROM src GROUP BY user_id
            ), best AS (
              SELECT user_id, event_id, MAX(v) AS score
              FROM src GROUP BY user_id, event_id
            ), ranked AS (
              SELECT user_id, event_id, score,
                     CAST(row_number() OVER (
                       PARTITION BY user_id
                       ORDER BY score DESC, event_id ASC
                     ) AS INT) AS rank
              FROM best
            )
            SELECT r.user_id, r.event_id, r.score, r.rank, t.total_seen
            FROM ranked r JOIN tot t USING (user_id)
            WHERE r.rank <= 5
        """,
        "q33_ccnet_curation": rf"""
            -- dp35's exact LM-score chain -> dp149's tier rule on the
            -- resulting doubles (bit-identical in both engines) ->
            -- dp26's hash-filter with per-TIER rates
            WITH toks AS (
              SELECT doc_id, unnest({_DUCK_TOKENS}) AS w FROM documents
            ), vocab AS (
              SELECT w, COUNT(*) AS c FROM toks GROUP BY w
              ORDER BY c DESC, w ASC LIMIT 500
            ), tot AS (
              SELECT SUM(c) AS n FROM vocab
            ), sc AS (
              SELECT t.doc_id, COUNT(*) AS nt,
                     SUM(CASE WHEN v.c IS NOT NULL
                              THEN CAST(floor(log10(v.c) * 10000 + 0.5) AS BIGINT)
                              ELSE -3010 END) AS slp
              FROM toks t LEFT JOIN vocab v ON t.w = v.w
              GROUP BY t.doc_id
            ), lm AS (
              SELECT d.doc_id, d.lang,
                     CAST(COALESCE(s.nt, 0) AS INT) AS n_scored_tokens,
                     (CAST(s.slp AS DOUBLE)/s.nt
                      - floor(log10(t.n) * 10000 + 0.5)) / 10000.0 AS avg_logprob
              FROM documents d
              LEFT JOIN sc s ON d.doc_id = s.doc_id
              CROSS JOIN tot t
            ), hist AS (
              SELECT lang, avg_logprob AS s, COUNT(*) AS c
              FROM lm WHERE avg_logprob IS NOT NULL GROUP BY lang, avg_logprob
            ), cum AS (
              SELECT lang, s,
                     SUM(c) OVER (PARTITION BY lang ORDER BY s DESC) AS cm,
                     SUM(c) OVER (PARTITION BY lang) AS n
              FROM hist
            ), tiers AS (
              SELECT lang, s,
                     CASE WHEN cm <= ceil(n * 0.3) THEN 'head'
                          WHEN cm <= ceil(n * 0.6) THEN 'middle'
                          ELSE 'tail' END AS bucket
              FROM cum
            ), tagged AS (
              SELECT l.doc_id, l.lang, COALESCE(t.bucket, 'tail') AS bucket,
                     l.n_scored_tokens, l.avg_logprob
              FROM lm l
              LEFT JOIN tiers t ON l.lang = t.lang AND l.avg_logprob = t.s
            )
            SELECT doc_id, lang, bucket, n_scored_tokens, avg_logprob
            FROM tagged
            WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                    % 1000000
                  < CASE bucket WHEN 'head' THEN 1000000
                                WHEN 'middle' THEN 500000
                                WHEN 'tail' THEN 100000
                                ELSE 0 END
        """,
        "dp159_gpt2_bpe": f"""
            -- GPT-2 pretokenize replay (marker construction, RE2, no
            -- lookahead) -> per-pretoken byte-symbol merge scan with
            -- the Ġ-extended table -> per-doc counts + piece md5
            WITH staged AS (
              SELECT doc_id,
                     concat(text, CASE WHEN doc_id % 3 = 0
                       THEN ' it''s the café and' ELSE '' END) AS text
              FROM documents
            ),
            toks AS (
              SELECT doc_id, {_DUCK_GPT2_TOKS} AS ws FROM staged
            ),
            tw AS (
              SELECT doc_id,
                     unnest(generate_series(1, len(ws))) AS pos,
                     ws
              FROM toks
            ),
            enc AS (
              SELECT doc_id, pos,
                     {_duck_byte_bpe_pieces("ws[pos]", GPT2_BPE_FIXED_MERGES)} AS pieces
              FROM tw
            ),
            per_doc AS (
              SELECT doc_id, flatten(list(pieces ORDER BY pos)) AS pieces
              FROM enc GROUP BY doc_id
            ),
            pre AS (SELECT doc_id, len(ws) AS n_pre FROM toks)
            SELECT d.doc_id,
                   CAST(coalesce(p.pieces_n, 0) AS BIGINT) AS n_tokens,
                   CAST(coalesce(pre.n_pre, 0) AS BIGINT) AS n_pretokens,
                   md5(array_to_string(coalesce(p.pieces, []), chr(31))) AS pieces_md5
            FROM documents d
            LEFT JOIN (SELECT doc_id, pieces, len(pieces) AS pieces_n
                       FROM per_doc) p USING (doc_id)
            LEFT JOIN pre USING (doc_id)
        """,
        "dp158_byte_bpe": f"""
            -- byte-level BPE replay: word -> code points -> UTF-8
            -- bytes (integer div/mod) -> GPT-2 byte-symbol string ->
            -- the dp69b double-space merge-scan, no </w> marker
            WITH staged AS (
              SELECT doc_id,
                     concat(text, CASE WHEN doc_id % 3 = 0
                       THEN ' café résumé naïve' ELSE '' END) AS text
              FROM documents
            ),
            toks AS (
              SELECT doc_id, {_DUCK_TOKENS_CS} AS ws FROM staged
            ),
            tw AS (
              SELECT doc_id,
                     unnest(generate_series(1, len(ws))) AS pos,
                     ws
              FROM toks
            ),
            enc AS (
              SELECT doc_id, pos, {_duck_byte_bpe_pieces("ws[pos]")} AS pieces
              FROM tw
            ),
            per_doc AS (
              SELECT doc_id, flatten(list(pieces ORDER BY pos)) AS pieces
              FROM enc GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(len(p.pieces), 0) AS BIGINT) AS n_tokens,
                   md5(array_to_string(coalesce(p.pieces, []), chr(31))) AS pieces_md5
            FROM documents d LEFT JOIN per_doc p USING (doc_id)
        """,
        "dp157_knn_mmr": _dp157_oracle(),
        "dp156_embedding_sanitize": """
            -- staged corruption (NULL / NaN head / +Inf head / zeros /
            -- truncation) -> per-class boolean screens, replayed with
            -- the same precedence CASE
            WITH staged AS (
              SELECT vec_id,
                CASE WHEN vec_id % 23 = 0 THEN NULL
                     WHEN vec_id % 17 = 0 THEN
                       list_concat([CAST('NaN' AS FLOAT)], embedding[2:64])
                     WHEN vec_id % 31 = 0 THEN
                       list_concat([CAST('Infinity' AS FLOAT)], embedding[2:64])
                     WHEN vec_id % 19 = 0 THEN
                       list_transform(embedding, x -> CAST(0.0 AS FLOAT))
                     WHEN vec_id % 29 = 0 THEN embedding[1:10]
                     ELSE embedding END AS v
              FROM embeddings
            )
            SELECT vec_id,
                   v IS NULL AS emb_null,
                   v IS NOT NULL AND len(v) <> 64 AS emb_wrong_dim,
                   v IS NOT NULL AND
                     len(list_filter(v, x -> x IS NULL
                         OR isnan(CAST(x AS DOUBLE)))) > 0
                     AS emb_has_nan,
                   v IS NOT NULL AND
                     len(list_filter(v, x -> x IS NOT NULL
                         AND isinf(CAST(x AS DOUBLE)))) > 0
                     AS emb_has_inf,
                   v IS NOT NULL AND len(v) > 0 AND
                     len(list_filter(v, x -> x IS NULL
                         OR isnan(CAST(x AS DOUBLE))
                         OR CAST(x AS DOUBLE) <> 0.0)) = 0
                     AS emb_zero,
                   v IS NOT NULL AND len(v) = 64
                     AND len(list_filter(v, x -> x IS NULL
                         OR isnan(CAST(x AS DOUBLE)))) = 0
                     AND len(list_filter(v, x -> x IS NOT NULL
                         AND isinf(CAST(x AS DOUBLE)))) = 0
                     AND NOT (len(v) > 0 AND len(list_filter(v,
                           x -> x IS NULL OR isnan(CAST(x AS DOUBLE))
                                OR CAST(x AS DOUBLE) <> 0.0)) = 0)
                     AS embedding_ok
            FROM staged
        """,
        "dp155_knn_pq_refine": """
            -- dp117's codebook/code/LUT chain -> 20-candidate ADC
            -- shortlist -> exact integer re-rank on the raw quantized
            -- vectors (ties -> smaller neighbor id)
            WITH q AS (
              SELECT vec_id AS id,
                     list_transform(embedding,
                       x -> CAST(floor(CAST(x AS DOUBLE)*1024.0 + 0.5) AS BIGINT)) AS v
              FROM embeddings
            ),
            cb AS (
              SELECT row_number() OVER
                       (ORDER BY md5(CAST(id AS VARCHAR)), id) - 1 AS c, v
              FROM q ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT 16
            ),
            pairs AS (
              SELECT q.id, cb.c, ss.s,
                     list_sum(list_transform(
                       list_zip(q.v[ss.s*16+1 : (ss.s+1)*16],
                                cb.v[ss.s*16+1 : (ss.s+1)*16]),
                       p -> (p[1]-p[2])*(p[1]-p[2]))) AS d
              FROM q
              CROSS JOIN cb
              CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS s) ss
            ),
            codes AS (
              SELECT id, s, c FROM (
                SELECT id, s, c, d,
                       row_number() OVER (PARTITION BY id, s ORDER BY d, c) AS rn
                FROM pairs
              ) WHERE rn = 1
            ),
            qry AS (SELECT id AS qid, v AS qv FROM q WHERE id < 10),
            adc AS (
              SELECT qry.qid, codes.id AS nid,
                     SUM(list_sum(list_transform(
                       list_zip(qry.qv[codes.s*16+1 : (codes.s+1)*16],
                                cb.v[codes.s*16+1 : (codes.s+1)*16]),
                       p -> (p[1]-p[2])*(p[1]-p[2])))) AS d
              FROM qry
              CROSS JOIN codes
              JOIN cb ON cb.c = codes.c
              WHERE qry.qid <> codes.id
              GROUP BY 1, 2
            ),
            short AS (
              SELECT qid, nid, d FROM (
                SELECT qid, nid, d,
                       row_number() OVER (PARTITION BY qid ORDER BY d, nid) AS arank
                FROM adc
              ) WHERE arank <= 20
            ),
            exact AS (
              SELECT s.qid, s.nid, s.d AS adc_dist,
                     list_sum(list_transform(
                       list_zip(qry.qv, nbr.v),
                       p -> (p[1]-p[2])*(p[1]-p[2]))) AS ed
              FROM short s
              JOIN qry ON qry.qid = s.qid
              JOIN q nbr ON nbr.id = s.nid
            )
            SELECT qid AS query_id, nid AS neighbor_id,
                   ed::BIGINT AS exact_dist, adc_dist::BIGINT AS adc_dist,
                   rank::INT AS rank
            FROM (
              SELECT qid, nid, ed, adc_dist,
                     row_number() OVER (PARTITION BY qid ORDER BY ed, nid) AS rank
              FROM exact
            ) WHERE rank <= 5
        """,
        "dp153_c4_rules": r"""
            -- staging -> line retention (terminal punct + >=3 words +
            -- no 'javascript') -> page flags, replayed generically
            WITH staged AS (
              SELECT doc_id,
                     concat(substring(text, 1, 80), '.',
                       CASE WHEN doc_id % 11 = 0 THEN ' lorem ipsum.' ELSE '' END,
                       chr(10), 'short line', chr(10),
                       substring(text, 81, 60),
                       CASE WHEN doc_id % 13 = 0 THEN ' {' ELSE '' END,
                       chr(10),
                       CASE WHEN doc_id % 7 = 0
                         THEN 'please enable javascript to view this page.'
                         ELSE concat(substring(text, 141, 80),
                              CASE WHEN doc_id % 5 = 0 THEN '?' ELSE '!' END)
                       END) AS t
              FROM documents
            ), cleaned AS (
              SELECT doc_id, t,
                     list_filter(string_split(t, chr(10)), l ->
                       right(regexp_replace(l, '\s+$', ''), 1)
                         IN ('.', '!', '?', '"', '”', '''')
                       AND len(list_filter(
                             string_split_regex(trim(l), '\s+'),
                             w -> w <> '')) >= 3
                       AND NOT contains(lower(l), 'javascript')
                     ) AS kept
              FROM staged
            ), flagged AS (
              SELECT doc_id, t,
                     array_to_string(kept, chr(10)) AS c4_text,
                     CAST(len(kept) AS BIGINT) AS n_lines_kept,
                     CAST(len(regexp_extract_all(
                       array_to_string(kept, chr(10)), '[.!?]'))
                       AS BIGINT) >= 2 AS rule_sentences,
                     NOT contains(t, '{') AS rule_no_brace,
                     NOT contains(lower(t), 'lorem ipsum') AS rule_no_lorem,
                     len(list_intersect(
                       list_distinct(list_filter(
                         string_split_regex(trim(lower(t)), '\s+'),
                         w -> w <> '')),
                       ['vector', 'spam'])) = 0 AS rule_no_badwords
              FROM cleaned
            )
            SELECT doc_id, n_lines_kept, rule_sentences, rule_no_brace,
                   rule_no_lorem, rule_no_badwords,
                   (rule_sentences AND rule_no_brace AND rule_no_lorem
                    AND rule_no_badwords) AS c4_keep,
                   md5(c4_text) AS c4_digest
            FROM flagged
        """,
        "dp154_script_mix": _dp154_oracle(),
        "dp162_gpt2_bpe_train": f"""
            -- GPT-2 training replay: 16 UNROLLED byte-level rounds over
            -- the RE2 gpt2 split (weighted pair counts -> argmax with
            -- (count DESC, pair ASC) tie-break -> double-space-padded
            -- merge application on byte-symbol strings, no </w>), then
            -- per-doc piece counts + chr(1)-joined piece streams from
            -- the final per-pretoken symbol strings
            WITH {_duck_bpe_train(
                16,
                toks_expr=_DUCK_GPT2_TOKS,
                sym_expr=(
                    "array_to_string(regexp_extract_all("
                    + _duck_byte_symword("w")
                    + ", '(?s).'), ' ')"
                ),
            )},
            dw AS (
              SELECT doc_id,
                     unnest(generate_series(0, len(ws) - 1)) AS i,
                     unnest(ws) AS w
              FROM (SELECT doc_id, {_DUCK_GPT2_TOKS} AS ws FROM documents)
              WHERE len(ws) >= 1
            ),
            per_doc AS (
              SELECT dw.doc_id,
                     CAST(SUM(len(str_split(e.s, ' '))) AS BIGINT) AS n_bpe,
                     md5(string_agg(replace(e.s, ' ', chr(1)), chr(1)
                         ORDER BY dw.i)) AS pieces_md5
              FROM dw JOIN w16 e ON dw.w = e.w
              GROUP BY 1
            )
            SELECT d.doc_id,
                   coalesce(p.n_bpe, 0) AS n_bpe,
                   coalesce(p.pieces_md5, md5('')) AS pieces_md5
            FROM documents d LEFT JOIN per_doc p USING (doc_id)
        """,
        "q35_multimodal_curation": """
            -- full arithmetic replay of the composed image pipeline:
            -- class k = doc_id % 4 (ppm/png/gif/junk), color seed
            -- c = (doc_id//4) % 32; dims/means/aHash predicted per
            -- class (dp43's split-image rule; solid images pool to a
            -- uniform thumbnail -> all-zero aHash -> one perceptual
            -- group); then the gate flags and the per-media-type
            -- long-form curation report
            WITH cls AS (
              SELECT doc_id, doc_id % 4 AS k, (doc_id // 4) % 32 AS c
              FROM documents
            ), meta AS (
              SELECT doc_id, k, c,
                CASE WHEN k = 0 THEN 'image/x-portable-pixmap'
                     WHEN k = 1 THEN 'image/png'
                     WHEN k = 2 THEN 'image/gif'
                     ELSE 'application/octet-stream' END AS media_type,
                CASE WHEN k = 0 THEN 8 WHEN k = 1 THEN 4
                     WHEN k = 2 THEN 3 + c % 6 END AS w,
                CASE WHEN k = 0 THEN 8 WHEN k = 1 THEN 6
                     WHEN k = 2 THEN 5 END AS h,
                CASE WHEN k = 0 THEN
                       (((17*c % 256) + (53*c % 256)) / 2.0
                        + ((29*c % 256) + (71*c % 256)) / 2.0
                        + ((41*c % 256) + (89*c % 256)) / 2.0) / 3.0
                     WHEN k = 1 THEN
                       ((11*c % 256) + (23*c % 256) + (37*c % 256)) / 3.0
                     WHEN k = 2 THEN
                       ((19*c % 256) + (31*c % 256) + (43*c % 256)) / 3.0
                     END AS lum,
                CASE WHEN k = 0 THEN
                       CASE WHEN (17*c % 256)+(29*c % 256)+(41*c % 256)
                                 > (53*c % 256)+(71*c % 256)+(89*c % 256)
                            THEN repeat('11110000', 8)
                            WHEN (17*c % 256)+(29*c % 256)+(41*c % 256)
                                 < (53*c % 256)+(71*c % 256)+(89*c % 256)
                            THEN repeat('00001111', 8)
                            ELSE repeat('0', 64) END
                     WHEN k IN (1, 2) THEN repeat('0', 64) END AS ahash
              FROM cls
            ), flags AS (
              SELECT doc_id, media_type,
                     (k = 3) AS undecodable,
                     coalesce(w * h < 24, false) AS too_small,
                     coalesce(lum < 64.0, false) AS too_dark,
                     CASE WHEN ahash IS NULL THEN false
                          ELSE MIN(doc_id) OVER (PARTITION BY ahash)
                               < doc_id END AS is_duplicate
              FROM meta
            ), g AS (
              SELECT media_type, COUNT(*) AS n,
                     SUM(CASE WHEN undecodable THEN 1 ELSE 0 END) AS f0,
                     SUM(CASE WHEN too_small THEN 1 ELSE 0 END) AS f1,
                     SUM(CASE WHEN too_dark THEN 1 ELSE 0 END) AS f2,
                     SUM(CASE WHEN is_duplicate THEN 1 ELSE 0 END) AS f3
              FROM flags GROUP BY media_type
            )
            SELECT media_type, 'undecodable' AS flag,
                   CAST(n AS BIGINT) AS n_rows, CAST(f0 AS BIGINT) AS n_flagged,
                   CAST(f0 AS DOUBLE)/n AS pct_flagged FROM g
            UNION ALL SELECT media_type, 'too_small', CAST(n AS BIGINT),
                   CAST(f1 AS BIGINT), CAST(f1 AS DOUBLE)/n FROM g
            UNION ALL SELECT media_type, 'too_dark', CAST(n AS BIGINT),
                   CAST(f2 AS BIGINT), CAST(f2 AS DOUBLE)/n FROM g
            UNION ALL SELECT media_type, 'is_duplicate', CAST(n AS BIGINT),
                   CAST(f3 AS BIGINT), CAST(f3 AS DOUBLE)/n FROM g
        """,
        "dp160_stream_quantile_prune": """
            -- dp152's histogram/cumulative chain, keep rule instead of
            -- tiers: keep iff (cum - count) < ceil(N * keep_frac) —
            -- i.e. the value is at-or-better than the loosest score
            -- whose at-or-better population reaches the budget
            WITH hist AS (
              SELECT lang, CAST(n_chars AS DOUBLE) AS score,
                     CAST(COUNT(*) AS BIGINT) AS score_count
              FROM documents
              WHERE n_chars IS NOT NULL
                AND NOT isnan(CAST(n_chars AS DOUBLE))
              GROUP BY lang, n_chars
            ), cum AS (
              SELECT lang, score, score_count,
                     CAST(SUM(score_count) OVER (
                       PARTITION BY lang ORDER BY score DESC
                     ) AS BIGINT) AS cum_count,
                     CAST(SUM(score_count) OVER (
                       PARTITION BY lang
                     ) AS BIGINT) AS total_seen
              FROM hist
            )
            SELECT lang, score,
                   (cum_count - score_count) < ceil(total_seen * 0.3)
                     AS keep,
                   score_count, cum_count, total_seen
            FROM cum
        """,
        "dp161_stream_winsorize": """
            -- ascending cumulative histogram; lo/hi = the grid value AT
            -- rank max(1, ceil(q*N)) (min score whose cum covers the
            -- rank); clip = least(greatest(v, lo), hi)
            WITH hist AS (
              SELECT lang, CAST(n_chars AS DOUBLE) AS score,
                     CAST(COUNT(*) AS BIGINT) AS score_count
              FROM documents
              WHERE n_chars IS NOT NULL
                AND NOT isnan(CAST(n_chars AS DOUBLE))
              GROUP BY lang, n_chars
            ), cum AS (
              SELECT lang, score, score_count,
                     CAST(SUM(score_count) OVER (
                       PARTITION BY lang ORDER BY score ASC
                     ) AS BIGINT) AS cum_count,
                     CAST(SUM(score_count) OVER (
                       PARTITION BY lang
                     ) AS BIGINT) AS total_seen
              FROM hist
            ), b AS (
              SELECT lang, score, score_count, cum_count, total_seen,
                     MIN(CASE WHEN cum_count >=
                           greatest(1, ceil(total_seen * 0.1))
                         THEN score END) OVER (PARTITION BY lang) AS lo,
                     MIN(CASE WHEN cum_count >=
                           greatest(1, ceil(total_seen * 0.9))
                         THEN score END) OVER (PARTITION BY lang) AS hi
              FROM cum
            )
            SELECT lang, score,
                   least(greatest(score, lo), hi) AS clipped,
                   lo, hi, score_count, cum_count, total_seen
            FROM b
        """,
        "dp152_streaming_quality_buckets": """
            -- the tier TABLE itself (dp149's rule before the attach
            -- join): histogram over distinct (lang, score), cumulative
            -- best-first, tier = first cumulative budget ceil(c*n)
            -- covering the value; NULL/NaN scores excluded (not grid
            -- values); total_seen = rows carrying a grid value
            WITH hist AS (
              SELECT lang, CAST(n_chars AS DOUBLE) AS score,
                     CAST(COUNT(*) AS BIGINT) AS score_count
              FROM documents
              WHERE n_chars IS NOT NULL
                AND NOT isnan(CAST(n_chars AS DOUBLE))
              GROUP BY lang, n_chars
            ), cum AS (
              SELECT lang, score, score_count,
                     CAST(SUM(score_count) OVER (
                       PARTITION BY lang ORDER BY score DESC
                     ) AS BIGINT) AS cum_count,
                     CAST(SUM(score_count) OVER (
                       PARTITION BY lang
                     ) AS BIGINT) AS total_seen
              FROM hist
            )
            SELECT lang, score,
                   CASE WHEN cum_count <= ceil(total_seen * 0.3) THEN 'head'
                        WHEN cum_count <= ceil(total_seen * 0.6) THEN 'middle'
                        ELSE 'tail' END AS bucket,
                   score_count, cum_count, total_seen
            FROM cum
        """,
        "dp149_quality_buckets": """
            -- histogram over distinct (lang, score), cumulative
            -- best-first, tier = first cumulative budget ceil(c*n) that
            -- covers the value's at-or-better population; ties share a
            -- tier; NULL scores take the last tier
            WITH hist AS (
              SELECT lang, n_chars AS s, COUNT(*) AS c
              FROM documents WHERE n_chars IS NOT NULL
              GROUP BY lang, n_chars
            ), cum AS (
              SELECT lang, s,
                     SUM(c) OVER (PARTITION BY lang ORDER BY s DESC) AS cm,
                     SUM(c) OVER (PARTITION BY lang) AS n
              FROM hist
            ), tiers AS (
              SELECT lang, s,
                     CASE WHEN cm <= ceil(n * 0.3) THEN 'head'
                          WHEN cm <= ceil(n * 0.6) THEN 'middle'
                          ELSE 'tail' END AS bucket
              FROM cum
            )
            SELECT d.doc_id, d.lang, d.n_chars,
                   COALESCE(t.bucket, 'tail') AS bucket
            FROM documents d
            LEFT JOIN tiers t ON d.lang = t.lang AND d.n_chars = t.s
        """,
        "dp148_winnow_cross": (
            "WITH mf AS (" + _duck_winnow_fps("documents", "m_") + "), "
            "rf AS (" + _duck_winnow_fps(
                "(SELECT doc_id, substr(text, 20, 120) AS text "
                "FROM documents WHERE doc_id % 25 = 0)", "r_") + "), "
            """md AS (
              SELECT DISTINCT doc_id AS mid, fp FROM mf
            ), rd AS (
              SELECT DISTINCT doc_id AS rid, fp FROM rf
            ), hot AS (
              SELECT fp FROM (
                SELECT fp FROM md UNION ALL SELECT fp FROM rd
              ) GROUP BY fp HAVING COUNT(*) > 50
            ), mm AS (
              SELECT * FROM md WHERE fp NOT IN (SELECT fp FROM hot)
            ), rr AS (
              SELECT * FROM rd WHERE fp NOT IN (SELECT fp FROM hot)
            )
            SELECT mm.mid AS doc_id, rr.rid AS ref_id,
                   CAST(COUNT(*) AS BIGINT) AS shared_fps
            FROM mm JOIN rr USING (fp)
            GROUP BY mm.mid, rr.rid
            HAVING COUNT(*) >= 3
        """),
        "dp147_paragraph_dedup": r"""
            WITH staged AS (
              SELECT doc_id, lang,
                     substr(text, 1, 50) || chr(10) || 'this boilerplate disclaimer paragraph appears on every page of the site'
                       || chr(10) || substr(text, 51, 100000) AS text
              FROM documents
            ), ps AS (
              SELECT doc_id, lang, string_split_regex(text, '\n') AS parr
              FROM staged
            ), paras0 AS (
              SELECT doc_id, lang,
                     unnest(generate_series(1, len(parr))) AS pos, parr
              FROM ps
            ), paras AS (
              SELECT doc_id, lang, pos, parr[pos] AS p,
                     doc_id * 1000000 + pos AS key
              FROM paras0 WHERE trim(parr[pos]) <> ''
            ), toks AS (
              SELECT key, list_filter(string_split_regex(trim(lower(p)), '\s+'), t -> t <> '') AS w FROM paras
            ), sh AS (
              SELECT key, CASE WHEN len(w) >= 3 THEN list_transform(generate_series(1, len(w)-2), i -> array_to_string(w[i:i+2], ' ')) ELSE [array_to_string(w, ' ')] END AS s FROM toks
            ), bases AS (
              SELECT key, list_distinct(list_transform(
                s, x -> CAST('0x' || substr(md5(x), 1, 15) AS BIGINT) % 2147483647)) AS bs
              FROM sh
            ), sig AS (
              SELECT key, [list_min(list_transform(bs, x -> (1657496063*x + 1357401439) % 2147483647)),
    list_min(list_transform(bs, x -> (821433261*x + 902625397) % 2147483647)),
    list_min(list_transform(bs, x -> (997695499*x + 376332411) % 2147483647)),
    list_min(list_transform(bs, x -> (143048345*x + 822191857) % 2147483647)),
    list_min(list_transform(bs, x -> (771207895*x + 846760279) % 2147483647)),
    list_min(list_transform(bs, x -> (125119557*x + 1626915117) % 2147483647)),
    list_min(list_transform(bs, x -> (1788094051*x + 378692595) % 2147483647)),
    list_min(list_transform(bs, x -> (934987953*x + 198001449) % 2147483647)),
    list_min(list_transform(bs, x -> (1804748463*x + 929385551) % 2147483647)),
    list_min(list_transform(bs, x -> (125550557*x + 609085669) % 2147483647)),
    list_min(list_transform(bs, x -> (2017468347*x + 13917803) % 2147483647)),
    list_min(list_transform(bs, x -> (1089666505*x + 1098460769) % 2147483647))] AS sg FROM bases
            ), bandt AS (
              SELECT key, [md5('0:' || array_to_string(sg[1:3], '|')),
    md5('1:' || array_to_string(sg[4:6], '|')),
    md5('2:' || array_to_string(sg[7:9], '|')),
    md5('3:' || array_to_string(sg[10:12], '|'))] AS bh FROM sig
            ), ex AS (
              SELECT key, unnest(bh) AS h FROM bandt
            ), buckets AS (
              SELECT h, min(key) AS m FROM ex GROUP BY h
            ), dup AS (
              SELECT DISTINCT ex.key FROM ex JOIN buckets b USING (h)
              WHERE ex.key > b.m
            ), flagged AS (
              SELECT paras.*, (dup.key IS NOT NULL) AS is_dup
              FROM paras LEFT JOIN dup USING (key)
            ), per_doc AS (
              SELECT doc_id,
                     CAST(COUNT(*) AS BIGINT) AS n_paragraphs,
                     CAST(SUM(CASE WHEN is_dup THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
                     array_to_string(
                       list(CASE WHEN is_dup THEN NULL ELSE p END ORDER BY pos),
                       chr(10)) AS text_dedup
              FROM flagged GROUP BY doc_id
            )
            SELECT d.doc_id, d.lang,
                   coalesce(pd.n_paragraphs, 0) AS n_paragraphs,
                   coalesce(pd.n_kept, 0) AS n_kept,
                   md5(coalesce(pd.text_dedup, '')) AS dedup_md5
            FROM documents d LEFT JOIN per_doc pd USING (doc_id)
        """,
        "dp146_session_stats": """
            WITH marked AS (
              SELECT user_id, ts,
                     CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                               > INTERVAL 30 MINUTE OR
                          LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                          THEN 1 ELSE 0 END AS new_session
              FROM events WHERE ts IS NOT NULL
            ), sess AS (
              SELECT user_id, ts,
                     SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS session_id
              FROM marked
            )
            SELECT user_id,
                   CAST(epoch_us(CAST(MIN(ts) AS TIMESTAMP)) AS BIGINT) AS start_us,
                   CAST(epoch_us(CAST(MAX(ts) AS TIMESTAMP)) AS BIGINT) AS last_us,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM sess GROUP BY user_id, session_id
        """,
        "dp145_streaming_funnel": """
            WITH t1 AS (SELECT user_id, MIN(ts) AS ts1 FROM events
                        WHERE event_type = 'view' GROUP BY 1),
                 t2 AS (SELECT e.user_id, MIN(e.ts) AS ts2 FROM events e
                        JOIN t1 USING (user_id)
                        WHERE e.event_type = 'click' AND e.ts >= t1.ts1 GROUP BY 1),
                 t3 AS (SELECT e.user_id, MIN(e.ts) AS ts3 FROM events e
                        JOIN t2 USING (user_id)
                        WHERE e.event_type = 'purchase' AND e.ts >= t2.ts2 GROUP BY 1),
                 u AS (SELECT DISTINCT user_id FROM events)
            SELECT u.user_id,
                   CAST(epoch_us(CAST(ts1 AS TIMESTAMP)) AS BIGINT) AS s1_us,
                   CAST(epoch_us(CAST(ts2 AS TIMESTAMP)) AS BIGINT) AS s2_us,
                   CAST(epoch_us(CAST(ts3 AS TIMESTAMP)) AS BIGINT) AS s3_us
            FROM u
            LEFT JOIN t1 USING (user_id)
            LEFT JOIN t2 USING (user_id)
            LEFT JOIN t3 USING (user_id)
        """,
        "dp144_streaming_heavy_hitters": """
            SELECT user_id, item,
                   CAST(c AS BIGINT) AS count_min,
                   CAST(c AS BIGINT) AS count_max,
                   CAST(n AS BIGINT) AS processed
            FROM (
              SELECT user_id, event_type AS item, COUNT(*) AS c,
                     SUM(COUNT(*)) OVER (PARTITION BY user_id) AS n
              FROM events
              WHERE event_type IS NOT NULL
              GROUP BY user_id, event_type
            ) WHERE c * 8 > n
        """,
        "dp143_bottomk_sample": """
            -- rank DISTINCT ids (the stream dedups re-deliveries in
            -- state); total_seen counts raw rows like the stream does;
            -- NULL ids are excluded on both arms (md5(NULL) has no order)
            WITH tot AS (
              SELECT user_id, CAST(COUNT(*) AS BIGINT) AS total_seen
              FROM events WHERE event_id IS NOT NULL GROUP BY user_id
            ), ranked AS (
              SELECT user_id, event_id,
                     CAST(row_number() OVER (
                       PARTITION BY user_id
                       ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
                     ) AS INT) AS sample_rank
              FROM (SELECT DISTINCT user_id, event_id FROM events
                    WHERE event_id IS NOT NULL)
            )
            SELECT r.user_id, r.event_id, r.sample_rank, t.total_seen
            FROM ranked r JOIN tot t USING (user_id)
            WHERE r.sample_rank <= 5
        """,
        "dp142_streaming_pattern": """
            WITH s AS (
              SELECT user_id, ts, event_id,
                     CASE event_type
                       WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                       WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
                       WHEN 'error' THEN 'e' END AS sym
              FROM events
              WHERE ts IS NOT NULL
            ), f AS (
              SELECT * FROM s WHERE sym IS NOT NULL
            ), a AS (
              SELECT user_id,
                     string_agg(sym, '' ORDER BY ts, event_id) AS seq
              FROM f GROUP BY user_id
            )
            SELECT user_id,
                   CAST(len(regexp_extract_all(seq, 'vc*p')) AS INT) AS n_new,
                   CAST(len(regexp_extract_all(seq, 'vc*p')) AS BIGINT) AS n_matches,
                   CAST(length(seq) AS BIGINT) AS seq_len,
                   nullif(regexp_extract(seq, 'vc*p'), '') AS first_match
            FROM a
        """,
        "dp141_winnow_overlap": (
            "WITH fps AS (" + _DUCK_WINNOW_FPS + "), "
            """f0 AS (
              SELECT DISTINCT doc_id, fp FROM fps
            ), f AS (
              -- the query BINDS the boilerplate cap (max_bucket_size=50):
              -- replay it exactly — ubiquitous fingerprints drop pre-pairing
              SELECT doc_id, fp FROM (
                SELECT doc_id, fp, COUNT(*) OVER (PARTITION BY fp) AS bn
                FROM f0
              ) WHERE bn <= 50
            ), p AS (
              SELECT l.doc_id AS doc_a, r.doc_id AS doc_b
              FROM f l JOIN f r ON l.fp = r.fp AND l.doc_id < r.doc_id
            )
            SELECT doc_a, doc_b, COUNT(*) AS shared_fps
            FROM p GROUP BY doc_a, doc_b
            HAVING COUNT(*) >= 20
        """),
        "dp137_ngram_novelty": f"""
            WITH toks AS (
              SELECT doc_id, {_DUCK_TOKENS} AS w FROM documents
              WHERE text IS NOT NULL
            ), g AS (
              SELECT DISTINCT doc_id, md5(gram) AS d
              FROM (SELECT doc_id, unnest({_duck_shingles(8)}) AS gram FROM toks)
            ), f AS (
              SELECT d, COUNT(*) AS dfreq FROM g GROUP BY d
            ), p AS (
              SELECT doc_id,
                     COUNT(*) AS n_distinct_grams,
                     CAST(SUM(CASE WHEN dfreq = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_unique_grams
              FROM g JOIN f USING (d) GROUP BY doc_id
            )
            SELECT doc.doc_id, doc.lang, p.n_distinct_grams, p.n_unique_grams
            FROM documents doc LEFT JOIN p ON doc.doc_id = p.doc_id
        """,
        "dp136_source_divergence": f"""
            WITH toks AS (
              SELECT source AS g, unnest({_DUCK_TOKENS}) AS w FROM documents
            ), sw AS (
              SELECT g, w, COUNT(*) AS c FROM toks GROUP BY g, w
            ), cw AS (
              SELECT w, CAST(SUM(c) AS BIGINT) AS cw FROM sw GROUP BY w
            ), tot AS (
              SELECT CAST(SUM(cw) AS BIGINT) AS n FROM cw
            ), agg AS (
              SELECT g,
                     CAST(SUM(c) AS BIGINT) AS n_tokens,
                     COUNT(*) AS n_distinct_tokens,
                     CAST(SUM(c * (CAST(floor(log10(c)*10000 + 0.5) AS BIGINT)
                                   - CAST(floor(log10(cw)*10000 + 0.5) AS BIGINT))) AS BIGINT) AS s
              FROM sw JOIN cw USING (w) GROUP BY g
            )
            SELECT g AS source, n_tokens, n_distinct_tokens,
                   CAST(s + n_tokens*(CAST(floor(log10(n)*10000 + 0.5) AS BIGINT)
                                      - CAST(floor(log10(n_tokens)*10000 + 0.5) AS BIGINT)) AS DOUBLE)
                     / CAST(n_tokens*10000 AS DOUBLE) AS kl10
            FROM agg CROSS JOIN tot
        """,
        "dp135_event_pattern": """
            WITH s AS (
              SELECT user_id, ts, event_id,
                     CASE event_type
                       WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                       WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
                       WHEN 'error' THEN 'e' END AS sym
              FROM events
              WHERE ts IS NOT NULL
            ), f AS (
              SELECT * FROM s WHERE sym IS NOT NULL
            ), a AS (
              SELECT user_id,
                     string_agg(sym, '' ORDER BY ts, event_id) AS seq
              FROM f GROUP BY user_id
            )
            SELECT user_id, seq,
                   CAST(len(regexp_extract_all(seq, 'vc*p')) AS INT) AS n_matches,
                   nullif(regexp_extract(seq, 'vc*p'), '') AS first_match
            FROM a
        """,
        "dp131_knn_ivf_hier": _duck_knn_ivf_hier(5, 4, 4, 1, 1, 3),
        "dp113_cluster_stats": (
            "WITH asg AS (" + _kmeans_oracle_sql(8, 2) + ") "
            "SELECT cluster, count(*)::BIGINT AS size, "
            "sum(cluster_dist)::BIGINT AS inertia, "
            "round(sum(cluster_dist)::DOUBLE / count(*), 6) AS mean_dist, "
            "max(cluster_dist)::BIGINT AS max_dist "
            "FROM asg GROUP BY cluster"
        ),
        "dp24_vocab_top_k": f"""
            WITH w AS (SELECT unnest({_DUCK_TOKENS}) AS word FROM documents),
            c AS (SELECT word, COUNT(*) AS n FROM w GROUP BY 1),
            r AS (SELECT word, n, ROW_NUMBER() OVER (ORDER BY n DESC, word) AS rank FROM c)
            SELECT word, n, rank::INT AS rank FROM r WHERE rank <= 50
        """,
        "dp25_stratified_sample": """
            WITH b AS (
              SELECT doc_id, lang, source,
                     CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                       % 1000000 AS bk
              FROM documents
            ),
            r AS (
              SELECT doc_id, lang, source,
                     ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY bk, doc_id) AS rn
              FROM b
            )
            SELECT doc_id, lang, source FROM r WHERE rn <= 8
        """,
        "dp26_mixture_sample": """
            SELECT doc_id, lang, source
            FROM documents
            WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                    % 1000000
                  < CASE lang WHEN 'en' THEN 800000
                              WHEN 'de' THEN 500000
                              WHEN 'fr' THEN 250000
                              ELSE 0 END
        """,
        "dp18_sessionize": """
            WITH marked AS (
              SELECT user_id, ts,
                     CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                               > INTERVAL 30 MINUTE OR
                          LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                          THEN 1 ELSE 0 END AS new_session
              FROM events
            ), sess AS (
              SELECT user_id, ts,
                     SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS session_id
              FROM marked
            ), per_session AS (
              SELECT user_id, session_id, COUNT(*) AS n_events, MIN(ts) AS session_start
              FROM sess GROUP BY user_id, session_id
            )
            SELECT user_id,
                   CAST(COUNT(*) AS BIGINT) AS n_sessions,
                   CAST(SUM(n_events) AS BIGINT) AS n_events,
                   CAST(epoch_us(CAST(MAX(session_start) AS TIMESTAMP)) AS BIGINT)
                       AS last_session_start_us
            FROM per_session GROUP BY user_id
        """,
        "dp31_sessionize_boundary": """
            WITH e AS (
              SELECT user_id, ts FROM events
              UNION ALL
              SELECT user_id, ts + INTERVAL 30 MINUTE AS ts FROM events
            ), marked AS (
              SELECT user_id, ts,
                     CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                               > INTERVAL 30 MINUTE OR
                          LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                          THEN 1 ELSE 0 END AS new_session
              FROM e
            ), sess AS (
              SELECT user_id, ts,
                     SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS session_id
              FROM marked
            ), per_session AS (
              SELECT user_id, session_id, COUNT(*) AS n_events, MIN(ts) AS session_start
              FROM sess GROUP BY user_id, session_id
            )
            SELECT user_id,
                   CAST(COUNT(*) AS BIGINT) AS n_sessions,
                   CAST(SUM(n_events) AS BIGINT) AS n_events,
                   CAST(epoch_us(CAST(MAX(session_start) AS TIMESTAMP)) AS BIGINT)
                       AS last_session_start_us
            FROM per_session GROUP BY user_id
        """,
        "q17_gab_weekly_rollup": """
            SELECT strftime(date_trunc('week', o_orderdate), '%Y-%m-%d') AS from_date,
                   strftime(date_trunc('week', o_orderdate) + INTERVAL 6 DAY, '%Y-%m-%d') AS to_date,
                   o_orderpriority AS d1,
                   COUNT(*) AS m1,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS m2
            FROM orders
            WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1995-07-01'
            GROUP BY 1, 2, 3
        """,
        "q18_gab_monthly_rollup": """
            SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS from_date,
                   strftime(last_day(o_orderdate), '%Y-%m-%d') AS to_date,
                   o_orderpriority AS d1,
                   COUNT(*) AS m1,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS m2
            FROM orders
            WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1995-07-01'
            GROUP BY 1, 2, 3
        """,
        "q21_gab_quarterly_rollup": """
            SELECT strftime(date_trunc('quarter', o_orderdate), '%Y-%m-%d') AS from_date,
                   strftime(date_trunc('quarter', o_orderdate + INTERVAL 3 MONTH) - INTERVAL 1 DAY,
                            '%Y-%m-%d') AS to_date,
                   o_orderpriority AS d1,
                   COUNT(*) AS m1,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS m2
            FROM orders
            WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1995-07-01'
            GROUP BY 1, 2, 3
        """,
        "q22_gab_quarter_month_snapshot": """
            WITH cal AS (
              SELECT unnest(generate_series(DATE '1995-01-01', DATE '1995-06-30',
                                            INTERVAL 1 DAY))::DATE AS d
            ), buckets AS (
              SELECT DISTINCT
                     date_trunc('quarter', d)::DATE AS cadence_start_date,
                     LEAST(last_day(d),
                           (date_trunc('quarter', d + INTERVAL 3 MONTH)
                            - INTERVAL 1 DAY)::DATE) AS cadence_end_date
              FROM cal
            )
            SELECT strftime(b.cadence_start_date, '%Y-%m-%d') AS from_date,
                   strftime(b.cadence_end_date, '%Y-%m-%d') AS to_date,
                   o.o_orderpriority AS d1,
                   COUNT(*) AS m1,
                   CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS m2
            FROM orders o
            JOIN buckets b
              ON o.o_orderdate BETWEEN b.cadence_start_date AND b.cadence_end_date
            WHERE o.o_orderdate >= DATE '1995-01-01' AND o.o_orderdate < DATE '1995-07-01'
            GROUP BY 1, 2, 3
        """,
        "dp96_g711_decode": """
            -- G.711 expansion in closed form (integer segment/mantissa
            -- arithmetic; |value| = mag / 32768, exact in binary)
            WITH b AS (
              SELECT doc_id, doc_id % 256 AS byte, doc_id % 2 = 0 AS is_mu
              FROM documents
            ),
            dec AS (
              SELECT doc_id, is_mu,
                     CASE WHEN is_mu THEN 255 - byte
                          ELSE xor(byte, 85) END AS x
              FROM b
            ),
            mag AS (
              SELECT doc_id, is_mu,
                     (x >> 4) & 7 AS e, x & 15 AS mnt,
                     CASE WHEN is_mu
                          THEN (((x & 15) * 8 + 132) << ((x >> 4) & 7)) - 132
                          ELSE CASE WHEN ((x >> 4) & 7) = 0
                                    THEN (x & 15) * 16 + 8
                                    ELSE ((x & 15) * 16 + 264)
                                         << (((x >> 4) & 7) - 1) END
                     END AS m
              FROM dec
            )
            SELECT doc_id,
                   CASE WHEN is_mu THEN 'mulaw' ELSE 'alaw' END AS codec,
                   8000::INT AS sample_rate,
                   CAST(8 AS BIGINT) AS n_samples,
                   m / 32768.0 AS peak
            FROM mag
        """,
        "dp94_running_totals": """
            SELECT user_id,
                   CAST(COUNT(*) AS BIGINT) AS batch_rows,
                   round(SUM(CAST(value AS DOUBLE)), 4) AS total_value,
                   SUM(CAST(value AS DOUBLE)) > 500.0 AS budget_exceeded
            FROM events
            GROUP BY user_id
        """,
        "dp69_bpe_tokenize": f"""
            -- full canonical-BPE replay: 30 UNROLLED training rounds
            -- (weighted pair counts -> argmax with (count DESC, pair ASC)
            -- tie-break -> double-space-padded merge application), then
            -- per-doc piece counts + chr(1)-joined piece streams from the
            -- final per-word symbol strings (the Spark side joins pieces
            -- with the \\x01 separator, so pieces_md5 sees every merge
            -- BOUNDARY — both columns hash every round's pick).
            WITH {_duck_bpe_train(30)},
            dw AS (
              SELECT doc_id,
                     unnest(generate_series(0, len(ws) - 1)) AS i,
                     unnest(ws) AS w
              FROM (SELECT doc_id, {_DUCK_TOKENS_CS} AS ws FROM documents)
              WHERE len(ws) >= 1
            ),
            per_doc AS (
              SELECT dw.doc_id,
                     CAST(SUM(len(str_split(e.s, ' '))) AS BIGINT) AS n_bpe,
                     md5(string_agg(replace(e.s, ' ', chr(1)), chr(1)
                         ORDER BY dw.i)) AS pieces_md5
              FROM dw JOIN w30 e ON dw.w = e.w
              GROUP BY 1
            )
            SELECT d.doc_id,
                   coalesce(p.n_bpe, 0) AS n_bpe,
                   coalesce(p.pieces_md5, md5('')) AS pieces_md5
            FROM documents d LEFT JOIN per_doc p USING (doc_id)
        """,
        "dp69b_bpe_encode": f"""
            -- exact BPE-encode replay with the fixed merge table: per
            -- token, chars+'</w>' double-space-joined, one replace per
            -- merge in rank order (left-to-right non-overlapping ==
            -- the Python scanner), pieces flattened in token order
            WITH toks AS (
              SELECT doc_id, {_DUCK_TOKENS_CS} AS ws FROM documents
            ),
            tw AS (
              SELECT doc_id,
                     unnest(generate_series(1, len(ws))) AS pos,
                     ws
              FROM toks
            ),
            enc AS (
              SELECT doc_id, pos, {_duck_bpe_pieces("ws[pos]")} AS pieces
              FROM tw
            ),
            per_doc AS (
              SELECT doc_id, flatten(list(pieces ORDER BY pos)) AS pieces
              FROM enc GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(len(p.pieces), 0) AS BIGINT) AS n_bpe,
                   md5(array_to_string(coalesce(p.pieces, []), chr(31))) AS pieces_md5
            FROM documents d LEFT JOIN per_doc p USING (doc_id)
        """,
        "dp95_approx_distinct": """
            -- exact HLL replay: md5-fold 60-bit hash, precision 6
            -- (m=64, width=54), register = max rho, harmonic sum as an
            -- exact integer scaled by 2^56, alpha_64 = 0.709,
            -- small-range correction, half-up final rounding
            WITH hashed AS (
              SELECT user_id,
                     CAST('0x' || substr(md5(CAST(CAST(floor(value * 100) AS BIGINT)
                       AS VARCHAR)), 1, 15) AS BIGINT) AS h
              FROM events
              WHERE value IS NOT NULL
            ),
            slots AS (
              SELECT user_id,
                     h % 64 AS idx,
                     CASE WHEN (h // 64) = 0 THEN 55
                          ELSE 54 - length(format('{:b}', h // 64)) + 1
                     END AS rho
              FROM hashed
            ),
            regs AS (
              SELECT user_id, idx, MAX(rho) AS r FROM slots GROUP BY 1, 2
            ),
            summed AS (
              SELECT user_id,
                     SUM(CAST(1 AS HUGEINT) * (CAST(1 AS HUGEINT)
                         << (56 - r))) AS hit_scaled,
                     COUNT(*) AS n_hit
              FROM regs GROUP BY user_id
            ),
            est AS (
              SELECT user_id,
                     (64 - n_hit) AS zeros,
                     0.709 * 64 * 64 /
                       ((hit_scaled + (64 - n_hit)
                         * (CAST(1 AS HUGEINT) << 56))
                        / 72057594037927936.0) AS raw
              FROM summed
            ),
            corrected AS (
              SELECT user_id,
                     CASE WHEN raw <= 160.0 AND zeros > 0
                          THEN 64 * ln(64.0 / zeros)
                          ELSE raw END AS e
              FROM est
            ),
            counts AS (
              SELECT user_id, CAST(COUNT(*) AS BIGINT) AS batch_rows
              FROM events GROUP BY user_id
            )
            SELECT c.user_id, c.batch_rows,
                   CAST(floor(x.e + 0.5) AS BIGINT) AS approx_distinct
            FROM counts c JOIN corrected x USING (user_id)
        """,
        "dp91_lsh_bucket_stats": _minhash_cte(12, 4, 3) + """
            , sizes AS (SELECT h, COUNT(*) AS bucket_size FROM ex GROUP BY h)
            SELECT CAST(bucket_size AS BIGINT) AS bucket_size,
                   CAST(COUNT(*) AS BIGINT) AS n_buckets,
                   CAST(bucket_size * COUNT(*) AS BIGINT) AS n_docs
            FROM sizes GROUP BY bucket_size
        """,
        "dp92_image_resize": """
            SELECT doc_id,
                   'ppm' AS codec,
                   2::INT AS width,
                   3::INT AS height,
                   (doc_id % 256)::DOUBLE AS mean_r,
                   ((7 * doc_id) % 256)::DOUBLE AS mean_g,
                   ((13 * doc_id) % 256)::DOUBLE AS mean_b
            FROM documents
        """,
        "dp93_audio_resample": """
            -- frames = numpy round-half-even of n/2: even n -> n/2;
            -- odd n -> k + (k % 2) where k = n // 2
            WITH base AS (
              SELECT doc_id, 16 + doc_id % 16 AS n FROM documents
            )
            SELECT doc_id,
                   'pcm16' AS codec,
                   4000::INT AS sample_rate,
                   CAST(CASE WHEN n % 2 = 0 THEN n // 2
                             ELSE (n // 2) + ((n // 2) % 2) END AS BIGINT)
                     AS n_samples,
                   (doc_id % 1000) / 32768.0 AS rms,
                   (doc_id % 1000) / 32768.0 AS peak
            FROM base
        """,
        "dp89_sentence_split": """
            WITH staged AS (
              SELECT doc_id,
                     substr(text, 1, 40) || '. ' || substr(text, 41, 40)
                     || '! ' || substr(text, 81, 40) || '? '
                     || substr(text, 121, 60) AS text
              FROM documents
            ), ext AS (
              SELECT doc_id,
                     list_filter(
                       list_transform(
                         regexp_extract_all(
                           regexp_replace(trim(text), '\\s+', ' ', 'g'),
                           '[^.!?]*[.!?]+[)"' || chr(39) || ']*|[^.!?]+$'),
                         s -> trim(s)),
                       s -> strlen(s) >= 2) AS sents
              FROM staged
            )
            SELECT doc_id,
                   unnest(generate_series(0, len(sents) - 1))::BIGINT AS sent_idx,
                   unnest(sents) AS sentence,
                   CAST(strlen(unnest(sents)) AS BIGINT) AS n_chars
            FROM ext
        """,
        "dp90_html_strip": """
            WITH staged AS (
              SELECT doc_id,
                     '<html><head><style>.x{color:red}</style>'
                     || '<script>if(1<2){var y="q";}</script></head><body><h1>'
                     || substr(text, 1, 30)
                     || '</h1><p>' || substr(text, 31, 50)
                     || ' &amp; tail &lt;x&gt;</p><!-- note --></body></html>'
                       AS text
              FROM documents
            )
            SELECT doc_id,
                   trim(regexp_replace(
                     replace(replace(replace(replace(replace(replace(
                       regexp_replace(
                         regexp_replace(
                           regexp_replace(
                             regexp_replace(text,
                               '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                             '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                           '(?s)<!--.*?-->', ' ', 'g'),
                         '(?s)<[^>]+>', ' ', 'g'),
                       '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                       '&quot;', '"'), '&#39;', chr(39)), '&amp;', '&'),
                     '\\s+', ' ', 'g')) AS clean
            FROM staged
        """,
        "dp88_binary_decompress": """
            SELECT doc_id,
                   CAST(strlen(text) AS BIGINT) AS raw_bytes,
                   md5(text) AS raw_md5
            FROM documents
        """,
        "dp87_pagerank": """
            -- exact integer PageRank replay: damping 17/20, 1e12 scale,
            -- floor-division contributions, 5 UNROLLED iterations
            WITH nn AS (SELECT COUNT(*)::BIGINT AS n FROM documents),
            edges AS (
              SELECT doc_id AS src,
                     (doc_id*7 + 13) % (SELECT n FROM nn) AS dst FROM documents
              UNION ALL
              SELECT doc_id, (doc_id*3 + 5) % (SELECT n FROM nn) FROM documents
            ),
            outdeg AS (SELECT src, COUNT(*)::BIGINT AS od FROM edges GROUP BY src),
            nodes AS (
              SELECT DISTINCT node FROM (
                SELECT src AS node FROM edges UNION SELECT dst FROM edges)
            ),
            r0 AS (
              SELECT node,
                     CAST(1000000000000 // (SELECT n FROM nn) AS BIGINT) AS r
              FROM nodes
            ),
            it1 AS (
              SELECT nd.node,
                     CAST((3000000000000 // (20 * (SELECT n FROM nn)))
                       + COALESCE(SUM((r0.r * 17) // (20 * o.od)), 0) AS BIGINT) AS r
              FROM nodes nd
              LEFT JOIN edges e ON e.dst = nd.node
              LEFT JOIN r0 ON r0.node = e.src
              LEFT JOIN outdeg o ON o.src = e.src
              GROUP BY nd.node
            ),
            it2 AS (
              SELECT nd.node,
                     CAST((3000000000000 // (20 * (SELECT n FROM nn)))
                       + COALESCE(SUM((it1.r * 17) // (20 * o.od)), 0) AS BIGINT) AS r
              FROM nodes nd
              LEFT JOIN edges e ON e.dst = nd.node
              LEFT JOIN it1 ON it1.node = e.src
              LEFT JOIN outdeg o ON o.src = e.src
              GROUP BY nd.node
            ),
            it3 AS (
              SELECT nd.node,
                     CAST((3000000000000 // (20 * (SELECT n FROM nn)))
                       + COALESCE(SUM((it2.r * 17) // (20 * o.od)), 0) AS BIGINT) AS r
              FROM nodes nd
              LEFT JOIN edges e ON e.dst = nd.node
              LEFT JOIN it2 ON it2.node = e.src
              LEFT JOIN outdeg o ON o.src = e.src
              GROUP BY nd.node
            ),
            it4 AS (
              SELECT nd.node,
                     CAST((3000000000000 // (20 * (SELECT n FROM nn)))
                       + COALESCE(SUM((it3.r * 17) // (20 * o.od)), 0) AS BIGINT) AS r
              FROM nodes nd
              LEFT JOIN edges e ON e.dst = nd.node
              LEFT JOIN it3 ON it3.node = e.src
              LEFT JOIN outdeg o ON o.src = e.src
              GROUP BY nd.node
            ),
            it5 AS (
              SELECT nd.node,
                     CAST((3000000000000 // (20 * (SELECT n FROM nn)))
                       + COALESCE(SUM((it4.r * 17) // (20 * o.od)), 0) AS BIGINT) AS r
              FROM nodes nd
              LEFT JOIN edges e ON e.dst = nd.node
              LEFT JOIN it4 ON it4.node = e.src
              LEFT JOIN outdeg o ON o.src = e.src
              GROUP BY nd.node
            )
            SELECT node, r AS rank_s, r / 1000000000000.0 AS rank
            FROM it5
        """,
        "dp86_gif_decode": """
            SELECT doc_id,
                   'image/gif' AS media_type,
                   'gif' AS codec,
                   (3 + doc_id % 6)::INT AS width,
                   5::INT AS height,
                   (doc_id % 256)::DOUBLE AS mean_r,
                   ((9 * doc_id) % 256)::DOUBLE AS mean_g,
                   ((17 * doc_id) % 256)::DOUBLE AS mean_b
            FROM documents
        """,
        "dp85_jpeg_decode": """
            -- closed-form YCbCr half-up round-trip of each solid color:
            -- identical double arithmetic to the codec (floor(x+0.5)),
            -- exhaustively verified for all 256 colors in pytest
            WITH src AS (
              SELECT doc_id,
                     CAST(doc_id % 256 AS DOUBLE) AS r,
                     CAST((5 * doc_id) % 256 AS DOUBLE) AS g,
                     CAST((11 * doc_id) % 256 AS DOUBLE) AS b
              FROM documents WHERE doc_id % 10 = 0
            ), ycc AS (
              SELECT doc_id, r, g, b,
                LEAST(GREATEST(floor(0.299*r + 0.587*g + 0.114*b + 0.5), 0), 255) AS y,
                LEAST(GREATEST(floor(-0.168736*r - 0.331264*g + 0.5*b + 128.0 + 0.5), 0), 255) AS cb,
                LEAST(GREATEST(floor(0.5*r - 0.418688*g - 0.081312*b + 128.0 + 0.5), 0), 255) AS cr
              FROM src
            )
            SELECT doc_id,
                   'image/jpeg' AS media_type,
                   'jpeg' AS codec,
                   (8 + 8 * (doc_id % 2))::INT AS width,
                   8::INT AS height,
                   LEAST(GREATEST(floor(y + 1.402*(cr-128) + 0.5), 0), 255)::DOUBLE AS mean_r,
                   LEAST(GREATEST(floor(y - 0.344136*(cb-128) - 0.714136*(cr-128) + 0.5), 0), 255)::DOUBLE AS mean_g,
                   LEAST(GREATEST(floor(y + 1.772*(cb-128) + 0.5), 0), 255)::DOUBLE AS mean_b
            FROM ycc
        """,
        "dp84_png_decode": """
            SELECT doc_id,
                   'image/png' AS media_type,
                   'png' AS codec,
                   (4 + doc_id % 5)::INT AS width,
                   6::INT AS height,
                   (doc_id % 256)::DOUBLE AS mean_r,
                   ((3 * doc_id) % 256)::DOUBLE AS mean_g,
                   ((7 * doc_id) % 256)::DOUBLE AS mean_b
            FROM documents
        """,
        "dp83_bm25_topk": f"""
            -- exact-integer BM25 replay: S(x)=floor(log10(x)*1e4+0.5) over
            -- INTEGER args, avgdl=(2T+D)//(2D), contribution via integer
            -- floor division — identical arithmetic to the Spark operator
            WITH qs(query_id, query) AS (VALUES
              (1, 'hash join strategy'),
              (2, 'window agg stream'),
              (3, 'vector scan filter'),
              (4, 'slow merge sort'),
              (5, 'spark query plan')),
            qterms AS (
              SELECT DISTINCT query_id,
                     unnest(list_filter(string_split_regex(trim(lower(query)),
                       '\\s+'), t -> t <> '')) AS term
              FROM qs
            ),
            qvocab AS (SELECT DISTINCT term FROM qterms),
            toks AS (
              SELECT doc_id, {_DUCK_TOKENS} AS w FROM documents
            ),
            stats AS (
              SELECT CAST(SUM(len(w)) AS BIGINT) AS T,
                     CAST(COUNT(*) AS BIGINT) AS D
              FROM toks
            ),
            pairs AS (
              SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS dl, u.term,
                     CAST(COUNT(*) AS BIGINT) AS tf
              FROM toks t, unnest(t.w) AS u(term)
              WHERE u.term IN (SELECT term FROM qvocab)
              GROUP BY 1, 2, 3
            ),
            dfreq AS (
              SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM pairs GROUP BY 1
            ),
            scoredterm AS (
              SELECT p.doc_id, p.term,
                     (CAST(floor(log10(CAST(2*s.D + 2 AS DOUBLE))*10000 + 0.5) AS BIGINT)
                      - CAST(floor(log10(CAST(2*f.df + 1 AS DOUBLE))*10000 + 0.5) AS BIGINT)
                     ) * 44 * p.tf * ((2*s.T + s.D) // (2*s.D))
                     // (20 * p.tf * ((2*s.T + s.D) // (2*s.D))
                         + 6 * ((2*s.T + s.D) // (2*s.D))
                         + 18 * p.dl) AS c
              FROM pairs p JOIN dfreq f USING (term) CROSS JOIN stats s
            ),
            agg AS (
              SELECT q.query_id, st.doc_id, SUM(st.c) AS s
              FROM scoredterm st JOIN qterms q USING (term)
              GROUP BY 1, 2
            ),
            ranked AS (
              SELECT query_id, doc_id, s,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY s DESC, doc_id ASC) AS doc_rank
              FROM agg
            )
            SELECT query_id, doc_id, s / 10000.0 AS score,
                   CAST(doc_rank AS BIGINT) AS doc_rank
            FROM ranked WHERE doc_rank <= 10
        """,
        "q28_gab_weekly_sunday_rollup": """
            SELECT strftime(date_trunc('week', o_orderdate + INTERVAL 1 DAY)
                            - INTERVAL 1 DAY, '%Y-%m-%d') AS from_date,
                   strftime(date_trunc('week', o_orderdate + INTERVAL 1 DAY)
                            + INTERVAL 5 DAY, '%Y-%m-%d') AS to_date,
                   o_orderpriority AS d1,
                   COUNT(*) AS m1,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS m2
            FROM orders
            WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1995-07-01'
            GROUP BY 1, 2, 3
        """,
        "q26_gab_daily_rollup": """
            SELECT strftime(o_orderdate, '%Y-%m-%d') AS from_date,
                   strftime(o_orderdate, '%Y-%m-%d') AS to_date,
                   o_orderpriority AS d1,
                   COUNT(*) AS m1,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS m2
            FROM orders
            WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1995-03-01'
            GROUP BY 1, 2, 3
        """,
        "q29_gab_day_recon_recompute": """
            -- recon-window recompute replay: initial load without the
            -- late cohort, then February (the MONTH recon window the
            -- window calculator must derive for business date
            -- 1995-02-15 run on 1995-03-05) deleted and re-inserted
            -- from the full data
            WITH initial AS (
              SELECT strftime(o_orderdate, '%Y-%m-%d') AS from_date,
                     strftime(o_orderdate, '%Y-%m-%d') AS to_date,
                     o_orderpriority AS d1,
                     COUNT(*) AS m1,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS m2
              FROM orders
              WHERE o_orderdate >= DATE '1995-01-01'
                AND o_orderdate < DATE '1995-03-01'
                AND o_orderkey % 7 <> 0
              GROUP BY 1, 2, 3
            ),
            recomputed AS (
              SELECT strftime(o_orderdate, '%Y-%m-%d') AS from_date,
                     strftime(o_orderdate, '%Y-%m-%d') AS to_date,
                     o_orderpriority AS d1,
                     COUNT(*) AS m1,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS m2
              FROM orders
              WHERE o_orderdate >= DATE '1995-02-01'
                AND o_orderdate < DATE '1995-03-01'
              GROUP BY 1, 2, 3
            )
            SELECT * FROM initial WHERE from_date < '1995-02-01'
            UNION ALL
            SELECT * FROM recomputed
        """,
        "q27_gab_year_month_snapshot": """
            WITH cal AS (
              SELECT unnest(generate_series(DATE '1995-01-01', DATE '1995-12-31',
                                            INTERVAL 1 DAY))::DATE AS d
            ), buckets AS (
              SELECT DISTINCT
                     date_trunc('year', d)::DATE AS cadence_start_date,
                     LEAST(last_day(d),
                           (date_trunc('year', d + INTERVAL 12 MONTH)
                            - INTERVAL 1 DAY)::DATE) AS cadence_end_date
              FROM cal
            )
            SELECT strftime(b.cadence_start_date, '%Y-%m-%d') AS from_date,
                   strftime(b.cadence_end_date, '%Y-%m-%d') AS to_date,
                   o.o_orderpriority AS d1,
                   COUNT(*) AS m1,
                   CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS m2
            FROM orders o
            JOIN buckets b
              ON o.o_orderdate BETWEEN b.cadence_start_date AND b.cadence_end_date
            WHERE o.o_orderdate >= DATE '1995-01-01' AND o.o_orderdate < DATE '1996-01-01'
            GROUP BY 1, 2, 3
        """,
        "dp50_hopping_window": """
            -- each event lands in window/slide = 4 epoch-aligned hopping
            -- windows: start = time_bucket(slide, ts) - k*slide, k in 0..3
            WITH expanded AS (
              SELECT e.event_type, e.user_id, e.value,
                     time_bucket(INTERVAL 15 MINUTE, CAST(e.ts AS TIMESTAMP))
                       - k.k * INTERVAL 15 MINUTE AS w_start
              FROM events e
              CROSS JOIN (SELECT unnest(range(4)) AS k) k
            )
            SELECT event_type,
                   CAST(epoch_us(w_start) AS BIGINT) AS w_start_us,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
                   CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
            FROM expanded GROUP BY 1, 2
        """,
        "dp51_winsorize": """
            WITH lim AS (
              SELECT event_type,
                     quantile_cont(value, 0.05) AS lo,
                     quantile_cont(value, 0.95) AS hi
              FROM events GROUP BY event_type
            )
            SELECT e.event_type,
                   ROUND(lo, 6) AS lo_r,
                   ROUND(hi, 6) AS hi_r,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN e.value < lo THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_clipped_lo,
                   CAST(SUM(CASE WHEN e.value > hi THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_clipped_hi,
                   ROUND(CAST(SUM(CAST(LEAST(GREATEST(e.value, lo), hi)
                                       AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_wins
            FROM events e JOIN lim USING (event_type)
            GROUP BY 1, 2, 3
        """,
        "dp52_zscore_normalize": """
            WITH stats AS (
              SELECT lang, AVG(n_chars) AS mu, stddev_pop(n_chars) AS sigma
              FROM documents GROUP BY lang
            )
            SELECT d.doc_id, d.lang,
                   ROUND(CASE WHEN sigma IS NULL OR sigma = 0 THEN NULL
                              ELSE (d.n_chars - mu) / sigma END, 4) AS z_r
            FROM documents d JOIN stats USING (lang)
        """,
        "dp53_weighted_sample": """
            SELECT doc_id, lang, n_chars FROM documents
            WHERE CAST('0x' || substr(md5(doc_id::VARCHAR || 'w1'), 1, 15) AS BIGINT)
                  % 1000000
                  < FLOOR(LEAST(GREATEST(n_chars / 2000.0, 0.0), 1.0) * 1000000)
        """,
        "dp54_trailing_window": """
            SELECT event_id, user_id,
                   CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ts_us,
                   CAST(COUNT(*) OVER w AS BIGINT) AS n_24h,
                   CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sum_24h
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts
                         RANGE BETWEEN INTERVAL 24 HOUR PRECEDING AND CURRENT ROW)
        """,
        "dp55_funnel": """
            WITH t1 AS (SELECT user_id, MIN(ts) AS ts1 FROM events
                        WHERE event_type = 'view' GROUP BY 1),
                 t2 AS (SELECT e.user_id, MIN(e.ts) AS ts2 FROM events e
                        JOIN t1 USING (user_id)
                        WHERE e.event_type = 'click' AND e.ts >= t1.ts1 GROUP BY 1),
                 t3 AS (SELECT e.user_id, MIN(e.ts) AS ts3 FROM events e
                        JOIN t2 USING (user_id)
                        WHERE e.event_type = 'purchase' AND e.ts >= t2.ts2 GROUP BY 1),
                 u AS (SELECT DISTINCT user_id FROM events)
            SELECT u.user_id,
                   CAST(epoch_us(CAST(ts1 AS TIMESTAMP)) AS BIGINT) AS s1_us,
                   CAST(epoch_us(CAST(ts2 AS TIMESTAMP)) AS BIGINT) AS s2_us,
                   CAST(epoch_us(CAST(ts3 AS TIMESTAMP)) AS BIGINT) AS s3_us
            FROM u
            LEFT JOIN t1 USING (user_id)
            LEFT JOIN t2 USING (user_id)
            LEFT JOIN t3 USING (user_id)
        """,
        "dp56_cohort_retention": """
            WITH f AS (SELECT user_id,
                              MIN(date_trunc('week', CAST(ts AS TIMESTAMP))::DATE)
                                  AS cohort
                       FROM events GROUP BY 1),
                 a AS (SELECT DISTINCT user_id,
                              date_trunc('week', CAST(ts AS TIMESTAMP))::DATE AS period
                       FROM events)
            SELECT strftime(cohort, '%Y-%m-%d') AS cohort_d,
                   CAST((period - cohort) // 7 AS BIGINT) AS period_offset,
                   CAST(COUNT(*) AS BIGINT) AS n_active
            FROM a JOIN f USING (user_id)
            GROUP BY 1, 2
        """,
        "dp57_robust_scale": """
            WITH med AS (
              SELECT event_type, quantile_cont(value, 0.5) AS m
              FROM events GROUP BY event_type
            ), mad AS (
              SELECT e.event_type, quantile_cont(ABS(e.value - med.m), 0.5) AS d
              FROM events e JOIN med USING (event_type)
              GROUP BY e.event_type
            )
            SELECT e.event_id, e.event_type,
                   ROUND(CASE WHEN d IS NULL OR d = 0 THEN NULL
                              ELSE (e.value - m) / (1.4826 * d) END, 4) AS r_r
            FROM events e JOIN med USING (event_type) JOIN mad USING (event_type)
        """,
        "dp58_quantile_summary": """
            SELECT event_type,
                   CAST(COUNT(value) AS BIGINT) AS n,
                   ROUND(quantile_cont(value, 0.25), 4) AS p25,
                   ROUND(quantile_cont(value, 0.5), 4) AS p50,
                   ROUND(quantile_cont(value, 0.9), 4) AS p90,
                   ROUND(quantile_cont(value, 0.99), 4) AS p99
            FROM events GROUP BY event_type
        """,
        "dp59_event_pivot": """
            SELECT user_id,
                   CAST(COUNT(*) FILTER (event_type = 'view') AS BIGINT) AS view_n,
                   CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT) AS click_n,
                   CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase_n,
                   ROUND(CAST(COALESCE(SUM(CAST(value AS DECIMAL(18,4)))
                         FILTER (event_type = 'purchase'), 0) AS DOUBLE), 4) AS purchase_rev
            FROM events
            GROUP BY user_id
        """,
        "dp60_salted_join": """
            SELECT c.c_mktsegment,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   ROUND(CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE), 4)
                     AS revenue
            FROM events e JOIN customer c ON e.user_id = c.c_custkey
            GROUP BY c.c_mktsegment
        """,
        "dp61_keep_best_dedup": _minhash_cte(12, 4, 3).replace(
            "WITH toks", "WITH RECURSIVE toks"
        )
        + """,
            nodes AS (SELECT DISTINCT doc_id FROM ex),
            reach AS (
              SELECT doc_id, doc_id AS label FROM nodes
              UNION
              SELECT e2.doc_id, r.label
              FROM reach r
              JOIN ex e1 ON e1.doc_id = r.doc_id
              JOIN ex e2 ON e2.h = e1.h
              WHERE r.label < e2.doc_id
            ),
            comp AS (
              SELECT d.doc_id, d.n_chars,
                     COALESCE(c.comp, d.doc_id) AS component_id
              FROM documents d
              LEFT JOIN (SELECT doc_id, MIN(label) AS comp FROM reach
                         GROUP BY doc_id) c USING (doc_id)
            ),
            ranked AS (
              SELECT doc_id, n_chars,
                     ROW_NUMBER() OVER (PARTITION BY component_id
                        ORDER BY n_chars DESC, doc_id ASC) AS rn
              FROM comp
            )
            SELECT doc_id, n_chars FROM ranked WHERE rn = 1
        """,
        "dp62_cluster_sample": _duck_lsh_sig_ctes(6, 1, 64) + """,
            ranked AS (
              SELECT vec_id, sig,
                     ROW_NUMBER() OVER (PARTITION BY sig
                        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn,
                     COUNT(*) OVER (PARTITION BY sig) AS cnt
              FROM sigs
            )
            SELECT e.vec_id, CAST(e.label AS BIGINT) AS label,
                   CAST(r.sig AS BIGINT) AS bucket
            FROM ranked r JOIN embeddings e USING (vec_id)
            WHERE r.rn <= CEIL(SQRT(r.cnt))
        """,
        "dp63_cdc_chunk": f"""
            WITH src AS (
              SELECT doc_id,
                     upper(substr(text, 1, 20)) || substr(text, 21) AS text
              FROM documents
            ),
            t AS (
              SELECT doc_id, {_DUCK_TOKENS_CS} AS w FROM src
            ),
            b AS (
              SELECT doc_id, w, len(w) AS n,
                     list_concat([1], list_filter(
                       list_transform(generate_series(1, len(w)), i ->
                         CASE WHEN i >= 8 AND i < len(w)
                               AND CAST('0x' || substr(md5(
                                     array_to_string(w[i-7:i], ' ')
                                   ), 1, 15) AS BIGINT) % 16 = 0
                         THEN i + 1 END),
                       x -> x IS NOT NULL)) AS starts
              FROM t WHERE len(w) > 0
            ),
            ks AS (
              SELECT doc_id, w, n, starts,
                     unnest(generate_series(1, len(starts))) AS k
              FROM b
            )
            SELECT doc_id,
                   CAST(k - 1 AS BIGINT) AS chunk_idx,
                   CAST((CASE WHEN k < len(starts) THEN starts[k+1] - 1
                              ELSE n END) - starts[k] + 1 AS BIGINT) AS n_toks,
                   md5(array_to_string(
                     w[starts[k]:CASE WHEN k < len(starts) THEN starts[k+1] - 1
                                      ELSE n END], ' ')) AS chunk_md5
            FROM ks
        """,
        "q23_rollup_grouping_sets": """
            SELECT COALESCE(r.r_name, 'ALL') AS region,
                   COALESCE(n.n_name, 'ALL') AS nation,
                   CAST(GROUPING(r.r_name) * 2 + GROUPING(n.n_name) AS BIGINT)
                     AS gid,
                   CAST(COUNT(*) AS BIGINT) AS n_cust,
                   CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
                     AS total_bal
            FROM customer c
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY ROLLUP(r.r_name, n.n_name)
        """,
        "dp64_ewma_anomaly": """
            WITH RECURSIVE series AS (
              SELECT user_id, ts,
                     CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS v
              FROM events GROUP BY user_id, ts
            ),
            seq AS (
              SELECT user_id, ts, v,
                     ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts) AS rn
              FROM series
            ),
            rec AS (
              SELECT user_id, rn, ts, v,
                     v AS ewma, CAST(0 AS DOUBLE) AS ewvar, 1 AS n,
                     CAST(NULL AS DOUBLE) AS z, FALSE AS is_anomaly
              FROM seq WHERE rn = 1
              UNION ALL
              SELECT s.user_id, s.rn, s.ts, s.v,
                     r.ewma + 0.25 * (s.v - r.ewma),
                     0.75 * (r.ewvar + 0.25 * (s.v - r.ewma) * (s.v - r.ewma)),
                     r.n + 1,
                     CASE WHEN r.n >= 5 AND r.ewvar > 0
                          THEN (s.v - r.ewma) / sqrt(r.ewvar) END,
                     CASE WHEN r.n >= 5 AND r.ewvar > 0
                          THEN abs((s.v - r.ewma) / sqrt(r.ewvar)) > 2.5
                          ELSE FALSE END
              FROM rec r JOIN seq s ON s.user_id = r.user_id AND s.rn = r.rn + 1
            )
            SELECT user_id,
                   CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ts_us,
                   ROUND(v, 4) AS v,
                   CAST(FLOOR(ewma * 1e6 + 0.5) AS BIGINT) AS ewma_u,
                   CAST(FLOOR(z * 1e6 + 0.5) AS BIGINT) AS z_u,
                   is_anomaly
            FROM rec
        """,
        "dp65_fuzzy_join": """
            WITH l AS (
              SELECT s_suppkey AS l_id, s_nationkey,
                     substr(s_name, 1, s_suppkey % length(s_name)) ||
                     substr(s_name, (s_suppkey % length(s_name)) + 2) AS name_m
              FROM supplier
            )
            SELECT l.l_id, r.s_suppkey AS r_id,
                   CAST(levenshtein(l.name_m, r.s_name) AS BIGINT) AS distance
            FROM l JOIN supplier r ON l.s_nationkey = r.s_nationkey
            WHERE levenshtein(l.name_m, r.s_name) <= 2
        """,
        "dp66_scd2_build": """
            WITH s AS (
              SELECT user_id, ts, MIN(event_type) AS state
              FROM events GROUP BY user_id, ts
            ),
            c AS (
              SELECT user_id, ts, state,
                     LAG(state) OVER (PARTITION BY user_id ORDER BY ts) AS prev
              FROM s
            ),
            k AS (
              SELECT user_id, ts, state FROM c
              WHERE prev IS NULL OR prev <> state
            )
            SELECT user_id, state,
                   CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS from_us,
                   CAST(epoch_us(CAST(
                     LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   AS TIMESTAMP)) AS BIGINT) AS to_us,
                   (LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL)
                     AS is_current
            FROM k
        """,
        "dp67_merge_intervals": """
            WITH iv AS (
              SELECT user_id, ts AS s,
                     ts + (CAST(FLOOR(value % 30) AS INT) + 1)
                          * INTERVAL 1 MINUTE AS e
              FROM events
            ),
            m AS (
              SELECT user_id, s, e,
                     MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
              FROM iv
            ),
            g AS (
              SELECT user_id, s, e,
                     SUM(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY s, e
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS span
              FROM m
            )
            SELECT user_id,
                   CAST(epoch_us(CAST(MIN(s) AS TIMESTAMP)) AS BIGINT) AS from_us,
                   CAST(epoch_us(CAST(MAX(e) AS TIMESTAMP)) AS BIGINT) AS to_us,
                   CAST(COUNT(*) AS BIGINT) AS n_merged
            FROM g GROUP BY user_id, span
        """,
        "dp68_json_props": """
            SELECT event_type,
                   CAST(COUNT(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS n,
                   CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
                   CAST(MIN(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS min_k,
                   CAST(MAX(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS max_k
            FROM events
            GROUP BY event_type
        """,
        "dp70_video_frames": """
            WITH f AS (
              SELECT doc_id, unnest([0, 1]) AS frame_idx FROM documents
            )
            SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
                   CAST(4 AS BIGINT) AS width, CAST(4 AS BIGINT) AS height,
                   CAST(ROUND((((doc_id * 13 + frame_idx * 29) % 220 + 16)
                         - 16) * 255.0 / 219.0) AS DOUBLE) AS mean_r
            FROM f
        """,
        "q24_semi_anti_join": """
            WITH o AS (
              SELECT * FROM orders
              WHERE o_orderdate >= DATE'1995-01-01'
                AND o_orderdate < DATE'1995-07-01'
            ),
            with_late AS (
              SELECT o_orderpriority, 'has_late' AS kind FROM o
              WHERE EXISTS (SELECT 1 FROM lineitem l
                            WHERE l.l_orderkey = o.o_orderkey
                              AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
            ),
            without_late AS (
              SELECT o_orderpriority, 'none_late' AS kind FROM o
              WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                                WHERE l.l_orderkey = o.o_orderkey
                                  AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
            )
            SELECT o_orderpriority, kind,
                   CAST(COUNT(*) AS BIGINT) AS n_orders
            FROM (SELECT * FROM with_late UNION ALL SELECT * FROM without_late)
            GROUP BY o_orderpriority, kind
        """,
        "dp71_trend_fit": """
            WITH xy AS (
              SELECT user_id,
                     CAST(FLOOR(epoch_us(CAST(ts AS TIMESTAMP)) / 3600000000)
                       - 400000 AS BIGINT) AS x,
                     CAST(FLOOR(value * 100) AS BIGINT) AS y
              FROM events
            ),
            m AS (
              SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
                     CAST(SUM(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
                     CAST(SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS DOUBLE) AS sxy,
                     CAST(SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS DOUBLE) AS sxx,
                     CAST(SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS DOUBLE) AS syy,
                     MIN(x) AS xlo, MAX(x) AS xhi,
                     MIN(y) AS ylo, MAX(y) AS yhi
              FROM xy GROUP BY user_id
            )
            SELECT user_id, n,
                   CAST(FLOOR(CASE WHEN xlo <> xhi AND n*sxx - sx*sx > 0
                        THEN (n*sxy - sx*sy) / (n*sxx - sx*sx) END * 1e9 + 0.5)
                     AS BIGINT) AS slope_p,
                   CAST(FLOOR(CASE WHEN xlo <> xhi AND n*sxx - sx*sx > 0
                        THEN (sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n END
                        * 1e4 + 0.5) AS BIGINT) AS icpt_u,
                   CAST(FLOOR(CASE WHEN xlo <> xhi AND n*sxx - sx*sx > 0 AND ylo <> yhi AND n*syy - sy*sy > 0
                        THEN (n*sxy - sx*sy) * (n*sxy - sx*sy)
                             / ((n*sxx - sx*sx) * (n*syy - sy*sy)) END
                        * 1e8 + 0.5) AS BIGINT) AS r2_u
            FROM m
        """,
        "dp72_histogram": """
            SELECT event_type,
                   CAST(LEAST(11, GREATEST(0,
                        FLOOR((value - 0.0) / (300.0 - 0.0) * 12))) AS BIGINT)
                     AS bucket,
                   ROUND(0.0 + LEAST(11, GREATEST(0,
                        FLOOR((value - 0.0) / (300.0 - 0.0) * 12))) * 25.0, 4)
                     AS lo,
                   ROUND(0.0 + (LEAST(11, GREATEST(0,
                        FLOOR((value - 0.0) / (300.0 - 0.0) * 12))) + 1) * 25.0, 4)
                     AS hi,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events
            WHERE value IS NOT NULL
            GROUP BY 1, 2, 3, 4
        """,
        "dp73_weighted_sample_k": """
            WITH keyed AS (
              SELECT doc_id, lang, n_chars,
                     ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 's1'),
                             1, 15) AS BIGINT) + 1.0)
                        / 1152921504606846976.0)
                     / CAST(n_chars AS DOUBLE) AS k
              FROM documents
              WHERE n_chars IS NOT NULL AND n_chars > 0
            )
            SELECT doc_id, lang, n_chars FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                          ORDER BY k DESC, doc_id ASC) AS rn
              FROM keyed
            ) WHERE rn <= 25
        """,
        "dp74_lexical_diversity": f"""
            WITH w AS (
              SELECT source, unnest({_DUCK_TOKENS}) AS wd FROM documents
            ),
            c AS (SELECT source, wd, COUNT(*) AS c FROM w GROUP BY 1, 2),
            a AS (
              SELECT source,
                     CAST(SUM(c) AS BIGINT) AS n_tokens,
                     CAST(COUNT(*) AS BIGINT) AS n_distinct,
                     CAST(SUM(c * c) AS BIGINT) AS c2
              FROM c GROUP BY source
            )
            SELECT source, n_tokens, n_distinct,
                   ROUND(n_distinct / CAST(n_tokens AS DOUBLE), 6) AS ttr,
                   ROUND(CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE)
                         / CAST(c2 AS DOUBLE), 4) AS inv_simpson
            FROM a
        """,
        "dp75_snapshot_diff": """
            WITH newsnap AS (
              SELECT o_orderkey,
                     CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1
                          ELSE o_totalprice END AS o_totalprice,
                     o_orderstatus
              FROM orders WHERE o_orderkey % 97 <> 0
              UNION ALL
              SELECT o_orderkey + 1000000000, o_totalprice, o_orderstatus
              FROM orders WHERE o_orderkey % 397 = 0
            ),
            classified AS (
              SELECT CASE
                       WHEN o.o_orderkey IS NULL THEN 'added'
                       WHEN n.o_orderkey IS NULL THEN 'removed'
                       WHEN n.o_totalprice IS NOT DISTINCT FROM o.o_totalprice
                        AND n.o_orderstatus IS NOT DISTINCT FROM o.o_orderstatus
                       THEN 'unchanged'
                       ELSE 'changed'
                     END AS status
              FROM newsnap n FULL OUTER JOIN orders o
                ON n.o_orderkey IS NOT DISTINCT FROM o.o_orderkey
            )
            SELECT status, CAST(COUNT(*) AS BIGINT) AS n
            FROM classified GROUP BY status
        """,
        "dp76_schema_drift": """
            WITH o AS (
              SELECT COUNT(*) AS t,
                     COUNT(*) - COUNT(doc_id) AS n_doc_id,
                     COUNT(*) - COUNT(text) AS n_text,
                     COUNT(*) - COUNT(lang) AS n_lang,
                     COUNT(*) - COUNT(source) AS n_source,
                     COUNT(*) - COUNT(n_chars) AS n_n_chars
              FROM documents
            ),
            nw AS (
              SELECT COUNT(*) AS t,
                     COUNT(*) - COUNT(doc_id) AS n_doc_id,
                     COUNT(*) - COUNT(text) AS n_text,
                     COUNT(*) - COUNT(CASE WHEN doc_id % 2 = 0 THEN NULL
                                           ELSE lang END) AS n_lang,
                     COUNT(*) - COUNT(n_chars) AS n_n_chars
              FROM documents
            ),
            pct AS (
              SELECT ROUND(100.0 * o.n_doc_id / o.t, 4) AS o_doc_id,
                     ROUND(100.0 * nw.n_doc_id / nw.t, 4) AS w_doc_id,
                     ROUND(100.0 * o.n_text / o.t, 4) AS o_text,
                     ROUND(100.0 * nw.n_text / nw.t, 4) AS w_text,
                     ROUND(100.0 * o.n_lang / o.t, 4) AS o_lang,
                     ROUND(100.0 * nw.n_lang / nw.t, 4) AS w_lang,
                     ROUND(100.0 * o.n_source / o.t, 4) AS o_source,
                     ROUND(100.0 * o.n_n_chars / o.t, 4) AS o_n_chars,
                     ROUND(100.0 * nw.n_n_chars / nw.t, 4) AS w_n_chars
              FROM o, nw
            )
            SELECT 'doc_id' AS column,
                   CASE WHEN ABS(w_doc_id - o_doc_id) > 5 THEN 'null_drift'
                        ELSE 'ok' END AS status,
                   'bigint' AS old_type, 'bigint' AS new_type,
                   o_doc_id AS old_null_pct, w_doc_id AS new_null_pct FROM pct
            UNION ALL
            SELECT 'extra', 'added', NULL, 'int', NULL, 0.0 FROM pct
            UNION ALL
            SELECT 'lang',
                   CASE WHEN ABS(w_lang - o_lang) > 5 THEN 'null_drift'
                        ELSE 'ok' END,
                   'string', 'string', o_lang, w_lang FROM pct
            UNION ALL
            SELECT 'n_chars', 'type_changed', 'bigint', 'int',
                   o_n_chars, w_n_chars FROM pct
            UNION ALL
            SELECT 'source', 'removed', 'string', NULL, o_source, NULL FROM pct
            UNION ALL
            SELECT 'text',
                   CASE WHEN ABS(w_text - o_text) > 5 THEN 'null_drift'
                        ELSE 'ok' END,
                   'string', 'string', o_text, w_text FROM pct
        """,
        "dp78_event_transitions": """
            WITH seq AS (
              SELECT user_id, ts, MIN(event_type) AS ev
              FROM events GROUP BY user_id, ts
            ),
            lagged AS (
              SELECT user_id, ev,
                     LAG(ev) OVER (PARTITION BY user_id ORDER BY ts) AS prev
              FROM seq
            ),
            pairs AS (
              SELECT prev AS from_event, ev AS to_event,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM lagged WHERE prev IS NOT NULL
              GROUP BY prev, ev
            )
            SELECT from_event, to_event, n,
                   ROUND(n / CAST(SUM(n) OVER (PARTITION BY from_event)
                             AS DOUBLE), 6) AS p
            FROM pairs
        """,
        "q25_scalar_subquery_avg": """
            WITH avgq AS (
              SELECT l_partkey,
                     CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                       / COUNT(*) AS avg_qty
              FROM lineitem GROUP BY l_partkey
            )
            SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
                   ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)))
                         AS DOUBLE) / 7.0, 2) AS avg_yearly
            FROM lineitem l JOIN avgq a ON l.l_partkey = a.l_partkey
            WHERE l.l_quantity < 0.2 * a.avg_qty
        """,
        "dp79_gap_fill": """
            WITH agged AS (
              SELECT user_id, time_bucket(INTERVAL '1 day', ts) AS bucket,
                     CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS v
              FROM events GROUP BY 1, 2
            ),
            spans AS (
              SELECT user_id, MIN(bucket) AS lo, MAX(bucket) AS hi
              FROM agged GROUP BY user_id
            ),
            grid AS (
              SELECT user_id,
                     unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS bucket
              FROM spans
            )
            SELECT g.user_id,
                   CAST(epoch_us(CAST(g.bucket AS TIMESTAMP)) AS BIGINT)
                     AS bucket_us,
                   COALESCE(a.n, 0) AS n,
                   ROUND(COALESCE(a.v, 0), 4) AS v
            FROM grid g LEFT JOIN agged a
              ON g.user_id = a.user_id AND g.bucket = a.bucket
        """,
        "dp80_asof_nearest": """
            WITH clicks AS (
              SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'click'
            ),
            purch AS (
              SELECT user_id, ts, MIN(value) AS value FROM events
              WHERE event_type = 'purchase' GROUP BY user_id, ts
            ),
            pairs AS (
              SELECT c.event_id, c.user_id, c.ts, p.ts AS pts, p.value,
                     CASE WHEN p.ts >= c.ts
                          THEN epoch_us(CAST(p.ts AS TIMESTAMP))
                               - epoch_us(CAST(c.ts AS TIMESTAMP))
                          ELSE epoch_us(CAST(c.ts AS TIMESTAMP))
                               - epoch_us(CAST(p.ts AS TIMESTAMP)) END AS gap
              FROM clicks c JOIN purch p USING (user_id)
            ),
            best AS (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id
                        ORDER BY gap ASC, pts ASC) AS rn
              FROM pairs
            )
            SELECT c.event_id, c.user_id,
                   CAST(epoch_us(CAST(c.ts AS TIMESTAMP)) AS BIGINT)
                     AS click_us,
                   CAST(epoch_us(CAST(b.pts AS TIMESTAMP)) AS BIGINT)
                     AS near_us,
                   ROUND(b.value, 6) AS near_value
            FROM clicks c LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
              ON c.event_id = b.event_id
        """,
        "dp81_text_clean": r"""
            WITH dirty AS (
              SELECT doc_id,
                     text || chr(8203) || 'x' || chr(7) || chr(13) || chr(10)
                          || chr(10) || chr(10) || chr(10)
                          || 'tail   end' || chr(1) AS t
              FROM documents
            ),
            cleaned AS (
              SELECT doc_id,
                regexp_replace(
                  regexp_replace(
                    regexp_replace(
                      regexp_replace(
                        regexp_replace(t,
                          '[\x{200b}\x{200c}\x{200d}\x{2060}\x{feff}]', '', 'g'),
                        '\r\n?', e'\n', 'g'),
                      '[\x{01}-\x{08}\x{0b}\x{0c}\x{0e}-\x{1f}\x{7f}-\x{9f}]',
                      '', 'g'),
                    e'\n{3,}', e'\n\n', 'g'),
                  e'[ \t]{2,}', ' ', 'g') AS t
              FROM dirty
            )
            SELECT doc_id, md5(t) AS clean_md5 FROM cleaned
        """,
        "dp82_url_normalize": """
            SELECT doc_id,
                   'http://example' || CAST(doc_id % 50 AS VARCHAR)
                   || '.com/p/' || CAST(doc_id % 20 AS VARCHAR)
                   || '?a=1&b=2' AS url_norm
            FROM documents
        """,
    }
    # dp77 composes dp01's feature SQL verbatim, then applies the SAME
    # left-associated linear form + sigmoid the Spark side builds
    oracles["dp77_quality_model_filter"] = f"""
        WITH f AS ({oracles['dp01_text_quality']})
        SELECT doc_id,
               CAST(FLOOR((1.0 / (1.0 + exp(-(-1.0 + 3.0 * quality_score
                    + 1.5 * stopword_ratio + -4.0 * punct_ratio
                    + 0.1 * mean_word_len)))) * 1e6 + 0.5) AS BIGINT)
                 AS score_u
        FROM f
    """
    return oracles


if __name__ == "__main__":
    from lakehouse_engine_spark.core.exec_env import ExecEnv

    spark = ExecEnv.get_or_create()
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    df = entry(spark)
    df.show(10, truncate=False)
    print("queries:", len(queries()), "oracles:", len(oracle_sql()))
