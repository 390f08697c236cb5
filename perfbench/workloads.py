"""The three ACON workloads: fixtures, one op each, and the output check.

A workload is driven in a closed loop by ``run.py``: ``prepare(i)`` makes
op ``i``'s input (untimed), ``op(i)`` runs it through the engine's public
API (timed), ``check(i, written)`` compares the engine's output with a
DuckDB replay (untimed); ``written`` lists the sink files the op created
or rewrote. Only generated files under the work directory are read.
"""

from __future__ import annotations

import math
import os
import shutil

import duckdb
import pyarrow as pa

import gen

DB = "bench"


def dir_files(paths) -> dict:
    """``{file: (size, mtime_ns)}`` under each path; missing paths are empty."""
    out = {}
    for root in paths:
        for base, _, names in os.walk(root):
            for n in names:
                p = os.path.join(base, n)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written_files(before: dict, after: dict) -> dict:
    """``{file: size}`` of files created or rewritten between two ``dir_files``
    snapshots."""
    return {p: v[0] for p, v in after.items() if before.get(p) != v}


def _norm(v):
    if isinstance(v, float):
        return None if math.isnan(v) else round(v, 6)
    return v


def same_rows(got, want) -> bool:
    """Order-insensitive, duplicate-sensitive equality with floats at 1e-6."""
    def key(rows):
        return sorted((tuple(_norm(v) for v in r) for r in rows), key=repr)

    return key(got) == key(want)


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.extra = {}  # per-op counters the check measures, copied into the sample
        self.warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        self.duck = duckdb.connect()
        # checks and replays run between ops, when Spark is idle
        self.duck.execute(f"SET threads TO {os.cpu_count() or 1}")

    def prepare(self, i: int):
        """Make op ``i``'s input; returns its ``(rows, bytes)``.

        Cached frames of earlier ops are dropped first, as a scheduler
        starts each load without them.
        """
        self.spark.catalog.clearCache()
        return self.make_input(i)

    def op(self, i: int) -> None:
        from lakehouse_engine_spark import load_data

        load_data(self.acon())

    def close(self) -> None:
        self.duck.close()


# ---------------------------------------------------------------- cdc_merge


class CdcMerge(Workload):
    """Condense a CDC batch, DQ it in motion, merge it into a catalog table."""

    name = "cdc_merge"
    table = f"{DB}.lineitem_silver"

    def setup(self) -> None:
        target = gen.target_table(self.seed)
        path = os.path.join(self.work, "in", "target.parquet")
        gen.write_parquet(target, path)
        # a managed table whose one file is the generated one, placed in its
        # directory rather than copied by a Spark job
        self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {DB}")
        self.spark.catalog.createTable(
            self.table, source="parquet", schema=self.spark.read.parquet(path).schema
        )
        self.table_dir = os.path.join(self.warehouse, f"{DB}.db", "lineitem_silver")
        os.makedirs(self.table_dir, exist_ok=True)
        shutil.copyfile(path, os.path.join(self.table_dir, "part-00000-target.parquet"))
        self.spark.catalog.refreshTable(self.table)
        self.dq_dir = os.path.join(self.work, "out", "dq")
        self.stream = gen.CdcStream(self.seed, target["li_key"].to_numpy())
        self.duck.execute(f"CREATE TABLE expected AS SELECT * FROM read_parquet('{path}')")

    def sinks(self) -> list:
        return [self.table_dir, self.dq_dir]

    def make_input(self, i: int):
        batch = self.stream.next_batch()
        self.batch_path = os.path.join(self.work, "in", f"cdc_{i:05d}.parquet")
        size = gen.write_parquet(batch, self.batch_path)
        self.replay()
        return batch.num_rows, size

    def replay(self) -> None:
        """Apply the condensed batch to the expected table. Every prepared
        batch is replayed, so an op that raised does not shift the
        expectations of the ops after it."""
        d = self.duck
        d.execute(
            f"""
            CREATE OR REPLACE TEMP TABLE condensed AS
            SELECT * EXCLUDE (rn) FROM (
              SELECT *, row_number() OVER (PARTITION BY li_key ORDER BY change_seq DESC) AS rn
              FROM read_parquet('{self.batch_path}'))
            WHERE rn = 1 AND recordmode IN ('', 'N', 'D')
            """
        )
        d.execute("DELETE FROM expected WHERE li_key IN (SELECT li_key FROM condensed)")
        d.execute(
            "INSERT INTO expected SELECT * EXCLUDE (recordmode) FROM condensed "
            "WHERE recordmode <> 'D'"
        )
        self.extra = {"rows_changed": d.execute("SELECT count(*) FROM condensed").fetchone()[0]}

    def acon(self) -> dict:
        return {
            "input_specs": [
                {"spec_id": "cdc", "data_format": "parquet", "location": self.batch_path}
            ],
            "transform_specs": [
                {
                    "spec_id": "condensed",
                    "input_id": "cdc",
                    "transformers": [
                        {
                            "function": "condense_record_mode_cdc",
                            "args": {
                                "business_key": ["li_key"],
                                "ranking_key_desc": ["change_seq"],
                                "record_mode_col": "recordmode",
                                "valid_record_modes": ["", "N", "D"],
                            },
                        }
                    ],
                }
            ],
            "dq_specs": [
                {
                    "spec_id": "checked",
                    "input_id": "condensed",
                    "dq_type": "validator",
                    "store_backend": "file_system",
                    "local_fs_root_dir": self.dq_dir,
                    "dq_functions": [
                        {"function": "expect_column_values_to_not_be_null",
                         "args": {"column": "li_key"}},
                        {"function": "expect_column_values_to_be_between",
                         "args": {"column": "l_quantity", "min_value": 1, "max_value": 50}},
                        {"function": "expect_column_values_to_be_in_set",
                         "args": {"column": "recordmode", "value_set": ["", "N", "D"]}},
                        {"function": "expect_column_values_to_be_unique",
                         "args": {"column": "li_key"}},
                    ],
                }
            ],
            "output_specs": [
                {
                    "spec_id": "silver",
                    "input_id": "checked",
                    "write_type": "merge",
                    "data_format": "delta",
                    "db_table": self.table,
                    "merge_opts": {
                        "merge_predicate": "current.li_key = new.li_key",
                        "update_predicate": "new.change_seq > current.change_seq",
                        "delete_predicate": "new.recordmode = 'D'",
                        "insert_predicate": "new.recordmode <> 'D'",
                    },
                }
            ],
            "terminate_specs": [
                {"function": "optimize_dataset",
                 "args": {"db_table": self.table, "vacuum": False}}
            ],
        }

    def check(self, i: int, written) -> bool:
        """The target equals the replay; also counts the rows of the target
        files the merge wrote."""
        d = self.duck
        files = [p for p in written
                 if p.startswith(self.table_dir + os.sep) and p.endswith(".parquet")]
        self.extra["rows_rewritten"] = (
            d.execute("SELECT count(*) FROM read_parquet(?)", [files]).fetchone()[0]
            if files else 0
        )
        got = f"read_parquet('{self.table_dir}/*.parquet')"
        diff = d.execute(
            f"""
            SELECT (SELECT count(*) FROM (SELECT * FROM expected EXCEPT ALL
                                          SELECT * FROM {got}))
                 + (SELECT count(*) FROM (SELECT * FROM {got} EXCEPT ALL
                                          SELECT * FROM expected))
            """
        ).fetchone()[0]
        return diff == 0


# ------------------------------------------------------------ curation_acon


class CurationAcon(Workload):
    """q31 curation chain and q32 tokenize chain, each to a parquet sink."""

    name = "curation_acon"

    def setup(self) -> None:
        import __spark_entry__ as entry

        self.entry = entry
        self.out = {k: os.path.join(self.work, "out", k) for k in ("curated", "packed")}
        self.merges = self.spark.createDataFrame(
            [(i, a, b, a + b) for i, (a, b) in enumerate(entry.BPE_FIXED_MERGES)],
            "rank INT, left STRING, right STRING, merged STRING",
        )
        oracles = entry.oracle_sql()
        self.oracle = {k: oracles[k] for k in ("q31_curation_pipeline", "q32_tokenize_pipeline")}

    def sinks(self) -> list:
        return list(self.out.values())

    def make_input(self, i: int):
        table = gen.corpus_table(self.seed, i)
        self.docs_path = os.path.join(self.work, "in", f"documents_{i:05d}.parquet")
        return table.num_rows, gen.write_parquet(table, self.docs_path)

    def acon(self) -> dict:
        e = self.entry
        staged_text = (
            "concat(substring(text, 1, 60), chr(10), "
            f"'{e._Q31_FOOTER}', chr(10), substring(text, 61, 100000))"
        )
        return {
            "input_specs": [
                {"spec_id": "docs", "data_format": "parquet", "location": self.docs_path}
            ],
            "transform_specs": [
                {
                    "spec_id": "bench",
                    "input_id": "docs",
                    "transformers": [
                        {"function": "expression_filter", "args": {"exp": "doc_id % 50 = 0"}}
                    ],
                },
                {
                    "spec_id": "curated",
                    "input_id": "docs",
                    "transformers": [
                        {"function": "with_expressions",
                         "args": {"cols_and_exprs": {"text": staged_text}}},
                        {"function": "text_gopher_rules",
                         "args": {"min_words": 30, "stopwords": e._Q31_STOPWORDS,
                                  "min_stopword_hits": 2}},
                        {"function": "expression_filter", "args": {"exp": "gopher_keep"}},
                        {"function": "text_line_dedup", "args": {}},
                        {"function": "persist", "args": {}},
                        {"function": "dedup_minhash_lsh",
                         "args": {"text_col": "text_deduped", "num_hashes": 12,
                                  "bands": 4, "shingle_size": 3}},
                        {"function": "persist", "args": {}},
                        {"function": "text_decontaminate_with",
                         "args": {"benchmark_with": "bench", "input_col": "text_deduped",
                                  "ngram": 8, "mode": "drop"}},
                        {"function": "mixture_plan",
                         "args": {"group_col": "lang",
                                  "weights": {"en": 50, "de": 30, "fr": 15, "xx": 5},
                                  "budget_tokens": 1_000_000, "token_col": "n_chars",
                                  "max_epochs_ppm": 2_000_000}},
                    ],
                },
                {
                    "spec_id": "packed",
                    "input_id": "docs",
                    "transformers": [
                        {"function": "text_langid", "args": {}},
                        {"function": "expression_filter", "args": {"exp": "lang_pred = 'en'"}},
                        {"function": "bpe_encode", "args": {"merges": self.merges}},
                        {"function": "pack_sequences",
                         "args": {"token_col": "bpe_tokens_n", "id_col": "doc_id",
                                  "budget": 512, "shards": 8}},
                    ],
                },
            ],
            "output_specs": [
                {"spec_id": f"{k}_sink", "input_id": k, "write_type": "overwrite",
                 "data_format": "parquet", "location": path}
                for k, path in self.out.items()
            ],
        }

    def check(self, i: int, written) -> bool:
        d = self.duck
        d.execute(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM read_parquet('{self.docs_path}')")
        curated = d.execute(
            "SELECT lang, parts, available, desired_tokens, plan_tokens, capped, "
            "sample_rate_ppm, epochs_ppm, shortfall_tokens "
            f"FROM read_parquet('{self.out['curated']}/*.parquet')"
        ).fetchall()
        packed = d.execute(
            "SELECT CAST(pack_shard AS BIGINT), CAST(pack_id AS BIGINT), "
            "CAST(count(*) AS BIGINT), CAST(sum(bpe_tokens_n) AS BIGINT), min(doc_id) "
            f"FROM read_parquet('{self.out['packed']}/*.parquet') GROUP BY 1, 2"
        ).fetchall()
        return (
            bool(curated) and bool(packed)
            and same_rows(curated, d.execute(self.oracle["q31_curation_pipeline"]).fetchall())
            and same_rows(packed, d.execute(self.oracle["q32_tokenize_pipeline"]).fetchall())
        )


# ----------------------------------------------------------------- gold_gab

STAGE_SQL = """
SELECT
    {{ to_date }} AS to_date,
    {{ project_date_column }} AS order_date,
    o_orderpriority,
    COUNT(*) AS orders,
    SUM(o_totalprice) AS total_price
FROM {{ database }}.gab_orders {{ joins }}
WHERE {{ filter_date_column }} >= '{{ start_date }}'
  AND {{ filter_date_column }} < '{{ end_date }}'
GROUP BY ALL
"""

CADENCES = ("DAY", "WEEK", "MONTH", "QUARTER", "YEAR")
# GAB computes a cadence only when it concludes at the end date. A window
# ends on Dec 31, so WEEK would run only in years whose Dec 31 is a Sunday;
# reconciling WEEK at MONTH end makes every refresh recompute the weeks of
# its year
RECON_WINDOW = {c: {} for c in CADENCES} | {
    "WEEK": {"recon_window": {"MONTH": {"snapshot": "N"}}}
}


class GoldGab(Workload):
    """One gold refresh: GAB over a year, reconciliation, DQ on the insights."""

    name = "gold_gab"
    orders = f"{DB}.gab_orders"
    insights = f"{DB}.gab_insights"

    def setup(self) -> None:
        table = gen.orders_table(self.seed)
        path = os.path.join(self.work, "in", "gab_orders", "orders.parquet")
        self.orders_bytes = gen.write_parquet(table, path)
        self.orders_rows = table.num_rows
        self.gab_dir = os.path.join(self.work, "gab")
        os.makedirs(self.gab_dir, exist_ok=True)
        with open(os.path.join(self.gab_dir, "1_orders.sql"), "w") as f:
            f.write(STAGE_SQL)
        mappings = {
            "vw_orders_kpi": {
                "dimensions": {"from_date": "order_date", "to_date": "to_date",
                               "d1": "o_orderpriority"},
                "metric": {
                    "m1": {"metric_name": "orders", "calculated_metric": {},
                           "derived_metric": {}},
                    "m2": {"metric_name": "total_price", "calculated_metric": {},
                           "derived_metric": [{"label": "discounted_total",
                                               "formula": "total_price * 0.9"}]},
                },
                "filter": {},
            }
        }
        stages = {"1": {"file_path": "1_orders.sql", "table_alias": "orders_kpi",
                        "storage_level": "", "project_date_column": "o_orderdate",
                        "filter_date_column": "o_orderdate", "repartition": {}}}
        lookup = pa.table({
            "query_id": ["9001"], "query_label": ["orders_kpi"], "query_type": ["GLOBAL"],
            "mappings": [str(mappings)], "intermediate_stages": [str(stages)],
            "recon_window": [str(RECON_WINDOW)], "timezone_offset": pa.array([0], pa.int32()),
            "start_of_the_week": ["MONDAY"], "is_active": ["Y"], "queue": ["Low"],
        })
        lookup_path = os.path.join(self.work, "in", "lkp_query_builder", "lookup.parquet")
        gen.write_parquet(lookup, lookup_path)
        # both tables are only read: register the generated files in place
        # rather than have Spark copy them
        self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {DB}")
        for name, p in ((self.orders, path), (f"{DB}.lkp_query_builder", lookup_path)):
            self.spark.sql(f"CREATE TABLE {name} USING parquet LOCATION '{os.path.dirname(p)}'")
        self.insights_dir = os.path.join(self.warehouse, f"{DB}.db", "gab_insights")
        self.dq_sink = os.path.join(self.work, "out", "dq_insights")
        self.years = gen.gab_windows(self.seed)
        self.duck.execute(f"CREATE TABLE orders AS SELECT * FROM read_parquet('{path}')")

    def sinks(self) -> list:
        return [self.insights_dir, self.dq_sink]

    def make_input(self, i: int):
        self.year = self.years[i % len(self.years)]
        return self.orders_rows, self.orders_bytes

    def op(self, i: int) -> None:
        from lakehouse_engine_spark import (
            execute_dq_validation,
            execute_gab,
            execute_reconciliation,
        )

        y = self.year
        execute_gab({
            "query_label_filter": ["orders_kpi"],
            "queue_filter": ["Low"],
            "cadence_filter": list(CADENCES),
            "target_database": DB,
            "source_database": DB,
            "start_date": f"{y}-01-01",
            "end_date": f"{y}-12-31",
            "current_date": "2026-01-01",
            "rerun_flag": "Y",
            "target_table": "gab_insights",
            "gab_base_path": self.gab_dir,
            "lookup_table": f"{DB}.lkp_query_builder",
        })
        execute_reconciliation({
            "truth_input_spec": {
                "spec_id": "truth", "data_format": "sql",
                "query": "SELECT o_orderpriority, CAST(count(*) AS DOUBLE) AS orders, "
                         f"sum(o_totalprice) AS total_price FROM {self.orders} "
                         f"WHERE year(o_orderdate) = {y} GROUP BY 1",
            },
            "current_input_spec": {
                "spec_id": "current", "data_format": "sql",
                "query": "SELECT o_orderpriority, sum(orders) AS orders, "
                         f"sum(total_price) AS total_price FROM {DB}.vw_orders_kpi "
                         f"WHERE cadence = 'MONTH' AND year(order_date) = {y} GROUP BY 1",
            },
            "metrics": [
                {"metric": "orders", "type": "absolute", "aggregation": "max",
                 "yellow": 0.5, "red": 1.0},
                {"metric": "total_price", "type": "percentage", "aggregation": "max",
                 "yellow": 1e-9, "red": 1e-6},
            ],
        })
        execute_dq_validation({
            "input_spec": {"spec_id": "insights", "db_table": self.insights},
            "dq_spec": {
                "spec_id": "insights_dq",
                "input_id": "insights",
                "result_sink_location": self.dq_sink,
                "result_sink_format": "parquet",
                "dq_functions": [
                    {"function": "expect_column_values_to_not_be_null",
                     "args": {"column": "from_date"}},
                    {"function": "expect_column_values_to_be_in_set",
                     "args": {"column": "cadence", "value_set": list(CADENCES)}},
                    {"function": "expect_column_pair_a_to_be_smaller_or_equal_than_b",
                     "args": {"column_A": "from_date", "column_B": "to_date"}},
                    {"function": "expect_column_values_to_be_between",
                     "args": {"column": "m1", "min_value": 1, "max_value": 1e9}},
                ],
            },
        })

    def check(self, i: int, written) -> bool:
        """Every insights bucket equals the aggregate of its date range, and
        the buckets of every cadence that overlap this op's year are exactly
        the (bucket, priority) pairs with orders in them."""
        d = self.duck
        d.execute(
            "CREATE OR REPLACE TEMP TABLE got AS SELECT cadence, from_date, to_date, d1, m1, m2 "
            f"FROM read_parquet('{self.insights_dir}/*.parquet') WHERE query_id = '9001'"
        )
        bad = d.execute(
            """
            SELECT count(*) FROM got g LEFT JOIN LATERAL (
              SELECT count(*) AS n, sum(o_totalprice) AS s FROM orders o
              WHERE o.o_orderdate BETWEEN g.from_date AND g.to_date
                AND o.o_orderpriority = g.d1) w ON true
            WHERE g.m1 <> w.n OR abs(g.m2 - w.s) > 1e-6 * greatest(abs(w.s), 1)
            """
        ).fetchone()[0]
        dup = d.execute(
            "SELECT count(*) FROM (SELECT cadence, from_date, d1 FROM got "
            "GROUP BY ALL HAVING count(*) > 1)"
        ).fetchone()[0]
        y = self.year
        for cad in CADENCES:
            # a WEEK refresh covers whole ISO weeks, so its range can pass
            # the calendar year at both ends
            t = cad.lower()
            lo = f"date_trunc('{t}', DATE '{y}-01-01')"
            hi = f"date_trunc('{t}', DATE '{y}-12-31') + INTERVAL 1 {t}"
            want = d.execute(
                f"SELECT count(DISTINCT (date_trunc('{t}', o_orderdate), o_orderpriority)) "
                f"FROM orders WHERE o_orderdate >= {lo} AND o_orderdate < {hi}"
            ).fetchone()[0]
            have = d.execute(
                f"SELECT count(*) FROM got WHERE cadence = '{cad}' "
                f"AND from_date >= {lo} AND from_date < {hi}"
            ).fetchone()[0]
            if want != have:
                return False
        return bad == 0 and dup == 0


WORKLOADS = {w.name: w for w in (CdcMerge, CurationAcon, GoldGab)}
