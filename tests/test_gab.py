"""GAB feature tests — lookup-config-driven cadence rollup over orders.

Models the reference's GAB golden test pattern
(``tests/feature/test_gab.py`` + ``tests/resources/feature/gab/`` there):
a lookup config row + a staged SQL template, executed through the public
``execute_gab`` API, verified against a duckdb oracle on the same parquet.
"""

from __future__ import annotations

import datetime as dt
import os
from types import SimpleNamespace

import duckdb
import pytest
from pyspark.sql import functions as F

from lakehouse_engine_spark import execute_gab
from lakehouse_engine_spark.algorithms.gab import GAB
from lakehouse_engine_spark.core.exec_env import ExecEnv
from lakehouse_engine_spark.io.merge_writer import replace_where
from lakehouse_engine_spark.utils.gab_utils import (
    cadence_configuration_at_end_date,
    cadence_end,
    cadence_start,
    extended_window_calculator,
    render_template,
)

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

MAPPINGS = {
    "vw_orders_kpi": {
        "dimensions": {
            "from_date": "order_date",
            "to_date": "to_date",
            "d1": "o_orderpriority",
        },
        "metric": {
            "m1": {"metric_name": "orders", "calculated_metric": {}, "derived_metric": {}},
            "m2": {
                "metric_name": "total_price",
                "calculated_metric": {},
                "derived_metric": [
                    {"label": "discounted_total", "formula": "total_price * 0.9"}
                ],
            },
        },
        "filter": {},
    }
}


LOOKUP_DDL = (
    "query_id string, query_label string, query_type string, mappings string, "
    "intermediate_stages string, recon_window string, timezone_offset int, "
    "start_of_the_week string, is_active string, queue string"
)

# a stage that also reads the insights table it feeds
BARRIER_SQL = """
SELECT
    {{ to_date }} AS to_date,
    {{ project_date_column }} AS order_date,
    o_orderpriority,
    COUNT(*) AS orders,
    MAX(seen.n) AS total_price
FROM {{ database }}.gab_orders {{ joins }}
CROSS JOIN (SELECT CAST(count(*) AS DOUBLE) AS n FROM {{ database }}.{{ target_table }}) seen
WHERE {{ filter_date_column }} >= '{{ start_date }}'
  AND {{ filter_date_column }} < '{{ end_date }}'
GROUP BY ALL
"""

# the same stage reading the insights table through a view over it
VIEW_BARRIER_SQL = BARRIER_SQL.replace("{{ target_table }}", "seen_{{ target_table }}")

CADENCES = ["DAY", "WEEK", "MONTH", "QUARTER", "YEAR"]


def _lookup_row(query_id, label, recon, stage_file="1_orders.sql", storage_level=""):
    stages = {
        "1": {
            "file_path": stage_file,
            "table_alias": label,
            "storage_level": storage_level,
            "project_date_column": "o_orderdate",
            "filter_date_column": "o_orderdate",
            "repartition": {},
        }
    }
    return (
        query_id, label, "GLOBAL", str(MAPPINGS), str(stages), str(recon),
        0, "MONDAY", "Y", "Low",
    )


@pytest.fixture(scope="module")
def gab_env(spark, sf_dir, tmp_path_factory):
    base = tmp_path_factory.mktemp("gab")
    (base / "1_orders.sql").write_text(STAGE_SQL)
    (base / "2_barrier.sql").write_text(BARRIER_SQL)
    (base / "3_view_barrier.sql").write_text(VIEW_BARRIER_SQL)
    spark.sql("CREATE DATABASE IF NOT EXISTS gab_db")
    spark.sql("CREATE DATABASE IF NOT EXISTS gab_par_db")
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    orders.write.mode("overwrite").saveAsTable("gab_db.gab_orders")

    lookup = spark.createDataFrame(
        [
            _lookup_row("9001", "orders_kpi", {"MONTH": {}, "WEEK": {}}),
            _lookup_row(
                "9002", "orders_day_recon",
                {"DAY": {"recon_window": {"MONTH": {"snapshot": "N"}}}},
            ),
            # the gold refresh: five cadences, WEEK recomputed at MONTH end
            _lookup_row(
                "9003", "orders_all",
                {c: {} for c in CADENCES}
                | {"WEEK": {"recon_window": {"MONTH": {"snapshot": "N"}}}},
            ),
            # three MONTH runs per month-end refresh, the snapshot windows
            # overlapping the full-month run
            _lookup_row(
                "9004", "orders_snap",
                {"MONTH": {"recon_window": {"WEEK": {"snapshot": "Y"},
                                            "DAY": {"snapshot": "Y"}}}},
            ),
            _lookup_row("9005", "orders_barrier", {"DAY": {}, "MONTH": {}}, "2_barrier.sql"),
            _lookup_row("9007", "orders_view_barrier", {"DAY": {}, "MONTH": {}},
                        "3_view_barrier.sql"),
            _lookup_row("9006", "orders_cached", {"DAY": {}, "MONTH": {}},
                        storage_level="MEMORY_ONLY"),
        ],
        LOOKUP_DDL,
    )
    lookup.write.mode("overwrite").saveAsTable("gab_db.lkp_query_builder")
    yield {"base": str(base), "sf_dir": sf_dir}
    spark.sql("DROP VIEW IF EXISTS gab_db.vw_orders_kpi")
    spark.sql("DROP TABLE IF EXISTS gab_db.gab_insights")
    spark.sql("DROP TABLE IF EXISTS gab_db.gab_orders")
    spark.sql("DROP TABLE IF EXISTS gab_db.lkp_query_builder")
    spark.sql("DROP DATABASE IF EXISTS gab_par_db CASCADE")


def _acon(env, label, start, end, cadences, rerun="N", target="gab_insights",
          target_db="gab_db", current="2026-01-01"):
    return {
        "query_label_filter": [label],
        "queue_filter": ["Low"],
        "cadence_filter": cadences,
        "target_database": target_db,
        "source_database": "gab_db",
        "start_date": start,
        "end_date": end,
        "current_date": current,
        "rerun_flag": rerun,
        "target_table": target,
        "gab_base_path": env["base"],
        "lookup_table": "gab_db.lkp_query_builder",
    }


def test_gab_monthly_rollup_matches_duckdb(spark, gab_env):
    execute_gab(_acon(gab_env, "orders_kpi", "1995-01-01", "1995-03-31", ["MONTH"]))
    got = (
        spark.table("gab_db.gab_insights")
        .filter("cadence = 'MONTH'")
        .selectExpr("cast(from_date as string)", "d1", "m1", "round(m2, 2)")
        .collect()
    )
    con = duckdb.connect()
    want = con.execute(
        f"""
        SELECT cast(date_trunc('month', o_orderdate) as varchar) AS from_date,
               o_orderpriority AS d1,
               cast(count(*) as double) AS m1,
               round(sum(o_totalprice), 2) AS m2
        FROM read_parquet('{gab_env["sf_dir"]}/orders.parquet')
        WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1995-04-01'
        GROUP BY 1, 2
        """
    ).fetchall()
    assert sorted(tuple(r) for r in got) == sorted(tuple(r) for r in want)

    # consumption view is a CATALOG view in the target database
    view = spark.table("gab_db.vw_orders_kpi")
    assert {"o_orderpriority", "orders", "total_price", "discounted_total"} <= set(
        view.columns
    )
    row = view.filter("cadence = 'MONTH'").selectExpr(
        "round(discounted_total / total_price, 4) as ratio"
    ).first()
    assert row["ratio"] == pytest.approx(0.9, abs=1e-3)


def test_gab_rerun_is_idempotent(spark, gab_env):
    acon = _acon(gab_env, "orders_kpi", "1995-01-01", "1995-03-31", ["MONTH"], "Y")
    execute_gab(acon)
    first = spark.table("gab_db.gab_insights").count()
    execute_gab(acon)  # DELETE+INSERT of the same window must not duplicate
    assert spark.table("gab_db.gab_insights").count() == first


def test_gab_week_cadence_uses_calendar_join(spark, gab_env):
    # 1995-01-29 is a Sunday → week end (Monday weeks)
    execute_gab(_acon(gab_env, "orders_kpi", "1995-01-02", "1995-01-29", ["WEEK"]))
    weeks = (
        spark.table("gab_db.gab_insights")
        .filter("cadence = 'WEEK'")
        .selectExpr("cast(from_date as string) f", "cast(to_date as string) t")
        .distinct()
        .collect()
    )
    assert len(weeks) > 0
    for r in weeks:
        # every bucket is a Monday-started, 7-day week
        import datetime

        f = datetime.date.fromisoformat(r["f"])
        t = datetime.date.fromisoformat(r["t"])
        assert f.weekday() == 0 and (t - f).days == 6


def test_cadence_window_helpers():
    import datetime

    assert cadence_start("2024-03-15", "MONTH") == datetime.datetime(2024, 3, 1)
    assert cadence_end("2024-03-15", "QUARTER") == datetime.datetime(2024, 3, 31)
    assert cadence_start("2024-01-03", "WEEK", "SUNDAY") == datetime.datetime(
        2023, 12, 31
    )
    due = cadence_configuration_at_end_date("2024-03-31")
    assert {"MONTH", "QUARTER", "DAY"} <= set(due)
    assert "YEAR" not in due

    b0, b1, f0, f1 = extended_window_calculator(
        "MONTH", "MONTH", "2026-01-01", "1995-01-15", "1995-03-20", "GLOBAL", "N", "N"
    )
    assert b0 == datetime.datetime(1995, 1, 1)
    assert b1 == datetime.datetime(1995, 4, 1)  # end-exclusive


def test_render_template_if_else():
    out = render_template(
        "{% if off == 0 %}plain{% else %}shifted {{ off }}{% endif %} {{ x }}",
        {"off": 0, "x": "col"},
    )
    assert out.strip() == "plain col"
    out2 = render_template(
        "{% if off == 0 %}plain{% else %}shifted{% endif %}", {"off": 2}
    )
    assert out2 == "shifted"


def test_gab_recon_window_recompute_folds_in_late_data(spark, sf_dir, tmp_path):
    """The reconciliation path end-to-end through the REAL GAB class (the
    behavior q29 replays in SQL): a DAY-cadence use case reconciled
    MONTHLY. Run 1 loads Jan+Feb without the late cohort; late rows then
    land in the source; run 2 executes on a month-end end_date, so
    reconciliation_cadences fires recon_cadence=MONTH and the whole of
    February is recomputed and DELETE+INSERTed. January buckets must
    still exclude the late rows; February buckets must include them."""
    base = tmp_path / "stages"
    base.mkdir()
    (base / "1_orders.sql").write_text(STAGE_SQL.replace("gab_orders", "gab_recon_orders"))
    spark.sql("CREATE DATABASE IF NOT EXISTS gab_db")
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).filter(
        "o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1995-03-01'"
    )
    late = "o_orderkey % 7 = 0"
    orders.filter(f"NOT ({late})").write.mode("overwrite").saveAsTable(
        "gab_db.gab_recon_orders"
    )
    lookup = spark.createDataFrame(
        [
            _lookup_row(
                "9002", "orders_recon",
                {"DAY": {"recon_window": {"MONTH": {"snapshot": "N"}}}},
            )
        ],
        LOOKUP_DDL,
    )
    lookup.write.mode("overwrite").saveAsTable("gab_db.lkp_recon_builder")
    acon = {
        "query_label_filter": ["orders_recon"],
        "queue_filter": ["Low"],
        "cadence_filter": ["DAY"],
        "target_database": "gab_db",
        "source_database": "gab_db",
        "start_date": "1995-01-01",
        "end_date": "1995-02-28",   # month end -> MONTH recon cadence fires
        "current_date": "1995-03-05",
        "rerun_flag": "N",
        "target_table": "gab_recon_insights",
        "gab_base_path": str(base),
        "lookup_table": "gab_db.lkp_recon_builder",
    }
    try:
        execute_gab(acon)
        # late rows land in the source
        orders.filter(late).write.mode("append").saveAsTable(
            "gab_db.gab_recon_orders"
        )
        # recompute run: business date inside February, month-end end_date
        execute_gab({**acon, "start_date": "1995-02-28", "end_date": "1995-02-28"})

        got = {
            (str(r["from_date"]), r["d1"]): r["m1"]
            for r in spark.table("gab_db.gab_recon_insights")
            .selectExpr("from_date", "d1", "m1")
            .collect()
        }
        con = duckdb.connect()
        want_rows = con.execute(
            f"""
            SELECT strftime(o_orderdate, '%Y-%m-%d') AS from_date,
                   o_orderpriority AS d1,
                   cast(count(*) as double) AS m1
            FROM read_parquet('{sf_dir}/orders.parquet')
            WHERE o_orderdate >= DATE '1995-01-01'
              AND o_orderdate < DATE '1995-03-01'
              AND (o_orderdate >= DATE '1995-02-01' OR o_orderkey % 7 <> 0)
            GROUP BY 1, 2
            """
        ).fetchall()
        want = {(r[0], r[1]): r[2] for r in want_rows}
        assert got == want
    finally:
        spark.sql("DROP TABLE IF EXISTS gab_db.gab_recon_insights")
        spark.sql("DROP TABLE IF EXISTS gab_db.gab_recon_orders")
        spark.sql("DROP TABLE IF EXISTS gab_db.lkp_recon_builder")


# ---------------------------------------------------------------------------
# one flush per refresh vs the per-run DELETE+INSERT it replaced
# ---------------------------------------------------------------------------


def _delete_insert(gab, use_case, cadence, fresh):
    """One cadence run's DELETE+INSERT on its own: the write every run made
    before runs were queued and flushed together."""
    spark = gab.spark
    target = f"{gab.spec.target_database}.{gab.spec.target_table}"
    delete_pred = "FALSE"
    if spark.catalog.tableExists(target):
        bounds = fresh.agg(
            F.min("from_date").alias("f0"),
            F.max("from_date").alias("f1"),
            F.min("to_date").alias("t0"),
            F.max("to_date").alias("t1"),
        ).first()
        if bounds["f0"] is None:
            return
        delete_pred = (
            f"query_id = '{use_case['query_id']}' AND cadence = '{cadence}' "
            f"AND from_date BETWEEN '{bounds['f0']}' AND '{bounds['f1']}' "
            f"AND to_date BETWEEN '{bounds['t0']}' AND '{bounds['t1']}'"
        )
    replace_where(
        spark, delete_pred, fresh, db_table=target,
        data_format=ExecEnv.default_output_format(),
    )


class _PerRunGAB(GAB):
    """GAB on the per-run path, the parity oracle: every run is a flush
    barrier, so it is written before the next run is built, and a flush
    delete-inserts each run on its own."""

    def _reads_target(self, sql):
        return True

    def _flush(self, use_case, queue):
        for cadence, fresh in queue:
            _delete_insert(self, use_case, cadence, fresh)
        queue.clear()


def _per_run_gab(acon):
    _PerRunGAB(acon).execute()


def _insights(spark, table):
    return spark.table(table).drop("lh_created_on")


def _assert_same_table(spark, got, want):
    g, w = _insights(spark, got), _insights(spark, want)
    assert g.count() == w.count() > 0
    assert g.exceptAll(w).count() == 0 and w.exceptAll(g).count() == 0


def test_flush_matches_per_run_path(spark, gab_env):
    """The fixtures' refreshes plus two overlapping cases, each run in
    order through the flush and through the per-run oracle into its own
    table: the tables match on every column but ``lh_created_on``."""
    refreshes = [
        # the module's fixtures: MONTH, its rerun, the WEEK calendar join
        ("orders_kpi", "1995-01-01", "1995-03-31", ["MONTH"], "N", "2026-01-01"),
        ("orders_kpi", "1995-01-01", "1995-03-31", ["MONTH"], "Y", "2026-01-01"),
        ("orders_kpi", "1995-01-02", "1995-01-29", ["WEEK"], "N", "2026-01-01"),
        # DAY reconciled at MONTH end: the recompute of February
        ("orders_day_recon", "1995-01-01", "1995-02-28", ["DAY"], "N", "1995-03-05"),
        ("orders_day_recon", "1995-02-28", "1995-02-28", ["DAY"], "N", "1995-03-05"),
        # WEEK reconciled at MONTH end among five cadences: June's refresh
        # recomputes weeks that the year's refresh already wrote
        ("orders_all", "1995-01-01", "1995-12-31", CADENCES, "Y", "2026-01-01"),
        ("orders_all", "1995-06-01", "1995-06-30", CADENCES, "N", "2026-01-01"),
        # MONTH with WEEK and DAY snapshots: three MONTH runs per refresh
        ("orders_snap", "1995-01-01", "1995-03-31", ["MONTH"], "Y", "2026-01-01"),
        ("orders_snap", "1995-02-01", "1995-02-28", ["MONTH"], "N", "2026-01-01"),
    ]
    for label, start, end, cadences, rerun, current in refreshes:
        for run, table in ((execute_gab, "par_flush"), (_per_run_gab, "par_per_run")):
            run(_acon(gab_env, label, start, end, cadences, rerun, table,
                      "gab_par_db", current))
    _assert_same_table(spark, "gab_par_db.par_flush", "gab_par_db.par_per_run")
    snaps = spark.table("gab_par_db.par_flush").filter("query_id = '9004'")
    # the snapshot runs left several to_date versions of one month bucket
    assert snaps.groupBy("from_date").count().filter("count > 5").count() > 0


_EDGE_DDL = "query_id STRING, cadence STRING, from_date DATE, to_date DATE, m1 DOUBLE"


def _edge_rows(cadence, days, m1, from_null=False):
    return [
        ("q", cadence, None if from_null else dt.date(1995, 1, d), dt.date(1995, 1, d), m1)
        for d in days
    ]


# cadence runs whose windows overlap, one with no rows, one whose rows
# have no from_date (the per-run path skipped it once the table existed)
_EDGE_RUNS = [
    ("DAY", _edge_rows("DAY", [1, 2, 3], 1.0)),
    ("DAY", _edge_rows("DAY", [2, 3, 4], 2.0)),
    ("MONTH", []),
    ("MONTH", _edge_rows("MONTH", [5], 3.0, from_null=True)),
    ("WEEK", _edge_rows("WEEK", [2, 9], 4.0)),
]


def _flush_vs_per_run(spark, runs, seeded):
    """The table the flush leaves from ``runs``, ``[(cadence, rows)]``, and
    the one the per-run chain leaves, each as sorted rows; the table is
    missing before, or holds a few rows overlapping the runs (``seeded``)."""
    got = {}
    for path in ("flush", "per_run"):
        table = f"flush_edge_{path}"
        spark.sql(f"DROP TABLE IF EXISTS default.{table}")
        if seeded:
            seed = _edge_rows("DAY", [1, 4, 7], 9.0) + _edge_rows("WEEK", [2], 9.0)
            spark.createDataFrame(seed, _EDGE_DDL).write.saveAsTable(f"default.{table}")
        gab = GAB.__new__(GAB)
        gab.spark = spark
        gab.spec = SimpleNamespace(target_database="default", target_table=table)
        queue = [(cadence, spark.createDataFrame(rows, _EDGE_DDL)) for cadence, rows in runs]
        if path == "flush":
            gab._flush({"query_id": "q"}, queue)
        else:
            for cadence, fresh in queue:
                _delete_insert(gab, {"query_id": "q"}, cadence, fresh)
        got[path] = sorted((tuple(r) for r in spark.table(table).collect()), key=repr)
        spark.sql(f"DROP TABLE default.{table}")
    return got["flush"], got["per_run"]


@pytest.mark.parametrize("order", [[0, 1, 2, 3, 4], [3, 0, 2, 1], [2, 3, 0]])
@pytest.mark.parametrize("seeded", [False, True])
def test_flush_matches_per_run_chain_on_edge_runs(spark, order, seeded):
    """The flush against the per-run chain on crafted runs, into a missing
    and into an existing table."""
    flushed, per_run = _flush_vs_per_run(spark, [_EDGE_RUNS[k] for k in order], seeded)
    assert flushed == per_run


@pytest.mark.parametrize("seeded", [False, True])
def test_flush_of_empty_runs_matches_per_run_chain(spark, seeded):
    """A queue whose runs are all empty: a missing table is created empty,
    an existing one is left as it was."""
    flushed, per_run = _flush_vs_per_run(spark, [("DAY", []), ("MONTH", []), ("WEEK", [])], seeded)
    assert flushed == per_run and bool(flushed) == seeded


@pytest.mark.parametrize("seeded", [False, True])
def test_unmaterialized_flush_matches_per_run_chain(spark, monkeypatch, seeded):
    """Under dynamic allocation without a checkpoint dir the queued rows
    are not materialized, so no action ran the observation: the flush
    computes the bounds with its own aggregate and never waits for it."""
    from lakehouse_engine_spark.algorithms import gab as gab_module
    from lakehouse_engine_spark.datapipes import materialize

    monkeypatch.setattr(materialize, "dyn_alloc_enabled", lambda spark: True)
    monkeypatch.setattr(materialize, "has_checkpoint_dir", lambda spark: False)

    def no_wait(_observation):
        raise AssertionError("read an observation no action ran")

    monkeypatch.setattr(gab_module, "observed_row", no_wait)
    flushed, per_run = _flush_vs_per_run(spark, _EDGE_RUNS, seeded)
    assert flushed == per_run


def _assert_barrier_sees_earlier_runs(spark, gab_env, label, query_id):
    """The MONTH run of ``label`` counts the DAY run's rows, as on the
    per-run path."""
    tables = {"gab_barrier_flush": execute_gab, "gab_barrier_per_run": _per_run_gab}
    try:
        for table, run in tables.items():
            # the barrier stage can only read a table that exists
            execute_gab(_acon(gab_env, "orders_kpi", "1995-01-01", "1995-03-31",
                              ["MONTH"], target=table))
            spark.sql(f"CREATE OR REPLACE VIEW gab_db.seen_{table} AS "
                      f"SELECT * FROM gab_db.{table}")
            seeded = spark.table(f"gab_db.{table}").count()
            run(_acon(gab_env, label, "1995-01-01", "1995-01-31",
                      ["DAY", "MONTH"], target=table))
        _assert_same_table(spark, "gab_db.gab_barrier_flush", "gab_db.gab_barrier_per_run")
        got = spark.table("gab_db.gab_barrier_flush").filter(f"query_id = '{query_id}'")
        n_day = got.filter("cadence = 'DAY'").count()
        seen = {r["cadence"]: r["m2"] for r in got.select("cadence", "m2").distinct().collect()}
        assert seen == {"DAY": seeded, "MONTH": seeded + n_day}
    finally:
        for table in tables:
            spark.sql(f"DROP VIEW IF EXISTS gab_db.seen_{table}")
            spark.sql(f"DROP TABLE IF EXISTS gab_db.{table}")
        spark.sql("DROP VIEW IF EXISTS gab_db.vw_orders_kpi")


def test_stage_reading_the_target_sees_earlier_runs(spark, gab_env):
    """A stage that reads ``{{ database }}.{{ target_table }}`` is a flush
    barrier."""
    _assert_barrier_sees_earlier_runs(spark, gab_env, "orders_barrier", "9005")


def test_stage_reading_the_target_through_a_view_sees_earlier_runs(spark, gab_env):
    """A stage that reads a view over the insights table is a flush
    barrier too: the barrier is found in the analyzed plan."""
    _assert_barrier_sees_earlier_runs(spark, gab_env, "orders_view_barrier", "9007")


def test_failed_flush_leaks_no_cache_and_keeps_target(spark, gab_env, monkeypatch):
    """A flush that raises unpersists its union and every cached stage
    frame, and leaves the insights table as it was."""
    from lakehouse_engine_spark.algorithms import gab as gab_module

    acon = _acon(gab_env, "orders_cached", "1995-01-01", "1995-01-31",
                 ["DAY", "MONTH"], target="gab_cached", target_db="gab_par_db")
    execute_gab(acon)
    before = sorted(tuple(r) for r in spark.table("gab_par_db.gab_cached").collect())
    spark.catalog.clearCache()

    def fail(*_args, **_kwargs):
        raise RuntimeError("injected flush failure")

    monkeypatch.setattr(gab_module, "replace_where", fail)
    with pytest.raises(RuntimeError, match="injected flush failure"):
        execute_gab({**acon, "rerun_flag": "Y"})
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    after = sorted(tuple(r) for r in spark.table("gab_par_db.gab_cached").collect())
    assert after == before


# jobs a warm five-cadence refresh of the fixture fires with one flush: the
# lookup collect, one rewrite and the one materialization of the six runs'
# rows, which observes their bounds: adaptive execution runs each shuffle
# stage of the runs (the aggregates, the WEEK calendar's distinct and its
# broadcast) as its own job, then one job materializes the rows. A
# DELETE+INSERT per cadence run fires 25
FLUSH_REFRESH_JOBS = 10


def test_refresh_rewrites_insights_once(spark, gab_env):
    """A guard on the job count: a second five-cadence refresh fires no
    more jobs than one flush does. The flush sizes its own output: the
    refreshed rows take one file, not one per partition of the runs' union
    (20 here), beside at most one file of the rows the refresh kept."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    acon = _acon(gab_env, "orders_all", "1995-01-01", "1995-12-31", CADENCES, "Y",
                 target="gab_jobs", target_db="gab_par_db")
    execute_gab(acon)
    first = dag.nextJobId()
    execute_gab(acon)
    assert dag.nextJobId() - first <= FLUSH_REFRESH_JOBS
    assert len(spark.table("gab_par_db.gab_jobs").inputFiles()) <= 2
