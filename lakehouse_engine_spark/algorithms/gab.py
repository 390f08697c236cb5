"""GAB — Gold Asset Builder: config-table-driven periodic aggregation.

Reference parity: ``algorithms/gab.py:49-938``, ``core/gab_manager.py``,
``core/gab_sql_generator.py``, ``utils/gab_utils.py`` (~3,000 LoC there).

For each active use case in a lookup (config) table and each cadence
(DAY/WEEK/MONTH/QUARTER/YEAR) with optional reconciliation windows and
snapshots, GAB:

1. computes the extended date window for the run
   (:func:`lakehouse_engine_spark.utils.gab_utils.extended_window_calculator`);
2. renders the use case's staged SQL templates (``{{ to_date }}``,
   ``{{ project_date_column }}``, ``{{ joins }}``, ``{{ filter_date_column }}``
   … — reference ``algorithms/gab.py:686-732``) against a calendar dimension;
3. materializes each stage as a temp view (optional repartition/cache);
4. queues the final stage's rows, padded to a fixed-width
   40-dimension/40-metric insights table, and after the last run writes the
   whole queue as ONE DELETE+INSERT (:meth:`GAB._flush`); the table ends as
   the reference's DELETE+INSERT per run leaves it (reference
   ``core/gab_sql_generator.py:87-184, 429-545``);
5. creates a consumption view re-aliasing dims/metrics and computing
   configured calculated metrics (reference ``core/gab_sql_generator.py:187-426``).

Spark-first design notes (vs the reference):

* The 18-combination cadence matrix (reference ``core/definitions.py:1415-1756``,
  ``GABCombinedConfiguration``) collapses to one rule, implemented in
  :func:`_cadence_join_config`: a cadence needs the calendar join only when
  its bucket boundaries aren't expressible as ``date_trunc`` over the row's
  own date (WEEK with configurable start day, and any snapshot run); all
  other cadences project ``date_trunc``/``add_months`` expressions directly,
  keeping the whole stage inside whole-stage codegen with no join at all.
* The calendar join is declared on a one-row-per-day generated dimension and
  is always broadcast — at 100 TB the fact side never shuffles for it.
* DELETE+INSERT is :func:`lakehouse_engine_spark.io.merge_writer.replace_where`
  (real ``DELETE`` + append on Delta, the merge writer's locked rewrite
  otherwise), called once per refresh rather than once per cadence run: a
  refresh of five cadences rewrites the insights table once, not five
  times.
"""

from __future__ import annotations

import ast
import logging
import math
from datetime import datetime, timedelta
from functools import reduce
from typing import Dict, List, Optional, Tuple

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from lakehouse_engine_spark.core.definitions import GABCadence, GABSpec
from lakehouse_engine_spark.core.exec_env import ExecEnv
from lakehouse_engine_spark.io.merge_writer import replace_where
from lakehouse_engine_spark.utils.gab_utils import (
    ORDERED_CADENCES,
    cadence_configuration_at_end_date,
    create_calendar_view,
    extended_window_calculator,
    partition_condition,
    reconciliation_cadences,
    render_template,
)

logger = logging.getLogger(__name__)

N_DIMENSIONS = 40  # d1..d40 + from_date/to_date (reference gab_sql_generator.py:159-184)
N_METRICS = 40  # m1..m40


def _parse_config_column(value) -> dict:
    """Parse a lookup-table JSON-ish column (single-quoted python-dict style).

    The reference stores ``mappings``/``intermediate_stages``/``recon_window``
    as python-literal strings and parses with ``ast.literal_eval``
    (``core/gab_sql_generator.py:482-486``); we accept dicts too.
    """
    if isinstance(value, dict):
        return value
    if value is None or value == "":
        return {}
    return ast.literal_eval(str(value))


def _cadence_join_config(
    cadence: str, recon: str, week_start: str, snapshot_flag: str
) -> Tuple[str, str, str]:
    """(join_select, project_start, project_end) for one cadence combination.

    Collapses the reference's 18-entry ``GABCombinedConfiguration`` matrix
    (``core/definitions.py:1415-1756``) into its generating rule. ``${cad}``
    and ``${date_column}`` placeholders are substituted by the caller, as in
    the reference (``algorithms/gab.py:573-604``).
    """
    cadence, recon = cadence.upper(), recon.upper()
    # the reference renders EVERY calendar join with Monday weeks — the
    # configured start_of_the_week only drives window/due-ness derivation
    # (algorithms/gab.py:587 there substitutes the literal "Monday"); keep
    # the parameter for the due-ness path but pin the join anchor
    del week_start
    ws = "mon"
    trunc = "date(date_trunc('${cad}', ${date_column}))"
    if cadence == "DAY":
        return "", trunc, trunc

    start_col = {
        "WEEK": f"weekstart_{ws}",
        "MONTH": "month_start",
        "QUARTER": "quarter_start",
        "YEAR": "year_start",
    }[cadence]
    end_col = {
        "WEEK": f"weekend_{ws}",
        "MONTH": "month_end",
        "QUARTER": "quarter_end",
        "YEAR": "year_end",
    }[cadence]

    snapshot = snapshot_flag == "Y" and ORDERED_CADENCES[recon] < ORDERED_CADENCES[cadence]
    if snapshot:
        # one bucket per concluded recon period inside the cadence, each
        # spanning cadence start → min(recon period end, cadence end)
        recon_end = {
            "DAY": "calendar_date",
            "WEEK": f"weekend_{ws}",
            "MONTH": "month_end",
            "QUARTER": "quarter_end",
        }.get(recon, "calendar_date")
        join_select = (
            f"select distinct {start_col} as cadence_start_date, "
            f"least({recon_end}, {end_col}) as cadence_end_date"
        )
        return join_select, "df_cal.cadence_start_date", "df_cal.cadence_end_date"

    if cadence == "WEEK":
        # week boundaries depend on the configured start day → calendar join
        join_select = (
            f"select distinct {start_col} as cadence_start_date, "
            f"{end_col} as cadence_end_date"
        )
        return join_select, "df_cal.cadence_start_date", "df_cal.cadence_end_date"

    end_expr = {
        "MONTH": "date(date_trunc('MONTH', add_months(${date_column}, 1)))-1",
        "QUARTER": "date(date_trunc('QUARTER', add_months(${date_column}, 3)))-1",
        "YEAR": "date(date_trunc('YEAR', add_months(${date_column}, 12)))-1",
    }[cadence]
    return "", trunc, end_expr


class GAB:
    """Gold Asset Builder algorithm (reference ``algorithms/gab.py:32-96``)."""

    def __init__(self, acon: dict):
        self.spec = GABSpec(
            query_label_filter=acon["query_label_filter"],
            queue_filter=acon["queue_filter"],
            cadence_filter=acon["cadence_filter"],
            target_database=acon["target_database"],
            curr_date=acon.get("current_date", datetime.now()),
            start_date=acon["start_date"],
            end_date=acon["end_date"],
            rerun_flag=acon.get("rerun_flag", "N"),
            target_table=acon["target_table"],
            source_database=acon.get("source_database", acon["target_database"]),
            gab_base_path=acon.get("gab_base_path", ""),
            # reference ACONs carry UNQUALIFIED names and GABSpec prefixes
            # source_database (definitions.py:1320-1330 there, with defaults
            # lkp_query_builder / dim_calendar); already-qualified names are
            # also accepted
            lookup_table=self._qualify(
                acon.get("lookup_table", "lkp_query_builder"),
                acon.get("source_database", acon["target_database"]),
            ),
            calendar_table=self._qualify(
                acon.get("calendar_table", "dim_calendar"),
                acon.get("source_database", acon["target_database"]),
            ),
        )
        self.spark = ExecEnv.get_or_create()

    @staticmethod
    def _qualify(name: str, database: str) -> str:
        if not name or "." in name or "/" in name:
            return name
        return f"{database}.{name}"

    # ------------------------------------------------------------------ run
    def execute(self) -> None:
        """Run every selected use case × cadence (reference gab.py:49-96)."""
        spark = self.spark
        lookup = self._read_lookup()
        lookup = lookup.filter(
            F.col("query_label").isin(self.spec.query_label_filter)
            & F.col("queue").isin(self.spec.queue_filter)
            & (F.col("is_active") != F.lit("N"))
        )

        create_calendar_view(
            spark,
            str(self.spec.start_date)[:10],
            str(self.spec.end_date)[:10],
            self.spec.calendar_table or None,
        )

        for use_case in lookup.collect():
            self._process_use_case(use_case)

    def _read_lookup(self) -> DataFrame:
        name = self.spec.lookup_table
        if "/" in name:
            return self.spark.read.parquet(name)
        return self.spark.read.table(name)

    # ------------------------------------------------------- use case loop
    def _process_use_case(self, use_case: Row) -> None:
        recon = _parse_config_column(use_case["recon_window"])
        stages = _parse_config_column(use_case["intermediate_stages"])
        mappings = _parse_config_column(use_case["mappings"])
        configured_cadences = list(recon.keys())

        selected = self.spec.cadence_filter
        cadences = (
            configured_cadences
            if "All" in selected
            else sorted(
                set(selected) & set(configured_cadences),
                key=lambda c: ORDERED_CADENCES[c],
            )
        )
        if not cadences or not stages:
            # reference skip message (its tests assert this exact text)
            logger.info(
                "Skipping use case %s. No cadence processed for the use case.",
                use_case["query_label"],
            )
            return

        self._load_stage_templates(stages, use_case)
        end_conf = cadence_configuration_at_end_date(
            self.spec.end_date, (use_case["start_of_the_week"] or "MONDAY").upper()
        )

        processed = False
        queue: List[Tuple[str, DataFrame]] = []
        cached: List[DataFrame] = []
        try:
            for cadence in cadences:
                window = (recon.get(cadence) or {}).get("recon_window", {})
                to_run = reconciliation_cadences(
                    cadence, window, end_conf, self.spec.rerun_flag
                )
                for recon_cadence, snapshot_flag in to_run.items():
                    queue.append(
                        self._run_cadence(
                            cadence, recon_cadence, snapshot_flag, use_case,
                            stages, mappings, queue, cached,
                        )
                    )
                    processed = True
            self._flush(use_case, queue)
        finally:
            for df in cached:
                df.unpersist()
        if processed:
            self._create_consumption_views(use_case, mappings, recon)

    def _load_stage_templates(self, stages: dict, use_case: Row) -> None:
        for i in range(1, len(stages) + 1):
            stage = stages[str(i)]
            path = self.spec.gab_base_path.rstrip("/") + "/" + stage["file_path"]
            with open(path) as f:
                text = f.read()
            # reference pre-substitutes the offset token (gab.py:180-189)
            stage["templated_file"] = text.replace(
                "replace_offset_value", str(use_case["timezone_offset"] or 0)
            )

    # -------------------------------------------------------- cadence run
    def _run_cadence(
        self,
        cadence: str,
        recon_cadence: str,
        snapshot_flag: str,
        use_case: Row,
        stages: dict,
        mappings: dict,
        queue: List[Tuple[str, DataFrame]],
        cached: List[DataFrame],
    ) -> Tuple[str, DataFrame]:
        """Build one cadence run's insights rows as ``(cadence, fresh)``.

        Writes nothing, unless a stage reads the insights table, directly or
        through a view: the queued runs are then flushed and the stage is
        analyzed again (the frame analyzed before the flush lists the old
        files), so it reads what each earlier run wrote, as when every run
        was written on its own. Stage frames the run caches are appended to
        ``cached``; the caller unpersists them."""
        spark = self.spark
        (
            bucket_start,
            bucket_end,
            filter_start,
            filter_end,
        ) = extended_window_calculator(
            cadence,
            recon_cadence,
            self.spec.curr_date,
            self.spec.start_date,
            self.spec.end_date,
            use_case["query_type"],
            self.spec.rerun_flag,
            snapshot_flag,
        )
        offset = int(use_case["timezone_offset"] or 0)
        if offset:
            filter_start += timedelta(hours=offset)
            filter_end += timedelta(hours=offset)
        fmt = "%Y-%m-%d"
        bucket_start_s = bucket_start.strftime(fmt)
        partition_end_s = (bucket_end - timedelta(days=1)).strftime(fmt)
        filter_start_s, filter_end_s = filter_start.strftime(fmt), filter_end.strftime(fmt)

        final_view = ""
        for i in range(1, len(stages) + 1):
            stage = stages[str(i)]
            sql = self._render_stage(
                stage,
                use_case,
                cadence,
                recon_cadence,
                snapshot_flag,
                bucket_start_s,
                partition_end_s,
                filter_start_s,
                filter_end_s,
            )
            # stages reference EACH OTHER by their configured table_alias
            # (reference _create_stage_view registers the view under it)
            final_view = (
                stage.get("table_alias")
                or f"gab_{use_case['query_label']}_stage_{i}"
            )
            df = spark.sql(sql)
            if queue and self._reads_target(df):
                self._flush(use_case, queue)
                df = spark.sql(sql)
            rep = stage.get("repartition") or {}
            if rep.get("keys"):
                df = df.repartition(
                    int(rep.get("numPartitions", spark.conf.get("spark.sql.shuffle.partitions"))),
                    *rep["keys"],
                )
            elif rep.get("numPartitions"):
                df = df.repartition(int(rep["numPartitions"]))
            if stage.get("storage_level"):
                df = df.cache()
                cached.append(df)
            # the next stage's SQL is analyzed against this registration, so
            # a later run re-registering the name leaves queued frames as built
            df.createOrReplaceTempView(final_view)

        fresh = self._insights_select(use_case, cadence, final_view, mappings)
        fresh = fresh.withColumn("from_date", F.col("from_date").cast("date")).withColumn(
            "to_date", F.col("to_date").cast("date")
        )
        return cadence, fresh

    def _reads_target(self, stage: DataFrame) -> bool:
        """Whether a stage frame reads the insights table: a relation on it
        sits in the frame's analyzed plan, where views and subqueries are
        expanded. Walking the plan fires no job."""
        target = (self.spec.target_database.lower(), self.spec.target_table.lower())
        nodes = [stage._jdf.queryExecution().analyzed()]
        while nodes:
            node = nodes.pop()
            if node.getClass().getSimpleName() == "LogicalRelation":
                table = node.catalogTable()
                if table.isDefined():
                    ident = table.get().identifier()
                    if (ident.database().get().lower(), ident.table().lower()) == target:
                        return True
            for plans in (node.children(), node.innerChildren()):
                it = plans.iterator()
                while it.hasNext():
                    nodes.append(it.next())
        return False

    def _render_stage(
        self,
        stage: dict,
        use_case: Row,
        cadence: str,
        recon_cadence: str,
        snapshot_flag: str,
        bucket_start: str,
        partition_end: str,
        filter_start: str,
        filter_end: str,
    ) -> str:
        project_col = stage.get("project_date_column") or "X"
        filter_col = stage.get("filter_date_column") or project_col
        week_start = (use_case["start_of_the_week"] or "MONDAY").upper()

        join_select, project_start, project_end = _cadence_join_config(
            cadence, recon_cadence, week_start, snapshot_flag
        )
        subst = lambda s: s.replace("${cad}", cadence).replace(  # noqa: E731
            "${date_column}", project_col
        )
        join_condition = ""
        if join_select:
            join_condition = f"""
                inner join (
                    {subst(join_select)} from df_cal
                    where calendar_date between '{bucket_start}' and '{partition_end}'
                ) df_cal on date({project_col})
                    between df_cal.cadence_start_date and df_cal.cadence_end_date
            """

        return render_template(
            stage["templated_file"],
            {
                "cadence": f"'{cadence}' as cadence",
                "cadence_run": cadence,
                "week_start": week_start,
                "query_id": f"'{use_case['query_id']}' as query_id",
                "project_date_column": subst(project_start),
                "to_date": subst(project_end),
                "target_table": self.spec.target_table,
                "database": self.spec.source_database,
                "start_date": filter_start,
                "end_date": filter_end,
                "filter_date_column": filter_col,
                "offset_value": use_case["timezone_offset"] or 0,
                "joins": join_condition,
                "partition_filter": partition_condition(filter_start, partition_end),
            },
        )

    # -------------------------------------------------- insights table IO
    def _insights_select(
        self, use_case: Row, cadence: str, final_view: str, mappings: dict
    ) -> DataFrame:
        """Final-stage rows padded to the 40d/40m insights width.

        Reference ``core/gab_sql_generator.py:87-184``.
        """
        mapping = next(iter(mappings.values()))
        dims: Dict[str, str] = mapping["dimensions"]
        metrics: Dict[str, dict] = mapping["metric"]

        cols = [
            f"'{use_case['query_id']}' as query_id",
            f"'{cadence}' as cadence",
            f"{dims.get('from_date', 'from_date')} as from_date",
            f"{dims.get('to_date', 'to_date')} as to_date",
        ]
        for i in range(1, N_DIMENSIONS + 1):
            src = dims.get(f"d{i}")
            cols.append(f"{src} as d{i}" if src else f"cast(null as string) as d{i}")
        for i in range(1, N_METRICS + 1):
            m = metrics.get(f"m{i}")
            # the insights table stores every metric as DOUBLE (reference
            # column contract) — decimal stage outputs cast here so derived
            # metrics downstream reproduce the reference's float arithmetic
            cols.append(
                f"cast({m['metric_name']} as double) as m{i}"
                if m
                else f"cast(null as double) as m{i}"
            )
        cols.append("current_timestamp() as lh_created_on")
        return self.spark.sql(f"SELECT {', '.join(cols)} FROM {final_view}")

    def _flush(self, use_case: Row, queue: List[Tuple[str, DataFrame]]) -> None:
        """Write the queued ``(cadence, fresh)`` runs as ONE DELETE+INSERT
        into the insights table, and empty the queue.

        The table ends as a DELETE+INSERT per run, in queue order, leaves
        it. Run ``k``'s delete predicate is its ``query_id`` and cadence
        with the min/max bounds of its rows' from/to dates (reference
        ``core/gab_sql_generator.py:429-545``): one aggregate, grouped by
        run, gives every run's bounds. The target loses the rows that any
        run's predicate matches; a queued row survives only if no LATER
        run's predicate matches it, so overlapping windows (snapshot runs
        of one cadence, WEEK recomputed at MONTH end) keep the last run's
        rows. A run without bounds (no rows, or only NULL from dates) was
        skipped, rows and all, once the table existed, and is here too; a
        missing table is created from the queued rows.

        The queued rows are cached while the bounds and the write read
        them. They are written in as many partitions as their estimated
        size needs at ``spark.sql.files.maxPartitionBytes`` (at least one),
        not one per partition of the union. One query computes every row,
        so every row a flush writes carries the same ``lh_created_on``.
        """
        if not queue:
            return
        spark = self.spark
        target = f"{self.spec.target_database}.{self.spec.target_table}"
        union = reduce(
            DataFrame.unionByName,
            [fresh.withColumn("__run", F.lit(k)) for k, (_, fresh) in enumerate(queue)],
        ).cache()
        try:
            exists = spark.catalog.tableExists(target)
            bounds = {
                r["__run"]: r
                for r in union.groupBy("__run")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.min("from_date").alias("f0"),
                    F.max("from_date").alias("f1"),
                    F.min("to_date").alias("t0"),
                    F.max("to_date").alias("t1"),
                )
                .collect()
            }
            preds: List[Tuple[int, str]] = []
            dropped: List[str] = []  # when a queued row is not written
            for k, (cadence, _) in enumerate(queue):
                b = bounds.get(k)
                if b is None or b["f0"] is None:
                    if exists or k:  # run 0 alone creates a missing table
                        dropped.append(f"__run = {k}")
                    continue
                preds.append((k, (
                    f"(query_id = '{use_case['query_id']}' AND cadence = '{cadence}' "
                    f"AND from_date BETWEEN '{b['f0']}' AND '{b['f1']}' "
                    f"AND to_date BETWEEN '{b['t0']}' AND '{b['t1']}')"
                )))
            if exists and not preds:
                return
            delete_pred = " OR ".join(p for _, p in preds) if exists else "FALSE"
            dropped += [f"(__run < {k} AND {p})" for k, p in preds if k]
            rows = union.filter(f"NOT coalesce({' OR '.join(['FALSE'] + dropped)}, FALSE)")
            n_rows = sum(b["n"] for b in bounds.values())
            row_bytes = union._jdf.schema().defaultSize()
            max_bytes = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
            rows = rows.drop("__run").coalesce(max(1, math.ceil(n_rows * row_bytes / max_bytes)))
            replace_where(
                spark, delete_pred, rows, db_table=target,
                data_format=ExecEnv.default_output_format(),
            )
        finally:
            union.unpersist()
            queue.clear()

    # ------------------------------------------------- consumption views
    def _create_consumption_views(
        self, use_case: Row, mappings: dict, recon: dict
    ) -> None:
        """One CATALOG view per mapping key in the target database,
        re-aliasing dims/metrics (reference ``core/gab_sql_generator.py:
        187-426`` + ``core/gab_manager.py:590-890``).

        Structure follows the reference exactly: non-snapshot cadences
        (TEMP1) carry the plain calculated metrics —
        ``COALESCE(LAG/agg OVER (PARTITION BY cadence, dims ORDER BY
        from_date), 0)``; snapshot cadences (TEMP2) keep every ``to_date``
        version and their calculated metrics step across the SNAPSHOT
        VERSIONS of one bucket — partition (cadence, dims, from_date),
        ORDER BY to_date (this is the semantics the reference's own
        control data pins: each snapshot's last_cadence is the previous
        day's snapshot of the same bucket; its published SQL reaches the
        same ordering through the TEMP_RN row ordering); the final view
        is the set-UNION of both arms (deduping the full-bucket snapshot
        row against the plain cadence row). The view is plain SQL over
        the insights table — no data copied, one scan at read."""
        spark = self.spark
        target = f"{self.spec.target_database}.{self.spec.target_table}"
        snap_cadences = [
            c
            for c, conf in recon.items()
            if any(
                w.get("snapshot") == "Y"
                for w in (conf or {}).get("recon_window", {}).values()
            )
        ]
        no_snap_cadences = [c for c in recon if c not in snap_cadences]
        for view_name, mapping in mappings.items():
            dims: Dict[str, str] = mapping["dimensions"]
            metrics: Dict[str, dict] = mapping["metric"]
            plain_dims = {
                k: v for k, v in dims.items() if k not in ("from_date", "to_date")
            }
            from_alias = dims.get("from_date", "from_date")
            to_alias = dims.get("to_date", "to_date")
            dim_aliases = [f"a.{k} AS {v}" for k, v in plain_dims.items()]
            metric_aliases = [
                f"a.{k} AS {m['metric_name']}" for k, m in metrics.items()
            ]
            dim_partition = ", ".join(
                ["a.cadence"] + [f"a.{k}" for k in plain_dims.keys()]
            )

            def calc_exprs(snapshot: bool) -> List[str]:
                part = dim_partition + (", a.from_date" if snapshot else "")
                order = "a.to_date" if snapshot else "a.from_date"
                out: List[str] = []
                for mk, m in metrics.items():
                    name = f"a.{mk}"
                    calc = m.get("calculated_metric") or {}
                    for spec in calc.get("last_cadence") or []:
                        out.append(
                            f"COALESCE(LAG({name}, {int(spec['window'])}) OVER ("
                            f"PARTITION BY {part} ORDER BY {order}), 0) "
                            f"AS {spec['label']}"
                        )
                    for spec in calc.get("last_year_cadence") or []:
                        out.append(
                            f"COALESCE(LAG({name}, {int(spec['window'])}) OVER ("
                            f"PARTITION BY {part}, "
                            "CASE WHEN a.cadence IN ('DAY','MONTH','QUARTER') "
                            "THEN struct(month(a.from_date), day(a.from_date)) "
                            "WHEN a.cadence IN ('WEEK') "
                            "THEN struct(weekofyear(a.from_date + 1), 1) END "
                            f"ORDER BY {order}), 0) AS {spec['label']}"
                        )
                    for spec in calc.get("window_function") or []:
                        back, fwd = int(spec["window"][0]), int(spec["window"][1])
                        agg = spec.get("agg_func", "sum")
                        out.append(
                            f"COALESCE({agg}({name}) OVER ("
                            f"PARTITION BY {part} ORDER BY {order} "
                            f"ROWS BETWEEN {back} PRECEDING AND {fwd} "
                            f"PRECEDING), 0) AS {spec['label']}"
                        )
                    derived = m.get("derived_metric") or []
                    if isinstance(derived, dict):
                        derived = []
                    for spec in derived:
                        formula = spec["formula"]
                        for k2, m2 in metrics.items():
                            formula = formula.replace(
                                m2["metric_name"], f"a.{k2}"
                            )
                        out.append(f"{formula} AS {spec['label']}")
                return out

            # the mapping filter references RAW dN names (reference contract)
            view_filter = mapping.get("filter")
            extra = (
                f"AND ({view_filter})"
                if view_filter and not isinstance(view_filter, dict)
                else ""
            )
            select_cols = ", ".join(
                [f"a.from_date AS {from_alias}", f"a.to_date AS {to_alias}"]
                + dim_aliases
                + metric_aliases
            )
            arms = []
            if no_snap_cadences:
                cads = ", ".join(f"'{c}'" for c in no_snap_cadences)
                arms.append(f"""
                    SELECT a.cadence, {select_cols},
                           {', '.join(calc_exprs(False)) or '1 AS __one'}
                    FROM {target} a
                    WHERE a.query_id = '{use_case['query_id']}'
                      AND a.cadence IN ({cads}) {extra}
                """)
            if snap_cadences:
                cads = ", ".join(f"'{c}'" for c in snap_cadences)
                arms.append(f"""
                    SELECT a.cadence, {select_cols},
                           {', '.join(calc_exprs(True)) or '1 AS __one'}
                    FROM {target} a
                    WHERE a.query_id = '{use_case['query_id']}'
                      AND a.cadence IN ({cads}) {extra}
                """)
            body = " UNION ".join(arms)
            drop_one = not any(
                (m.get("calculated_metric") or m.get("derived_metric"))
                for m in metrics.values()
            )
            final = "*" if not drop_one else "* EXCEPT (__one)"
            sql = (
                f"CREATE OR REPLACE VIEW "
                f"{self.spec.target_database}.{view_name} AS "
                f"SELECT {final} FROM ({body})"
            )
            spark.sql(sql)
