"""TableManager — DDL & maintenance operations.

Reference parity: ``core/table_manager.py:32-288`` (create/drop/truncate/
describe/show properties/get PK/repair/delete-where/vacuum/optimize/
compute stats), driven by an ACON with ``function`` + args.
"""

from __future__ import annotations

from typing import Any, Optional

from lakehouse_engine_spark.core.exec_env import ExecEnv
from lakehouse_engine_spark.io.merge_writer import replace_where
from lakehouse_engine_spark.utils.sql_parser import split_sql_statements


class TableManager:
    """Executes one table-management function from an ACON."""

    def __init__(self, acon: dict):
        self.acon = acon
        self.spark = ExecEnv.get_or_create(config=acon.get("exec_env"))
        self.function = acon.get("function")

    def execute(self) -> Any:
        fn = self.function
        dispatch = {
            "create": self.create_table,
            "create_table": self.create_table,
            "create_many": self.create_tables,
            "create_view": self.create_table,
            "execute_sql": self.execute_sql,
            "drop_table": self.drop_table,
            "drop_view": self.drop_view,
            "truncate": self.truncate,
            "describe": self.describe,
            "show_tbl_properties": self.show_tbl_properties,
            "get_tbl_pk": self.get_tbl_pk,
            "repair_table": self.repair_table,
            "delete_where": self.delete_where,
            "vacuum": self.vacuum,
            "optimize": self.optimize,
            "compute_table_statistics": self.compute_table_statistics,
        }
        if fn not in dispatch:
            raise ValueError(f"TableManager: unknown function {fn}")
        return dispatch[fn]()

    def _run_sql_file_or_stmt(self) -> None:
        path = self.acon.get("path")
        if path:
            if path.startswith("file://"):
                path = path[len("file://"):]
            with open(path, encoding="utf-8") as fh:
                sql = fh.read()
            disable_dbfs = self.acon.get("disable_dbfs_retry", False)  # parity no-op
            _ = disable_dbfs
            for stmt in split_sql_statements(sql):
                self.spark.sql(self._degrade_delta_ddl(stmt))
        elif self.acon.get("sql"):
            for stmt in split_sql_statements(self.acon["sql"]):
                self.spark.sql(self._degrade_delta_ddl(stmt))
        else:
            raise ValueError("TableManager: path or sql required")

    def _degrade_delta_ddl(self, stmt: str) -> str:
        """Without delta-spark, ``USING DELTA`` DDL degrades to parquet —
        the same degradation the writers apply to delta-format outputs,
        so reference DDL fixtures run verbatim in this environment."""
        if ExecEnv.delta_available():
            return stmt
        import re as _re

        # lowercase provider: Spark records the DDL token verbatim as the
        # table's provider and later compares it case-SENSITIVELY against
        # streaming writers' format("parquet")
        out = _re.sub(r"\busing\s+delta\b", "USING parquet", stmt, flags=_re.I)
        if out != stmt:
            import logging

            logging.getLogger(__name__).warning(
                "delta-spark absent: rewrote USING DELTA -> USING PARQUET"
            )
        return out

    def create_table(self) -> None:
        self._run_sql_file_or_stmt()

    def create_tables(self) -> None:
        self._run_sql_file_or_stmt()

    def execute_sql(self) -> None:
        self._run_sql_file_or_stmt()

    def drop_table(self) -> None:
        self.spark.sql(f"DROP TABLE IF EXISTS {self.acon['table_or_view']}")

    def drop_view(self) -> None:
        self.spark.sql(f"DROP VIEW IF EXISTS {self.acon['table_or_view']}")

    def truncate(self) -> None:
        self.spark.sql(f"TRUNCATE TABLE {self.acon['table_or_view']}")

    def describe(self):
        return self.spark.sql(f"DESCRIBE TABLE {self.acon['table_or_view']}")

    def show_tbl_properties(self):
        return self.spark.sql(f"SHOW TBLPROPERTIES {self.acon['table_or_view']}")

    def get_tbl_pk(self) -> list:
        """Primary key from the ``lakehouse.primary_key`` table property
        (reference ``core/table_manager.py:245-261``)."""
        props = self.show_tbl_properties().collect()
        for row in props:
            if row["key"] == "lakehouse.primary_key":
                # reference strips spaces AND backticks (translate " `" -> "")
                return [
                    c.replace("`", "").strip() for c in row["value"].split(",")
                ]
        raise ValueError("Table has no lakehouse.primary_key property")

    def repair_table(self) -> None:
        self.spark.sql(f"MSCK REPAIR TABLE {self.acon['table_or_view']}")

    def delete_where(self) -> None:
        """``DELETE FROM … WHERE`` on Delta, the merge writer's locked
        rewrite otherwise (parquet tables don't support SQL DELETE)."""
        replace_where(
            self.spark,
            self.acon["where_clause"],
            db_table=self.acon["table_or_view"],
            data_format=ExecEnv.default_output_format(),
        )

    def vacuum(self) -> None:
        if not ExecEnv.delta_available():
            raise NotImplementedError("VACUUM requires delta-spark")
        tgt = self.acon.get("table_or_view") or f"delta.`{self.acon['location']}`"
        hours = self.acon.get("retention_hours", 720)
        self.spark.sql(f"VACUUM {tgt} RETAIN {hours} HOURS")

    def optimize(self) -> None:
        from lakehouse_engine_spark.terminators.terminator_factory import optimize_dataset

        optimize_dataset(
            self.spark,
            db_table=self.acon.get("table_or_view"),
            location=self.acon.get("location"),
            compute_table_stats=False,
            vacuum=False,
            optimize_where=self.acon.get("where_clause"),
            optimize_zorder_col_list=self.acon.get("optimize_zorder_col_list"),
        )

    def compute_table_statistics(self) -> None:
        self.spark.sql(f"ANALYZE TABLE {self.acon['table_or_view']} COMPUTE STATISTICS")
