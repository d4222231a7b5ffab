"""User-facing engine facade (SURVEY.md §3.4 entry points).

A user of the reference deployment interacts through three doors:
``spark-sql`` (SQL strings), the DataFrame API, and catalog-managed
tables (README.md:35-51). This facade packages the same three doors
over this engine:

    eng = Engine.local(warehouse="/tmp/wh")
    eng.register_fixtures("/root/testdata/sf0.01")       # temp views
    eng.sql("SELECT count(*) FROM lineitem").show()       # door 1
    eng.table("orders").filter(...).groupBy(...)          # door 2
    t = eng.create_table("events_gold", df)               # door 3
    t.merge_into(...); eng.table_snapshot("events_gold", version=1)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .session import get_spark
from .sources import sql_dml
from .sources.lakehouse import LakehouseTable
from .tables import TABLES, load_table, register_temp_views


class Engine:
    """SQL + DataFrame + managed-table surface over one SparkSession."""

    def __init__(self, spark: SparkSession, warehouse: str | None = None):
        self.spark = spark
        self.warehouse = warehouse
        self._tables: dict[str, LakehouseTable] = {}
        # time-travel temp views registered by the current statement's
        # rewrite; dropped after execution (sql_dml.rewrite_time_travel)
        self._tt_views: set[str] = set()

    @classmethod
    def local(
        cls, warehouse: str | None = None, cpus: int | None = None
    ) -> "Engine":
        return cls(get_spark(cpus=cpus), warehouse=warehouse)

    # ---- door 1: SQL (SELECT via Spark SQL; DML via the lakehouse layer) ----
    def sql(self, query: str) -> DataFrame:
        """Run a SQL string. MERGE INTO / UPDATE / DELETE — the
        reference's signature spark-sql UX (README.md:35-45, enabled
        there by IcebergSparkSessionExtensions, main.tf:803) — are
        parsed by sources/sql_dml.py and dispatched to the managed
        snapshot layer; everything else goes straight to Spark SQL."""
        if sql_dml.classify(query) is not None:
            return sql_dml.execute(self, query)
        # SELECT-side time travel (VERSION/TIMESTAMP AS OF) resolves
        # through the snapshot layer before Spark sees the query
        query = sql_dml.rewrite_time_travel(self, query)
        try:
            # spark.sql analyzes eagerly (Dataset.ofRows asserts
            # analysis), so the __tt_* views resolve into df's plan at
            # this call — safe to drop right after, and on error too
            return self.spark.sql(query)
        finally:
            # drop even when the statement fails; views would otherwise
            # accumulate in the session and pin expired warehouse files
            while self._tt_views:
                self.spark.catalog.dropTempView(self._tt_views.pop())

    # ---- door 2: DataFrame over fixtures / views ----
    def register_fixtures(self, sf_dir: str) -> None:
        register_temp_views(self.spark, sf_dir)

    def table(self, name: str, sf_dir: str | None = None) -> DataFrame:
        """A fixture table (when sf_dir given), a managed lakehouse
        table (when created through this engine), else a session view."""
        if sf_dir is not None and name in TABLES:
            return load_table(self.spark, sf_dir, name)
        if name in self._tables:
            return self._tables[name].read()
        return self.spark.table(name)

    # ---- door 3: managed snapshot tables ----
    def _require_warehouse(self) -> str:
        if not self.warehouse:
            raise ValueError("Engine needs a warehouse dir for managed tables")
        return self.warehouse

    def create_table(self, name: str, df: DataFrame) -> LakehouseTable:
        t = LakehouseTable(self.spark, self._require_warehouse(), name)
        t.create(df)
        self._tables[name] = t
        t.read().createOrReplaceTempView(name)  # SQL door sees it too
        return t

    def managed(self, name: str) -> LakehouseTable:
        if name not in self._tables:
            t = LakehouseTable(self.spark, self._require_warehouse(), name)
            if t.current_version() == 0:
                raise KeyError(f"no managed table {name!r}")
            self._tables[name] = t
        return self._tables[name]

    def refresh_view(self, name: str) -> None:
        """Re-point the SQL-door temp view at the current snapshot.
        Temp views capture the file list at registration time, so call
        this after DML on a managed table (or use .managed(name).read()
        which always resolves the manifest)."""
        self.managed(name).read().createOrReplaceTempView(name)

    def table_snapshot(self, name: str, version: int) -> DataFrame:
        return self.managed(name).read(version=version)
