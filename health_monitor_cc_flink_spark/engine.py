"""Engine facade: one object wrapping session + catalog + pipelines.

The reference's user experience is "declare connections/tables, submit
SQL statements, read named outputs" (S1..S6).  ``Engine`` packages that
surface so a reference user can switch with minimal relearning:

    eng = Engine.local()
    eng.catalog.create_connection("pg", "jdbc", url=..., driver=...)
    patients = eng.catalog.create_external_table("patients", "pg", "patients")
    stages = eng.run_health_pipeline(events, patients)   # S3..S6
    eng.sql("SELECT * FROM heartbeat_alerts WHERE patient_id = 1")

SQL-first users get the same pipeline from statement text via
``run_health_pipeline_sql`` (ML OVER-aggregates as registered table
functions; plans/health_pipeline_sql.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .catalog import EngineCatalog
from .session import build_session, ensure_runtime_confs


class Engine:
    def __init__(self, spark: SparkSession):
        self.spark = ensure_runtime_confs(spark)
        self.catalog = EngineCatalog(spark)

    @classmethod
    def local(cls, **session_kwargs) -> "Engine":
        return cls(build_session(**session_kwargs))

    # -- SQL surface ----------------------------------------------------------
    def sql(self, text: str) -> DataFrame:
        return self.spark.sql(text)

    def register_ml_functions(self) -> None:
        from .functions.sql_udtf import register_sql_ml_functions

        register_sql_ml_functions(self.spark)

    # -- pipelines ------------------------------------------------------------
    def run_health_pipeline(
        self, events: DataFrame, patients: DataFrame, materialize: bool = False
    ) -> dict[str, DataFrame]:
        from .plans.health_pipeline import run_pipeline

        return run_pipeline(events, patients, catalog=self.catalog, materialize=materialize)

    def run_health_pipeline_sql(
        self, events: DataFrame, patients: DataFrame
    ) -> dict[str, DataFrame]:
        from .plans.health_pipeline_sql import run_pipeline_sql

        return run_pipeline_sql(self.spark, events, patients)

    # -- testdata convenience -------------------------------------------------
    def register_testdata(self, sf_dir: str) -> dict[str, DataFrame]:
        from .sources.testdata import register_testdata

        return register_testdata(self.spark, sf_dir)

    # -- registry surface -------------------------------------------------

    def list_operators(self) -> list[str]:
        """Names of every registered operator/query (the full engine
        surface — SURVEY §2 relational/streaming ops plus the
        training-data pipeline families)."""
        from .registry import all_queries

        return [s.name for s in all_queries()]

    def run_operator(self, name: str, sf_dir: str) -> DataFrame:
        """Run a registered operator by name against a testdata
        directory — the one-line way for a user to execute any of the
        260+ documented queries."""
        from .registry import all_queries

        specs = {s.name: s for s in all_queries()}
        if name not in specs:
            raise KeyError(
                f"unknown operator {name!r}; see Engine.list_operators()"
            )
        return specs[name].fn(self.spark, sf_dir)

    def describe_operator(self, name: str) -> str:
        """The operator's documentation (semantics, exactness contract,
        scale shape)."""
        from .registry import all_queries

        specs = {s.name: s for s in all_queries()}
        if name not in specs:
            raise KeyError(f"unknown operator {name!r}")
        return specs[name].doc
