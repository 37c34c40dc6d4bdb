"""Driver contract for the spark-graft builder (PySpark target).

Everything here derives from the engine's query inventory
(``syslog_kafka_spark.plans.registry``): ``queries()`` exposes one callable
per implemented operator from SURVEY.md §2, ``oracle_sql()`` the matching
DuckDB SQL for hash-compared correctness, and ``entry()`` runs the flagship
query as a smoke check.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from syslog_kafka_spark.plans.registry import load_all
from syslog_kafka_spark.session import RESULT_CONFS, set_confs

SMOKE_SF_DIR = "/root/testdata/sf0.001"
FLAGSHIP = "agg_pricing_summary"


def _utc(build: Callable[[SparkSession, str], DataFrame]) -> Callable[[SparkSession, str], DataFrame]:
    """Set ``session.RESULT_CONFS`` on the session before building.

    The driver supplies its own SparkSession, which ``get_spark`` never
    built: its time zone, its parquet timestamp inference and its reading
    of nanosecond timestamps would otherwise be whatever it was built with,
    and every oracle compares against DuckDB's tz-naive UTC values.
    """

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        set_confs(spark, RESULT_CONFS)
        return build(spark, sf_dir)

    return wrapped


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    specs = load_all()
    return _utc(specs[FLAGSHIP].build)(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: _utc(spec.build) for name, spec in load_all().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL for every SQL-expressible query."""
    return {name: spec.oracle for name, spec in load_all().items() if spec.oracle is not None}
