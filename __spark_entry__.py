"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (reference pipeline shape:
validate -> broadcast exact join -> band routing -> rollup) at sf0.001.
``queries()`` / ``oracle_sql()`` expose the full operator inventory from
SURVEY.md §2 with DuckDB oracle twins (see
``pyp_etl_pipeline_spark/driver_queries*.py``).

Workers import the package because the session ships it:
``session.ship_package`` adds a zip of it once per SparkContext, and
every entry point here calls it, since the harness builds its own bare
session and may run with a cwd outside this repo.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from pyp_etl_pipeline_spark import driver_queries_ext as _reg  # noqa: E402
from pyp_etl_pipeline_spark.session import ship_package  # noqa: E402


def _ensure_workers_can_import(spark: SparkSession) -> None:
    """Make ``pyp_etl_pipeline_spark`` importable inside Python workers
    regardless of the harness cwd (see ``session.ship_package``)."""
    ship_package(spark)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    _ensure_workers_can_import(spark)
    return _reg.core.flagship_band_rollup(spark, "/root/testdata/sf0.001")


def _wrap(fn: Callable[[SparkSession, str], DataFrame]) -> Callable[[SparkSession, str], DataFrame]:
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ensure_workers_can_import(spark)
        return fn(spark, sf_dir)

    wrapped.__name__ = getattr(fn, "__name__", "query")
    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _wrap(fn) for name, fn in _reg.queries().items()}


def oracle_sql() -> dict[str, str]:
    return _reg.oracle_sql()
