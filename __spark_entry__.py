"""Driver contract for the spark-graft builder (PySpark target).

Thin facade over ``etl_asana_spark``: the engine's query catalog
(etl_asana_spark/catalog.py) is the source of truth; every operator from
SURVEY.md §2 registers itself there with its DuckDB oracle. The driver's
verify runs ``entry(spark)`` as a smoke check, runs each ``queries()[name]``
at sf=0.01 and compares it against ``oracle_sql()[name]`` via DuckDB
(row-count + schema + order-insensitive value-hash → CORRECTNESS_r{N}.json).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_asana_spark import catalog as _catalog  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001: 4-way star join → grouped revenue.

    Exercises the whole lifecycle (scan → broadcast+shuffle joins → partial/
    final aggregate → exchange) in one plan; driver checks rows > 0.
    """
    return _catalog.queries()["q_join_star"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Gate-facing ordering: the driver verifies a time/count-budgeted PREFIX
    of this dict, so keys are ordered least-externally-verified first (see
    catalog._rotated for the full disclosure). The library API
    ``catalog.queries()`` stays in deterministic registration order.
    """
    return _catalog.queries(ordering="verification-rotation")


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle for every query key."""
    return _catalog.oracle_sql(ordering="verification-rotation")
