"""Driver contract (PySpark target).

``entry(spark)`` runs the flagship query (TPC-H Q1 pricing summary,
expressed in the engine's Datalog surface and compiled to a Catalyst plan)
on sf0.001. ``queries()`` / ``oracle_sql()`` enumerate the gate corpus in
``tests/gates.py``: one Spark query per implemented operator (SURVEY.md
§2), each with a DuckDB oracle.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from crux_spark import Catalog
from crux_spark.datalog import q

# the corpus lives with the tests; load it as the top-level module
# ``gates``, the name pytest imports it under, so both share one registry
_TESTS = str(Path(__file__).resolve().parent / "tests")
if _TESTS not in sys.path:
    sys.path.append(_TESTS)
import gates  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: TPC-H Q1 via the Datalog -> DataFrame compiler."""
    catalog = Catalog(spark, "/root/testdata/sf0.001")
    return q(
        catalog,
        {
            "find": [
                "?flag",
                "?status",
                ["sum", "?qty", "sum_qty"],
                ["sum", "?price", "sum_base_price"],
                ["sum", "?disc_price", "sum_disc_price"],
                ["sum", "?charge", "sum_charge"],
                ["avg", "?qty", "avg_qty"],
                ["count", "?qty", "count_order"],
            ],
            "where": [
                ["?l", ":l_returnflag", "?flag"],
                ["?l", ":l_linestatus", "?status"],
                ["?l", ":l_quantity", "?qty"],
                ["?l", ":l_extendedprice", "?price"],
                ["?l", ":l_discount", "?d"],
                ["?l", ":l_tax", "?t"],
                ["?l", ":l_shipdate", "?sd"],
                [["<=", "?sd", "1998-09-02"]],
                [["*", "?price", ["-", 1, "?d"]], "?disc_price"],
                [["*", ["*", "?price", ["-", 1, "?d"]], ["+", 1, "?t"]], "?charge"],
            ],
            "order-by": [["?flag", "asc"], ["?status", "asc"]],
        },
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return gates.QUERIES


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for each queries() entry."""
    return gates.ORACLES
