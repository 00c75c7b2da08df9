"""Programmatic entry points over the query registry.

``entry(spark)`` is a smoke query; ``queries()`` maps each registered
name to its ``(spark, sf_dir) -> DataFrame`` callable, and
``oracle_sql()`` maps the same names to DuckDB SQL that must return the
same rows (row-count + schema + order-insensitive value hash, see
:func:`arnab_spark.oracle.compare_frames`).

All real content lives in :mod:`arnab_spark.queries` — one registered
entry per operator from SURVEY.md §2 (plus the beyond-reference
LLM-pipeline operators). This file only adapts the registry to these
function signatures.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from arnab_spark.queries import all_queries  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the star-join revenue
    rollup (lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region)."""
    registry = all_queries()
    return registry["join_star_revenue"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: q.fn for name, q in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (omitted for
    non-SQL-expressible ops — approx sketches, sampling, Pandas-UDF
    plumbing — which get the driver's rows-only check)."""
    return {name: q.oracle for name, q in all_queries().items() if q.oracle}
