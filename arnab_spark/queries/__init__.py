"""The operator corpus.

Every capability from SURVEY.md §2 gets a named query registered here:
a PySpark callable ``(spark, sf_dir) -> DataFrame`` and, where the
semantics are ANSI-SQL-expressible, an equivalent DuckDB oracle SQL
string. ``tests/test_corpus.py`` runs both sides on the fixtures and
compares row-count + schema + order-insensitive value hash — so results
must match the oracle EXACTLY, not approximately.

Float determinism contract
--------------------------
Sums/averages of DOUBLE columns are order-dependent in IEEE arithmetic,
and Spark's partial-aggregation order differs from DuckDB's. Every
compared aggregate therefore accumulates in DECIMAL (exact, associative)
and casts the final value back to DOUBLE; per-row arithmetic (mult/div)
stays in DOUBLE because single IEEE ops are deterministic and identical
across engines. Helpers: :func:`dsum`, :func:`davg` (and the matching
SQL spellings in each oracle string).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

#: decimal type wide enough for sums over ~1e9 rows of money-sized values
DEC = "decimal(18,6)"


@dataclass(frozen=True)
class Query:
    """One corpus entry: Spark implementation + optional DuckDB oracle."""

    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    headline: bool = False
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, Query] = {}


def query(name: str, oracle: str | None = None, headline: bool = False, tags: tuple[str, ...] = ()):
    """Decorator registering a corpus query."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = Query(name, fn, oracle, headline, tags)
        return fn

    return deco


def qlong(col: Column, scale: int) -> Column:
    """Quantize a fixed-decimal DOUBLE column to BIGINT units of 1/scale.

    ``floor(x * scale + 0.5)``: the fixtures' money columns carry ≤2
    decimal places (discount·price products: ≤4, charge: ≤6), so
    ``x * scale`` sits within a few ulp of an integer and the +0.5/floor
    snap recovers it exactly — identical in both engines because every
    step is a single IEEE op (Spark CAST(double AS BIGINT) truncates
    while DuckDB's rounds, so the oracle spells the floor explicitly).
    Summing primitive BIGINTs stays on the hash-agg fast path: measured
    ~4x faster than DECIMAL(18,6) accumulation on the sf0.1 pricing
    summary (0.28s vs 1.15s steady). Overflow headroom: max charge
    micro-units ≈ 1.3e11/row → safe to ~1e7 max-value rows (~1e8
    typical) PER GROUP; past that (sf ≳ 100 with 6 groups) switch the
    accumulator to :data:`DEC` via dsum — both spellings are kept in
    the corpus for exactly that reason (agg_having uses dsum). This is
    THE one definition of the quantization contract — every revenue
    expression in the corpus routes through it so a rounding-contract
    change lands everywhere at once."""
    return F.floor(col * F.lit(float(scale)) + F.lit(0.5)).cast("bigint")


def qexpr(expr: str, scale: int) -> str:
    """SQL-string twin of :func:`qlong` — the identical quantization
    expression rendered as text, for constructors built from expression
    strings (one py4j parse instead of per-op round-trips). Keep the
    arithmetic in lock-step with qlong: ``floor(x * scale + 0.5)`` in
    DOUBLE, cast BIGINT."""
    return f"CAST(floor(({expr}) * {float(scale)} + 0.5) AS BIGINT)"


def dsum(col: Column | str, alias: str) -> Column:
    """Exact (decimal-accumulated) sum of a double expression, as double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double").alias(alias)


def davg(col: Column | str, alias: str) -> Column:
    """Deterministic average: exact decimal sum divided by count, in double."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(c.cast(DEC)).cast("double") / F.count(F.lit(1))).alias(alias)


def all_queries() -> dict[str, Query]:
    """Import every corpus module (registration side effect) and return
    the registry. Iteration order is registration order: the order the
    corpus modules are first imported (the list below, unless a caller
    imported one earlier), then each module's definition order."""
    from arnab_spark.queries import (  # noqa: F401
        aggregates,
        dedup,
        dialect_parity,
        functions_corpus,
        joins,
        llm_text,
        multimodal,
        relational,
        similarity,
        timeseries,
        tpch_suite,
        windows,
    )

    return dict(REGISTRY)
