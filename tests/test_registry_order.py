"""Guards for the registry contract that ``__spark_entry__.py`` exposes.

The headline set (the queries the benchmark times) must stay the same
whatever the registration order, every query must carry a DuckDB oracle,
and no oracled query may emit a non-atomic top-level column: a consumer
that canonicalizes results with pandas ``sort_values`` throws on
unhashable cells.
"""

import os

import pytest

from arnab_spark.queries import all_queries

TEST_SF_DIR = os.environ.get("ARNAB_TEST_SF_DIR", "/root/testdata/sf0.001")

_REGISTRY = all_queries()

HEADLINE = {
    "agg_pricing_summary",
    "asof_join",
    "dedup_exact",
    "dedup_minhash_lsh",
    "join_star_revenue",
    "knn_cosine_brute",
    "sessionize_gaps",
    "text_token_count",
}


def test_headline_set_stable_under_reordering():
    assert {n for n, q in _REGISTRY.items() if q.headline} == HEADLINE


def test_every_query_is_oracled():
    """Since round 3 every registry entry carries an exact oracle —
    table_sample, the last rows-only entry, became a deterministic
    hash-Bernoulli sample with a DuckDB-matching filter."""
    rows_only = sorted(n for n, q in _REGISTRY.items() if not q.oracle)
    assert rows_only == []


@pytest.mark.parametrize(
    "name", sorted(n for n, q in _REGISTRY.items() if q.oracle)
)
def test_oracled_output_columns_are_atomic(spark, name):
    """Every oracled query must emit only atomic top-level columns
    (round-1 finding: 4 queries crashed a pandas-sorting consumer)."""
    schema = _REGISTRY[name].fn(spark, TEST_SF_DIR).schema
    bad = [
        f.name
        for f in schema.fields
        if f.dataType.typeName() in ("array", "map", "struct")
    ]
    assert not bad, f"{name}: non-atomic driver-facing columns {bad}"
