"""sf1 (10x) correctness differential — round-6 verdict item 5.

The exact-decimal / quantization contract (``qlong`` in
``arnab_spark/queries/__init__.py``) carries a documented overflow
headroom argument: BIGINT micro-unit accumulation is safe to ~1e7
max-value rows PER GROUP, i.e. far past sf1. That was arithmetic; this
test makes it measured fact by hash-comparing the headline +
quantization-sensitive queries against DuckDB at the 10x scale point —
any scale-dependent drift in the rounding contract (or in join
fan-out-sensitive plans) surfaces here.

Always runs. The module fixture ``sf1_dir`` generates ``.scaledata/sf1``
with ``tools/gen_scale.generate`` on first use (about a minute of
pandas/parquet, gitignored) and reuses it afterwards.
"""

import os

import pytest

from arnab_spark.oracle import run_compare
from arnab_spark.queries import all_queries

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF1_DIR = os.path.join(REPO, ".scaledata", "sf1")

_REGISTRY = all_queries()

#: the 8 headline queries + the quantization-sensitive composites
#: (qlong BIGINT micro-unit accumulation: pricing summary and the
#: revenue-summing TPC-H shapes; agg_having is the DEC-accumulator
#: twin kept precisely for the post-headroom regime)
SF1_QUERIES = [
    "agg_pricing_summary",
    "asof_join",
    "dedup_exact",
    "dedup_minhash_lsh",
    "join_star_revenue",
    "knn_cosine_brute",
    "sessionize_gaps",
    "text_token_count",
    "agg_having",
    "agg_promo_revenue_share",
    "join_shipping_priority",
    "join_bracketed_discounts",
    # round-10: the large-star/small-star closure gets a 10x-scale
    # oracle differential (the algorithm swap's correctness was proven
    # at sf0.001-0.01; this pins it where components grow to the
    # hundreds and the op count to ~10)
    "dedup_connected_groups",
]

@pytest.fixture(scope="module")
def sf1_dir():
    # ALWAYS call generate — it is idempotent (marker short-circuit)
    # and widens in place when the dir was generated with a table
    # SUBSET (relying on isdir() here once made the differential read
    # a partial scale point and fail on every non-embeddings table)
    from tools.gen_scale import generate

    generate(dest=SF1_DIR)
    return SF1_DIR


def test_scale_marker_records_and_enforces_table_subset(tmp_path):
    """Round-7 advice item 2 (low) + round-9 widening + round-10
    exact-field parsing: the ``_SCALE_OK`` short-circuit used to ignore
    ``tables=``, then checked it by SUBSTRING membership over the whole
    marker line — a src path containing a table name silently skipped
    generating that table, and a dest built at different copies/src
    could be widened with mismatched content. Covered requests
    short-circuit; broader v2 requests generate only the MISSING
    tables (exact-name comparison); copies/src mismatches regenerate
    from scratch (content is a pure function of the inputs, so there
    is nothing to raise about)."""
    import pandas as pd

    from tools.gen_scale import generate

    src = "/root/testdata/sf0.001"
    dest = tmp_path / "sfX"
    generate(src=src, dest=str(dest), copies=2, tables=("lineitem", "orders"))
    marker0 = (dest / "_SCALE_OK").read_text()
    li_mtime = os.path.getmtime(dest / "lineitem.parquet")
    # covered narrower request short-circuits (marker untouched)
    assert generate(
        src=src, dest=str(dest), copies=2, tables=("lineitem",)
    ) == str(dest)
    assert (dest / "_SCALE_OK").read_text() == marker0
    # broader v2 request widens in place: only the missing tables are
    # generated (lineitem untouched), the marker records the union
    out = generate(
        src=src, dest=str(dest), copies=2, tables=("lineitem", "region")
    )
    assert out == str(dest)
    assert os.path.exists(dest / "region.parquet")
    assert os.path.getmtime(dest / "lineitem.parquet") == li_mtime
    recorded = (dest / "_SCALE_OK").read_text()
    for t in ("lineitem", "orders", "region"):
        assert f"'{t}'" in recorded
    # region copies verbatim (dimension table)
    assert pd.read_parquet(dest / "region.parquet").shape == (
        pd.read_parquet(os.path.join(src, "region.parquet")).shape
    )
    # a COPIES mismatch regenerates from scratch at the new scale
    generate(src=src, dest=str(dest), copies=3, tables=("region", "nation"))
    rec = (dest / "_SCALE_OK").read_text()
    assert "copies=3" in rec and "'lineitem'" not in rec
    # a full-set v2 marker satisfies everything at matching copies/src
    (dest / "_SCALE_OK").write_text(f"v=2 copies=3 src={src} tables=all\n")
    m3 = (dest / "_SCALE_OK").read_text()
    assert generate(src=src, dest=str(dest), copies=3, tables=None) == str(dest)
    assert (dest / "_SCALE_OK").read_text() == m3


def test_scale_marker_src_path_containing_table_name(tmp_path):
    """THE round-10 advice scenario: a src path that CONTAINS a table
    name (…/orders_fixture/…) used to satisfy the substring membership
    check and silently skip generating that table — the widened dir
    then returned partial. With exact tables=() parsing the request
    generates orders for real."""
    from tools.gen_scale import generate

    real = "/root/testdata/sf0.001"
    poisoned = tmp_path / "orders_fixture"  # 'orders' inside the path
    poisoned.mkdir()
    for f in os.listdir(real):
        if f.endswith(".parquet"):
            os.symlink(os.path.join(real, f), poisoned / f)
    dest = tmp_path / "sfZ"
    generate(src=str(poisoned), dest=str(dest), copies=2, tables=("nation",))
    assert "orders_fixture" in (dest / "_SCALE_OK").read_text()
    assert not os.path.exists(dest / "orders.parquet")
    # the old substring check would have seen 'orders' in the src path
    # and skipped this widening entirely
    generate(src=str(poisoned), dest=str(dest), copies=2, tables=("orders",))
    assert os.path.exists(dest / "orders.parquet")


def test_scale_pre_v2_dir_regenerates_events_scaled(tmp_path):
    """Round-8: events changed from a verbatim copy to a keyed-scaled
    fact table (the asof scale family). A dir generated pre-v2 holds
    sf0.1-sized events; it must regenerate in place (round-10: ANY
    unparseable or non-v2 marker regenerates — content is a pure
    function of the inputs) instead of raising."""
    import pandas as pd

    from tools.gen_scale import generate

    src = "/root/testdata/sf0.001"
    dest = tmp_path / "sfY"
    generate(src=src, dest=str(dest), copies=2)
    marker = (dest / "_SCALE_OK").read_text()
    assert "v=2" in marker
    ev_src = pd.read_parquet(os.path.join(src, "events.parquet"))
    ev = pd.read_parquet(dest / "events.parquet")
    # keyed scaling: 2x rows, disjoint user/event keys per copy
    assert len(ev) == 2 * len(ev_src)
    assert ev["user_id"].nunique() == 2 * ev_src["user_id"].nunique()
    assert ev["event_id"].is_unique
    # stamp the marker pre-v2: a wanting-events request regenerates
    (dest / "_SCALE_OK").write_text("copies=2 src=s tables=all\n")
    generate(src=src, dest=str(dest), copies=2)
    assert "v=2" in (dest / "_SCALE_OK").read_text()


@pytest.mark.parametrize("name", SF1_QUERIES)
def test_sf1_oracle_match(spark, sf1_dir, name):
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    try:
        q = _REGISTRY[name]
        result = run_compare(spark, name, q.fn, q.oracle, sf1_dir)
        assert result.ok, str(result)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
