"""Plan-audit regression tests: the optimizations measurements/SCALE.md claims must
be visible in the physical plans, permanently."""

import os

from arnab_spark.plans import audit_plan
from arnab_spark.queries import all_queries

REG = all_queries()
SF = "/root/testdata/sf0.001"


def test_scan_prunes_and_pushes(spark):
    audit = audit_plan(REG["scan_project_filter"].fn(spark, SF))
    assert audit.scans, audit.plan_text[:500]
    # only the 4 needed columns reach the parquet reader
    assert audit.scanned_columns() <= {
        "l_orderkey", "l_extendedprice", "l_shipdate", "l_quantity"
    }
    assert audit.has_pushed_filter("l_shipdate")
    assert audit.has_pushed_filter("l_quantity")


def test_star_join_broadcasts_constant_dims(spark):
    audit = audit_plan(REG["join_star_revenue"].fn(spark, SF))
    assert "BroadcastHashJoin" in audit.joins
    # lineitem scan carries only join + measure columns
    li = [s for s in audit.scans if "l_extendedprice" in s.read_schema]
    assert li and "l_comment" not in li[0].read_schema


def test_theta_join_is_broadcast_nested_loop(spark):
    audit = audit_plan(REG["join_theta_range"].fn(spark, SF))
    assert "BroadcastNestedLoopJoin" in audit.joins


def test_pricing_single_exchange(spark):
    """Partial aggregation: one shuffle of aggregated partials only."""
    audit = audit_plan(REG["agg_pricing_summary"].fn(spark, SF))
    assert audit.n_exchanges == 1, audit.plan_text[:800]


def test_asof_single_scan_single_shuffle(spark):
    """The headline as-of join must scan events ONCE (tagged union from
    one when() projection, not two filtered scans) and shuffle once
    (the window partition on user_id)."""
    audit = audit_plan(REG["asof_join"].fn(spark, SF))
    event_scans = [s for s in audit.scans if "event_type" in s.read_schema]
    assert len(event_scans) == 1, audit.plan_text[:800]
    assert audit.n_exchanges == 1, audit.plan_text[:800]


def test_ivf_centroids_broadcast_not_shuffled(spark):
    """IVF assignment must broadcast the constant-k centroid side —
    corpus vectors never shuffle for centroid scoring (the only
    exchanges are the argmax groupBy and the final per-query top-k)."""
    audit = audit_plan(REG["ann_ivf_cells"].fn(spark, SF))
    assert "BroadcastNestedLoopJoin" in audit.joins or any(
        "Broadcast" in j for j in audit.joins
    ), audit.joins


def test_train_split_zero_shuffle(spark):
    """The splitter is a pure projection — any Exchange would mean the
    reproducibility claim (repartition-independent) is being paid for
    instead of free."""
    audit = audit_plan(REG["text_train_split"].fn(spark, SF))
    assert audit.n_exchanges == 0, audit.plan_text[:800]


def test_pack_sequences_single_shuffle(spark):
    """Packing shuffles once, on the shard key; shards pack
    independently."""
    audit = audit_plan(REG["text_pack_sequences"].fn(spark, SF))
    assert audit.n_exchanges == 1, audit.plan_text[:800]


def test_ohlc_single_shuffle_no_window(spark):
    """OHLC resample (round 15 rewrite, EVENTS_DECOMP_r15.json): ONE
    Exchange and NO WindowExec (the r13 plan's two row_number sorts
    over the full event set were 1.9 s of its 2.4 s sf10 wall).
    Open/close ride MIN/MAX(struct) PARTIAL aggregation — struct
    buffers make it a SortAggregate, whose grouping-key sorts are
    map-side over in-memory task partitions, and the shuffle now
    carries O(buckets) combined rows instead of every event row
    (adopted at 1.91x/1.18x both orders vs the window plan)."""
    audit = audit_plan(REG["time_resample_ohlc"].fn(spark, SF))
    assert audit.n_exchanges == 1, audit.plan_text[:800]
    assert "Window" not in audit.plan_text, audit.plan_text[:800]
    assert "partial_min" in audit.plan_text, audit.plan_text[:800]


def test_bm25_topk_is_take_ordered_with_no_token_explode(spark):
    """BM25 (round 14 rewrite): the final top-k must compile to
    TakeOrderedAndProject (k rows cross the wire, never a global
    sort), NO token explode may appear anywhere (doc length is
    size(split(..)), per-term tf is size(filter(..)) — array
    expressions instead of O(tokens) generated rows), and NO
    doc-cardinality join either (dl + the four tf counts stay in one
    row per doc; df/stats fold into the allowlisted 1-row broadcast) —
    measured sf10: 6.6 s with posting joins -> 1.98 s join-free."""
    audit = audit_plan(REG["text_bm25_topk"].fn(spark, SF))
    assert "TakeOrderedAndProject" in audit.plan_text, audit.plan_text[:800]
    assert "Generate explode" not in audit.plan_text, audit.plan_text[:800]
    assert "SortMergeJoin" not in audit.plan_text, audit.plan_text[:800]
    assert "ShuffledHashJoin" not in audit.plan_text, audit.plan_text[:800]


def test_funnel_single_scan_no_joins(spark):
    """Funnel (round 15 rewrite, EVENTS_DECOMP_r15.json): the join
    spelling re-scanned events once per stage and re-shuffled each
    stage's groupBy (~4-6x DuckDB at sf10); the array spelling is ONE
    scan + ONE per-user shuffle + a single-row global count — NO joins
    of any kind may appear, and no explode either (the funnel resolves
    with array_min(filter(..)) expressions in-row; the only Generate
    is the final stack() over the one-row counts)."""
    audit = audit_plan(REG["events_funnel"].fn(spark, SF))
    assert not audit.joins, audit.joins
    assert "Generate explode" not in audit.plan_text, audit.plan_text[:800]


def test_q10_aggregates_before_attribute_join(spark):
    """Q10 (round 15 rewrite, TPCH8_DECOMP_r15.json): revenue must
    aggregate per custkey BEFORE any customer-attribute join — the
    top-20 cut compiles to TakeOrderedAndProject on compact
    (custkey, revenue) pairs and the attribute joins are broadcasts of
    the 20-row side (the r13 spelling's attribute-carrying join output
    alone cost 11.3 s at sf10, ~3x the whole rewritten query)."""
    audit = audit_plan(REG["join_returned_item_revenue"].fn(spark, SF))
    assert "TakeOrderedAndProject" in audit.plan_text, audit.plan_text[:800]
    assert "SortMergeJoin" not in audit.plan_text, audit.plan_text[:800]
    assert "ShuffledHashJoin" not in audit.plan_text, audit.plan_text[:800]


def test_q5_broadcasts_dims(spark):
    """The Q5-shape composite must broadcast at least the constant dims
    (nation/region) — no shuffle for 25- and 5-row tables."""
    audit = audit_plan(REG["join_local_supplier_volume"].fn(spark, SF))
    assert "BroadcastHashJoin" in audit.joins, audit.plan_text[:800]


def test_star_join_broadcast_survives_aqe_off(spark):
    """broadcast_if_small must keep the built dim broadcast WITHOUT
    AQE's runtime re-measurement (the bench plan shape IS the
    production plan shape)."""
    old = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        audit = audit_plan(REG["join_star_revenue"].fn(spark, SF))
        assert "SortMergeJoin" not in audit.joins, audit.plan_text[:800]
        assert "BroadcastHashJoin" in audit.joins
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)


def test_bracketed_or_factors_pushdown_to_both_scans(spark):
    """Q19-shape: Catalyst must factor the per-side implications out of
    the OR'd brackets and push them to BOTH scans — lineitem gets the
    quantity envelope, part gets the brand/size envelope. At 100 TB this
    is the difference between scanning three brands and every part."""
    audit = audit_plan(REG["join_bracketed_discounts"].fn(spark, SF))
    assert audit.has_pushed_filter("l_quantity"), audit.plan_text[:800]
    assert audit.has_pushed_filter("p_brand"), audit.plan_text[:800]
    assert audit.has_pushed_filter("p_size"), audit.plan_text[:800]


def test_returned_item_topk_is_take_ordered(spark):
    """Q10-shape: the global top-20 must compile to TakeOrderedAndProject
    (per-partition heaps), never a full global Sort of the aggregate."""
    audit = audit_plan(REG["join_returned_item_revenue"].fn(spark, SF))
    assert "TakeOrderedAndProject" in audit.plan_text, audit.plan_text[:800]
    assert audit.has_pushed_filter("l_returnflag"), audit.plan_text[:800]
    assert audit.has_pushed_filter("o_orderdate"), audit.plan_text[:800]


def test_waiting_suppliers_single_fact_pass(spark):
    """Q21-shape: the EXISTS/NOT-EXISTS quantifiers must collapse into
    window counts over ONE pass of the orders⨝lineitem frame — exactly
    one lineitem scan, no semi/anti self-joins, no nested loop."""
    audit = audit_plan(REG["join_waiting_suppliers"].fn(spark, SF))
    li = [s for s in audit.scans if "l_suppkey" in s.read_schema]
    assert len(li) == 1, audit.plan_text[:800]
    assert "Window" in audit.plan_text, audit.plan_text[:800]
    assert "BroadcastNestedLoopJoin" not in audit.joins, audit.joins


def test_idle_rich_scalar_average_broadcasts(spark):
    """Q22-shape: the global-average threshold is a 1-row aggregate
    joined via broadcast — no collect, no shuffle of customer against
    the scalar."""
    audit = audit_plan(REG["join_idle_rich_customers"].fn(spark, SF))
    assert any("Broadcast" in j for j in audit.joins), audit.joins
    assert "LeftAnti" in audit.plan_text, audit.plan_text[:800]


# Queries ALLOWED to plan a nested-loop or cartesian join, each for a
# documented reason — everything else in the corpus must hash-join,
# sort-merge, or broadcast-hash. This is the fleet-wide 100 TB
# guardrail: an accidental O(n*m) join anywhere in the registry fails
# here before it ever reaches a cluster.
NESTED_LOOP_ALLOWED = {
    "join_cross",              # the deliberate CROSS JOIN corpus entry
    "join_theta_range",        # non-equi theta join: BNLJ with broadcast side IS the plan
    # (knn_cosine_brute left this list in round 4: the Arrow-matmul
    # path scores in mapInPandas — no nested-loop join in the plan.)
    "join_idle_rich_customers",  # 1-row broadcast scalar average (Q22 threshold)
    "ann_ivf_cells",           # constant-k centroid side broadcasts for cell argmax
    "ann_ivf_refined",         # same centroid broadcast, once per Lloyd step
    "ann_ivf_recall",          # same centroid broadcast, 2 Lloyd steps + wider probe
    "ann_pq_adc",              # ADC scoring join pairs queries x codes (broadcast NL by design)
    "text_tfidf_top_terms",    # 1-row broadcast scalar (corpus doc count for IDF)
    "agg_important_part_value",  # 1-row broadcast scalar total (Q11 fraction threshold)
    "text_dsir_weights",       # 1-row broadcast scalar totals (T/R token counts for the smoothed log-ratio)
    "text_dsir_resample",      # same 1-row totals broadcast, inherited via the weights CTE
    "text_decontaminate_bloom",  # 1-row broadcast scalar m_bits (derived Bloom size, round 13)
    "text_bm25_topk",          # 1-row broadcast corpus stats (N docs + total tokens for idf/avgdl)
    "dialect_series_columns",  # deliberate cross of constant-size series CTEs (4x3) + two 1-row aggregates — all broadcast
    # (join_top_supplier_revenue's scalar-MAX equality is NOT here:
    # Catalyst rewrites the 1-row cross join + units == max_units filter
    # into a broadcast HASH join on the equality — no nested loop.)
}


def test_no_accidental_nested_loop_joins_anywhere(spark):
    """Plan EVERY registry query and flag nested-loop/cartesian joins
    outside the documented allowlist (plus allowlist staleness: an entry
    that stops planning one must leave the list)."""
    flagged = {}
    for name, q in REG.items():
        try:
            audit = audit_plan(q.fn(spark, SF))
        except Exception:
            continue  # runnability is test_corpus's job, not this sweep's
        bad = [j for j in audit.joins if "NestedLoop" in j or "Cartesian" in j]
        if bad:
            flagged[name] = bad
    assert set(flagged) <= NESTED_LOOP_ALLOWED, {
        k: v for k, v in flagged.items() if k not in NESTED_LOOP_ALLOWED
    }
    assert NESTED_LOOP_ALLOWED <= set(flagged), (
        "stale allowlist entries:", NESTED_LOOP_ALLOWED - set(flagged)
    )


def test_q18_aggregates_lineitem_once(spark):
    """The Q18 composite must not fall back to the naive SQL plan (3
    lineitem scans, the HAVING aggregate computed twice): aggregate-once
    → filter → join means exactly ONE lineitem scan and ONE quantity
    aggregation pair (partial+final)."""
    audit = audit_plan(REG["join_large_orders_customers"].fn(spark, SF))
    li = [s for s in audit.scans if "l_quantity" in s.read_schema]
    assert len(li) == 1, audit.plan_text[:800]
    assert audit.plan_text.count("partial_sum") == 1, audit.plan_text[:800]


def test_range_join_is_hash_equi_join(spark):
    """The bucketed range join must plan as a hash equi-join on the
    bucket id — never a BroadcastNestedLoopJoin."""
    audit = audit_plan(REG["range_join_bucketed"].fn(spark, SF))
    assert "BroadcastNestedLoopJoin" not in audit.plan_text, audit.plan_text[:800]
    assert "CartesianProduct" not in audit.plan_text, audit.plan_text[:800]


def test_tfidf_df_side_broadcasts(spark):
    """TF-IDF: the document-frequency side is vocab-sized (does not
    grow with corpus rows) and must hash-broadcast into the per-doc
    ranking — the 1-row corpus count is the only nested loop."""
    audit = audit_plan(REG["text_tfidf_top_terms"].fn(spark, SF))
    assert "BroadcastHashJoin" in audit.joins, audit.joins


def test_pq_rerank_broadcasts_shortlist(spark):
    """PQ two-stage search: the exact re-rank must broadcast the
    shortlist side (constant x k rows per query) so the corpus streams
    through a hash join — full vectors never shuffle for re-ranking."""
    audit = audit_plan(REG["ann_pq_adc"].fn(spark, SF))
    assert "BroadcastHashJoin" in audit.joins, audit.joins


# ---------------------------------------------------------------------
# Cluster-shaped configuration axis (round 9, r8 verdict ask #8): the
# bench tunes shuffle.partitions=8 for the tiny local SF — a
# PERFORMANCE knob. These tests pin that it is performance-ONLY: under
# a 1000-executor-shaped configuration (200 shuffle partitions, 128 MB
# maxPartitionBytes — the defaults a real cluster job ships with) every
# audited plan SHAPE survives (broadcasts stay broadcasts, single-
# shuffle plans stay single-shuffle, pushdown still reaches the scan)
# and results stay hash-equal to DuckDB.

import pytest

CLUSTER_CONFS = [("200", str(128 * 1024 * 1024))]


@pytest.mark.parametrize("shuffle,max_bytes", CLUSTER_CONFS)
def test_plan_shapes_hold_under_cluster_shaped_config(spark, shuffle, max_bytes):
    old_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    old_bytes = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.shuffle.partitions", shuffle)
    spark.conf.set("spark.sql.files.maxPartitionBytes", max_bytes)
    try:
        audit = audit_plan(REG["scan_project_filter"].fn(spark, SF))
        assert audit.scanned_columns() <= {
            "l_orderkey", "l_extendedprice", "l_shipdate", "l_quantity"
        }
        assert audit.has_pushed_filter("l_shipdate")
        audit = audit_plan(REG["join_star_revenue"].fn(spark, SF))
        assert "BroadcastHashJoin" in audit.joins
        audit = audit_plan(REG["agg_pricing_summary"].fn(spark, SF))
        assert audit.n_exchanges == 1, audit.plan_text[:800]
        audit = audit_plan(REG["asof_join"].fn(spark, SF))
        assert audit.n_exchanges == 1, audit.plan_text[:800]
        audit = audit_plan(REG["text_train_split"].fn(spark, SF))
        assert audit.n_exchanges == 0, audit.plan_text[:800]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_shuffle)
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_bytes)


@pytest.mark.parametrize("shuffle,max_bytes", CLUSTER_CONFS)
def test_correctness_holds_under_cluster_shaped_config(spark, shuffle, max_bytes):
    """Results (not just shapes) under the cluster-shaped config: two
    headliners hash-compared against DuckDB running the same oracle —
    a 200-partition shuffle must not perturb a single value."""
    import duckdb

    old_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    old_bytes = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.shuffle.partitions", shuffle)
    spark.conf.set("spark.sql.files.maxPartitionBytes", max_bytes)
    try:
        from arnab_spark.oracle import compare_frames, duckdb_connection

        con = duckdb_connection(SF)
        for name in ("agg_pricing_summary", "asof_join", "dedup_exact"):
            verdict = compare_frames(
                name,
                REG[name].fn(spark, SF).toPandas(),
                con.execute(REG[name].oracle).fetchdf(),
            )
            assert verdict.ok, str(verdict)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_shuffle)
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_bytes)


@pytest.mark.parametrize("shuffle,max_bytes", CLUSTER_CONFS)
def test_demo_pipeline_runs_under_cluster_shaped_config(
    spark, shuffle, max_bytes, tmp_path
):
    """The reference demo project end-to-end with its spark_settings
    rewritten to the cluster-shaped values — the engine's own
    settings-override path (reference: main.rs:135-155) carries the
    config, proving the pipeline is config-portable, not tuned-to-8."""
    import shutil

    from arnab_spark.config import load_config
    from arnab_spark.session import Session

    old_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    proj = str(tmp_path / "basic")
    shutil.copytree("examples/basic", proj)
    cfg_text = open(os.path.join(proj, "config.yaml")).read().replace(
        'spark.sql.shuffle.partitions: "8"',
        f'spark.sql.shuffle.partitions: "{shuffle}"\n'
        f'  spark.sql.files.maxPartitionBytes: "{max_bytes}"',
    )
    with open(os.path.join(proj, "config.yaml"), "w") as fh:
        fh.write(cfg_text)
    old = os.getcwd()
    os.chdir(proj)
    try:
        report = Session(load_config("."), spark).run(quiet=True)
        assert report.ok, report.errors
        assert spark.conf.get("spark.sql.shuffle.partitions") == shuffle
        assert spark.table("top_products").count() > 0
    finally:
        os.chdir(old)
        spark.conf.set("spark.sql.shuffle.partitions", old_shuffle)
        spark.conf.unset("spark.sql.files.maxPartitionBytes")


def test_decontaminate_joins_on_digest_via_broadcast(spark):
    """The r15 digestjoin spelling: the gram stream explodes 16-byte
    unhex(md5(...)) digests (never the ~48-char gram strings), and the
    held-out side still broadcasts — no sort-merge join, no shuffle of
    the raw n-gram text."""
    audit = audit_plan(REG["text_decontaminate"].fn(spark, SF))
    assert any("BroadcastHashJoin" in j for j in audit.joins), audit.joins
    assert "SortMergeJoin" not in audit.plan_text, audit.plan_text[:800]
    assert "unhex(md5(" in audit.plan_text, audit.plan_text[:1200]
