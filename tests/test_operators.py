"""Differential tests for the public operators API (arnab_spark.operators)
on their own — the corpus queries already route through most of them;
these cover the remaining surface and generic-parameter behavior."""

import duckdb

from pyspark.sql import functions as F

from arnab_spark.operators import (
    asof_join,
    minhash_signatures,
    sessionize,
    shingle_ngrams,
    top_k_per_group,
)
from arnab_spark.oracle import compare_frames
from arnab_spark.spark_utils import load_table

SF = "/root/testdata/sf0.001"


def test_asof_join_without_by_key(spark):
    """Global (un-keyed) as-of: every lineitem gets the latest order on
    or before its shipdate — checked against DuckDB's ASOF JOIN."""
    l = load_table(spark, SF, "lineitem").select("l_orderkey", "l_linenumber", "l_shipdate")
    o = load_table(spark, SF, "orders").select(
        F.col("o_orderkey").alias("last_ok"), F.col("o_orderdate").alias("od")
    )
    # make the right side's (time -> row) mapping unique so the as-of
    # result is well-defined: keep the max orderkey per orderdate
    o1 = top_k_per_group(o, ["od"], [F.col("last_ok").desc()], 1)
    got = asof_join(l, o1, on="l_shipdate", right_on="od", suffix="").toPandas()
    con = duckdb.connect()
    want = con.execute(f"""
        WITH o1 AS (
          SELECT max(o_orderkey) AS last_ok, o_orderdate AS od
          FROM read_parquet('{SF}/orders.parquet') GROUP BY o_orderdate
        )
        SELECT l.l_orderkey, l.l_linenumber, l.l_shipdate, o1.last_ok, o1.od
        FROM read_parquet('{SF}/lineitem.parquet') l
        ASOF LEFT JOIN o1 ON l.l_shipdate >= o1.od
    """).fetchdf()
    cmp = compare_frames("asof_no_by", got, want)
    assert cmp.ok, str(cmp)


def test_sessionize_session_count_matches_oracle(spark):
    e = load_table(spark, SF, "events")
    got = (
        sessionize(e, "user_id", "ts", 3600, order_tiebreak="event_id")
        .groupBy("user_id")
        .agg(F.countDistinct("session_id").alias("n_sessions"))
        .toPandas()
    )
    con = duckdb.connect()
    want = con.execute(f"""
        WITH flagged AS (
          SELECT user_id,
                 CASE WHEN CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP))
                      OVER (PARTITION BY user_id ORDER BY ts, event_id)
                      > INTERVAL 1 HOUR THEN 1 ELSE 0 END AS ns
          FROM read_parquet('{SF}/events.parquet')
        )
        SELECT user_id, CAST(SUM(ns) + 1 AS BIGINT) AS n_sessions
        FROM flagged GROUP BY user_id
    """).fetchdf()
    cmp = compare_frames("sessionize_counts", got, want)
    assert cmp.ok, str(cmp)


def test_shingle_minhash_operator_matches_corpus_sql(spark):
    """operators.shingle_ngrams + minhash_signatures must reproduce the
    corpus SQL signature table exactly."""
    from arnab_spark.queries.dedup import _MINHASH_SPARK

    d = load_table(spark, SF, "documents")
    got = minhash_signatures(
        shingle_ngrams(d, "doc_id", "text", 3), "doc_id", shingle_hash="sha256"
    ).toPandas()
    d.createOrReplaceTempView("documents")
    want = spark.sql(_MINHASH_SPARK + "SELECT doc_id, band, sig FROM sigs").toPandas()
    cmp = compare_frames("minhash_op_vs_sql", got, want)
    assert cmp.ok, str(cmp)


def test_minhash_xxhash64_family_finds_the_same_duplicates(spark):
    """The xxhash64 signature family (round 13, the CC-pair-build swap
    candidate) must behave as a MinHash family: exact-duplicate docs
    collide on every band, disjoint docs collide on none, and the
    per-band seeds give independent (non-identical) hash functions."""
    from pyspark.sql import functions as F

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),  # exact dup of 1
        (3, "one two three four five six seven"),
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = minhash_signatures(
        shingle_ngrams(d, "doc_id", "text", 3), "doc_id", shingle_hash="xxhash64"
    )
    pdf = sigs.toPandas()
    assert set(pdf["band"].unique()) == set(range(8))
    by_doc = {
        doc: dict(zip(g["band"], g["sig"])) for doc, g in pdf.groupby("doc_id")
    }
    assert by_doc[1] == by_doc[2]  # dup docs collide on all 8 bands
    assert all(by_doc[1][b] != by_doc[3][b] for b in range(8))
    # the per-band seed must differentiate the bands (independent fns)
    assert len(set(by_doc[1].values())) > 1
    # sig column is BIGINT (native xxhash64), not hex
    assert dict(sigs.dtypes)["sig"] == "bigint"


def test_minhash_rejects_unknown_hash_family(spark):
    import pytest as _pytest

    d = spark.createDataFrame([(1, "a b c d")], ["doc_id", "text"])
    with _pytest.raises(ValueError, match="shingle_hash"):
        minhash_signatures(
            shingle_ngrams(d, "doc_id", "text", 3), "doc_id", shingle_hash="md5"
        )


def test_top_k_per_group_bound(spark):
    c = load_table(spark, SF, "customer")
    top2 = top_k_per_group(
        c, ["c_nationkey"], [F.col("c_acctbal").desc(), F.col("c_custkey")], 2
    )
    sizes = top2.groupBy("c_nationkey").count().agg(F.max("count")).collect()[0][0]
    assert sizes <= 2
    assert set(top2.columns) == set(c.columns)  # helper column dropped


def test_lsh_bucket_ids_matches_corpus_sql(spark):
    """operators.lsh_bucket_ids must produce the identical (vec, table,
    bucket) assignment as the hand-inlined SQL in the ANN corpus query —
    locks the two implementations together so they cannot drift."""
    from arnab_spark.operators import lsh_bucket_ids, quantize_embeddings
    from arnab_spark.queries.similarity import _ann_sql
    from arnab_spark.spark_utils import register_views

    e = quantize_embeddings(load_table(spark, SF, "embeddings"), "embedding", 64)
    got = lsh_bucket_ids(e, "iv", 64).select("vec_id", "table_id", "bucket").toPandas()
    register_views(spark, SF, ("embeddings",))
    sql = _ann_sql("spark")
    head = sql[: sql.index(",\nqueries AS")]
    want = spark.sql(head + "\nSELECT vec_id, table_id, bucket FROM bucketed").toPandas()
    cmp = compare_frames("lsh_op_vs_sql", got, want)
    assert cmp.ok, str(cmp)


def test_connected_components_known_graph(spark):
    """Chain 1-2-3-4 (diameter > 1 round), triangle 10-11-12 with a
    redundant edge, isolated pair 20-21: labels must converge to the
    component minimum for every node."""
    from arnab_spark.operators import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "src bigint, dst bigint",
    )
    got = {
        (r.node, r.comp) for r in connected_components(edges, "src", "dst").collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20),
    }


def test_connected_components_unconverged_max_iter_raises(spark):
    """Round-11 (r10 advice): exhausting max_iter before the two-
    consecutive-fixpoint check fires must raise, not silently read
    labels off a non-star-forest edge set (which can emit multiple
    (node, comp) rows per node — a cardinality divergence worse than a
    wrong label)."""
    import pytest

    from arnab_spark.operators import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7), (7, 8)],
        "src bigint, dst bigint",
    )
    # small_graph_edges=0 forces the distributed star contraction (the
    # round-16 single-task fast path has no rounds to exhaust)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(
            edges, "src", "dst", max_iter=1, small_graph_edges=0
        )
    # a max_iter that allows convergence still succeeds on this graph
    got = {
        (r.node, r.comp)
        for r in connected_components(
            edges, "src", "dst", small_graph_edges=0
        ).collect()
    }
    assert got == {(n, 1) for n in range(1, 9)}


def test_connected_components_random_multigraphs_match_union_find(spark):
    """Round-15 internals pin: the star operations were respelled as
    window minima over a single-materialized edge base with lazy
    (checksum-fused) local checkpoints (CC_FUSE_r15.json). Labels on
    seeded random multigraphs — duplicate edges, self-loops, skewed
    degrees, singleton self-loop nodes — must still equal the
    component minimum computed by a plain union-find.

    Round 16: renamed — this function was silently SHADOWED by the
    same-named r10 differential test later in the module (Python keeps
    the last definition; pytest never collected this one) — and now
    exercises BOTH operator paths: the round-16 single-task union-find
    fast path (the default at these edge counts, CC_FUSE2_r16.json)
    and the distributed star contraction (``small_graph_edges=0``)."""
    import random

    from arnab_spark.operators import connected_components

    for seed, n_nodes, n_edges in ((7, 40, 30), (8, 60, 90), (9, 25, 80)):
        rng = random.Random(seed)
        pairs = [
            (rng.randrange(n_nodes), rng.randrange(n_nodes))
            for _ in range(n_edges)
        ]
        parent = list(range(n_nodes))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for u, v in pairs:
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)
        touched = sorted({x for p in pairs for x in p})
        want = {(x, find(x)) for x in touched}
        edges = spark.createDataFrame(pairs, "src bigint, dst bigint")
        for small in (None, 0):  # fast path (default) + distributed
            got = {
                (r.node, r.comp)
                for r in connected_components(
                    edges, "src", "dst", small_graph_edges=small
                ).collect()
            }
            assert got == want, f"seed={seed} small_graph_edges={small}"


def test_hash_split_generic_bounds(spark):
    """Custom 2-way split: every row lands in exactly one named split,
    bucket in [0,256), and the assignment is stable across invocations
    (pure hash, no RNG)."""
    from arnab_spark.operators import hash_split
    from arnab_spark.spark_utils import load_table

    docs = load_table(spark, SF, "documents").select("doc_id")
    out = hash_split(docs, "doc_id", splits=(("a", 128), ("b", 256)))
    rows = out.collect()
    assert all(0 <= r.bucket < 256 for r in rows)
    assert {r.split for r in rows} == {"a", "b"}
    assert all((r.split == "a") == (r.bucket < 128) for r in rows)
    again = {(r.doc_id, r.split) for r in hash_split(docs, "doc_id",
             splits=(("a", 128), ("b", 256))).collect()}
    assert again == {(r.doc_id, r.split) for r in rows}
    import pytest

    with pytest.raises(ValueError):
        hash_split(docs, "doc_id", splits=(("a", 100),))


def test_pack_sequences_generic_budget(spark):
    """Budget 100: pack_id == exclusive-cumsum // budget within each
    shard, packs are contiguous in order_col, first row of each shard
    is pack 0."""
    from arnab_spark.operators import pack_sequences

    df = spark.createDataFrame(
        [("s1", 1, 60), ("s1", 2, 60), ("s1", 3, 60), ("s2", 1, 250), ("s2", 2, 10)],
        "shard string, seq int, toks int",
    )
    got = {
        (r.shard, r.seq): (r.cum_tokens, r.pack_id)
        for r in pack_sequences(df, "toks", "seq", "shard", budget=100).collect()
    }
    assert got == {
        ("s1", 1): (60, 0),   # excl-cum 0
        ("s1", 2): (120, 0),  # excl-cum 60
        ("s1", 3): (180, 1),  # excl-cum 120
        ("s2", 1): (250, 0),  # oversize doc still gets its own pack
        ("s2", 2): (260, 2),  # excl-cum 250
    }


def test_stratified_sample_generic_fraction(spark):
    """25% sample: exactly ceil(n/4) rows per stratum, deterministic
    across calls."""
    import math

    from arnab_spark.operators import stratified_sample
    from arnab_spark.spark_utils import load_table

    docs = load_table(spark, SF, "documents").select("doc_id", "lang")
    out = stratified_sample(docs, "lang", "doc_id", 1, 4)
    from pyspark.sql import functions as F

    per = {r.lang: r.n for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    want = {
        r.lang: math.ceil(r.n / 4)
        for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert per == want
    a = {r.doc_id for r in out.collect()}
    b = {r.doc_id for r in stratified_sample(docs, "lang", "doc_id", 1, 4).collect()}
    assert a == b


def test_proximity_join_boundaries(spark):
    """Window boundaries are inclusive at both ends and pairs that span
    a bucket edge are found exactly once."""
    import pytest
    from arnab_spark.operators import proximity_join

    # window = 10 s; bucket edges every 10 s from the epoch. Left at
    # t=8s has interval [8, 18] crossing the bucket edge at 10.
    left = spark.createDataFrame(
        [(1, "2024-01-01 00:00:08")], "lid int, lts string"
    ).withColumn("lts", F.col("lts").cast("timestamp"))
    right = spark.createDataFrame(
        [
            (10, "2024-01-01 00:00:07.999999"),  # before window
            (11, "2024-01-01 00:00:08"),         # == start (inclusive)
            (12, "2024-01-01 00:00:12"),         # next bucket, inside
            (13, "2024-01-01 00:00:18"),         # == end (inclusive)
            (14, "2024-01-01 00:00:18.000001"),  # 1 us past the end
        ],
        "rid int, rts string",
    ).withColumn("rts", F.col("rts").cast("timestamp"))
    got = proximity_join(left, right, "lts", "rts", 10)
    assert sorted(r.rid for r in got.collect()) == [11, 12, 13]
    # each pair exactly once even when the left interval spans 2 buckets
    assert got.count() == 3
    with pytest.raises(ValueError, match="overlapping columns"):
        proximity_join(left, left, "lts", "lts", 10)


def test_cosine_knn_arrow_matches_declarative(spark):
    """The Arrow-matmul scoring path must be BIT-identical to the
    declarative broadcast-nested-loop spelling — same exact integer
    dots, same IEEE cosine ops, same (cosine DESC, neighbor_id) total
    order."""
    from arnab_spark.operators import cosine_knn, quantize_embeddings

    e = quantize_embeddings(load_table(spark, SF, "embeddings"), "embedding", 64)
    q = e.filter(F.col("vec_id") < 10)
    fast = cosine_knn(q, e, "vec_id", "vec_id", k=5, arrow=True).collect()
    slow = cosine_knn(q, e, "vec_id", "vec_id", k=5, arrow=False).collect()
    key = lambda r: (r["query_id"], r["rnk"])  # noqa: E731
    assert sorted(map(tuple, fast), key=lambda t: (t[0], t[3])) == sorted(
        map(tuple, slow), key=lambda t: (t[0], t[3])
    )
    assert len(fast) == 50


def test_cosine_knn_arrow_empty_query_side(spark):
    """An empty query frame returns an empty result with the contract
    schema instead of crashing on an empty matrix."""
    from arnab_spark.operators import cosine_knn, quantize_embeddings

    e = quantize_embeddings(load_table(spark, SF, "embeddings"), "embedding", 64)
    out = cosine_knn(e.filter("vec_id < 0"), e, "vec_id", "vec_id", k=5)
    assert out.columns == ["query_id", "neighbor_id", "cosine", "rnk"]
    assert out.count() == 0


def test_bucketed_cosine_pairs_string_bucket(spark):
    """The pair operator derives the bucket column's output type from
    the input schema (round-3 advice: it was hardcoded int) — a string
    bucket key must survive with its values intact."""
    from arnab_spark.operators import bucketed_cosine_pairs, quantize_embeddings

    e = quantize_embeddings(load_table(spark, SF, "embeddings"), "embedding", 64)
    tagged = e.withColumn("grp", F.concat(F.lit("g"), (F.col("label") % 3).cast("string")))
    out = bucketed_cosine_pairs(tagged, "grp", threshold=0.5)
    assert dict(out.dtypes)["grp"] == "string"
    rows = out.limit(5).collect()
    for r in rows:
        assert r["grp"].startswith("g")
        assert r["vec_a"] < r["vec_b"]


def test_bucketed_cosine_pairs_tiling_exact(spark):
    """Round-9 scale fix: the bucket tiling (chunk-pair triangle join)
    must be EXACT — a tiny chunk_size that forces every bucket into
    many tiles returns the identical pair set, dot products, and
    cosines as one-task-per-bucket (chunk_size larger than any
    bucket), which is the pre-round-9 plan. The sf10 scale bench
    caught the one-task plan running a 21,800-vector bucket as a
    single 9-minute matmul; tiling bounds per-task memory at
    O(chunk² + chunk·dim) with no output change."""
    from arnab_spark.operators import bucketed_cosine_pairs, quantize_embeddings

    e = quantize_embeddings(
        load_table(spark, SF, "embeddings"), "embedding", 64
    )
    whole = bucketed_cosine_pairs(e, "label", threshold=0.3, chunk_size=1_000_000)
    tiled = bucketed_cosine_pairs(e, "label", threshold=0.3, chunk_size=7)
    key = lambda t: (t[0], t[1])  # noqa: E731
    a = sorted(map(tuple, whole.collect()), key=key)
    b = sorted(map(tuple, tiled.collect()), key=key)
    assert len(a) > 0
    assert a == b  # ids, bucket, exact dot_int, bit-identical cosine
    # no pair duplicated across tiles
    ids = [(t[0], t[1]) for t in b]
    assert len(ids) == len(set(ids))
    # chunk_size=1: nchunks == bucket size, so the xxhash assignment is
    # guaranteed to leave chunks EMPTY (balls-in-bins) — every tile
    # with an empty panel must yield no pairs, not a matmul crash
    degenerate = bucketed_cosine_pairs(e, "label", threshold=0.3, chunk_size=1)
    c = sorted(map(tuple, degenerate.collect()), key=key)
    assert c == a


def test_bucketed_cosine_pairs_int32_tiles_bit_identical(spark):
    """Opt-in operator flag (round 15; not used by the registry
    callers after the clean-box refutation in COSINE_AB_r15.json):
    ``int32_tiles=True`` ships the replicated tile payload as
    array<int> (half the shuffle bytes) and must be BIT-identical to
    the int64 path — the numpy panels upcast before the matmul, so
    dots, norms and cosines go through the same arithmetic. Exercised both on the fixture (elements ~1e7, the
    quantize bound) and on a synthetic frame with elements pushed next
    to the int32 boundary, where a lossy cast would corrupt the dot
    products loudly."""
    from arnab_spark.operators import bucketed_cosine_pairs, quantize_embeddings

    e = quantize_embeddings(load_table(spark, SF, "embeddings"), "embedding", 64)
    key = lambda t: (t[0], t[1])  # noqa: E731
    wide = sorted(map(tuple, bucketed_cosine_pairs(
        e, "label", threshold=0.3, chunk_size=7).collect()), key=key)
    narrow = sorted(map(tuple, bucketed_cosine_pairs(
        e, "label", threshold=0.3, chunk_size=7, int32_tiles=True
    ).collect()), key=key)
    assert len(wide) > 0
    assert wide == narrow  # incl. exact dot_int and bit-identical cosine

    # boundary: elements at ±(2^31 - 1) survive the narrow cast intact
    big = 2**31 - 1
    rows = [(1, 0, [big, -big]), (2, 0, [big, -big]), (3, 0, [-big, big])]
    df = spark.createDataFrame(rows, "vec_id long, label int, iv array<long>")
    out = sorted(map(tuple, bucketed_cosine_pairs(
        df, "label", threshold=-2.0, int32_tiles=True).collect()))
    ref = sorted(map(tuple, bucketed_cosine_pairs(
        df, "label", threshold=-2.0).collect()))
    assert out == ref
    expect_dot = 2 * big * big  # exact: a lossy cast would corrupt it
    assert [t[3] for t in out] == [expect_dot, -expect_dot, -expect_dot]


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir switches the closure to reliable checkpoint():
    same fixpoint as the localCheckpoint default, and checkpoint files
    actually land in the directory (durable blocks — the mode a lossy
    cluster needs)."""
    import os

    from arnab_spark.operators import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20), (3, 4)], "src bigint, dst bigint"
    )
    local = {
        (r.node, r.comp) for r in connected_components(edges).collect()
    }
    ckdir = str(tmp_path / "ck")
    # small_graph_edges=0: keep the DISTRIBUTED contraction under
    # reliable checkpointing covered (the r16 fast path would otherwise
    # swallow this tiny graph); the fast path x reliable combination is
    # asserted right after
    reliable = {
        (r.node, r.comp)
        for r in connected_components(
            edges, checkpoint_dir=ckdir, small_graph_edges=0
        ).collect()
    }
    assert reliable == local
    assert {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10), (20, 20)} == reliable
    assert any(files for _, _, files in os.walk(ckdir)), "no checkpoint files written"
    ckdir2 = str(tmp_path / "ck2")
    fast_reliable = {
        (r.node, r.comp)
        for r in connected_components(edges, checkpoint_dir=ckdir2).collect()
    }
    assert fast_reliable == reliable


def test_pq_encode_generic_subspaces_match_numpy(spark):
    """pq_encode with a NON-default subspace shape (m=4, d=16) must
    agree with a direct numpy argmin per subspace — exact integer
    distances, ties to the lowest centroid id."""
    import numpy as np

    from arnab_spark.operators import pq_encode, quantize_embeddings

    e = quantize_embeddings(load_table(spark, SF, "embeddings"), "embedding", 64)
    sample = e.filter(F.col("vec_id") < 40)
    cents = (
        e.filter((F.col("vec_id") >= 40) & (F.col("vec_id") < 44))
        .select(F.col("vec_id").alias("cid"), F.col("iv").alias("civ"))
    )
    got = {
        r.vec_id: list(r.codes)
        for r in pq_encode(sample, cents, m=4, d=16).collect()
    }
    vecs = {r.vec_id: np.array(r.iv, dtype=np.int64) for r in sample.collect()}
    cs = {r.cid: np.array(r.civ, dtype=np.int64) for r in cents.collect()}
    cids = sorted(cs)
    for vid, iv in vecs.items():
        expect = []
        for m in range(4):
            sl = slice(m * 16, (m + 1) * 16)
            dists = [(int(((iv[sl] - cs[c][sl]) ** 2).sum()), c) for c in cids]
            expect.append(min(dists)[1])
        assert got[vid] == expect, (vid, got[vid], expect)


def test_connected_components_random_graphs_match_union_find(spark):
    """Round-10: the operator switched from min-label propagation to
    alternating large-star/small-star contraction (O(log n) rounds) —
    a structural rewrite, so the fixpoint is re-proven against a plain
    Python union-find over seeded random graphs covering the shapes
    that break naive contractions: long chains (diameter >> log n),
    cliques, stars rooted at the LARGEST id, disconnected singletons
    via self-loops, and duplicate/reversed edges."""
    import random

    from arnab_spark.operators import connected_components

    def union_find(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for u, v in edges:
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)
        return {x: find(x) for x in parent}

    rng = random.Random(427)
    cases = [
        # long chain: worst case for propagation, log-rounds for stars
        [(i, i + 1) for i in range(60)],
        # chain written high-to-low with duplicates and reversals
        [(i + 1, i) for i in range(40)] + [(5, 6), (6, 5), (20, 21)],
        # star rooted at the LARGEST id (root must still be the min)
        [(100, i) for i in range(90, 100)],
        # two cliques bridged by one edge + a self-loop singleton
        [(a, b) for a in range(5) for b in range(a)]
        + [(a, b) for a in range(50, 55) for b in range(50, a)]
        + [(4, 50), (77, 77)],
    ]
    for _ in range(3):
        n = 80
        cases.append(
            [(rng.randrange(n), rng.randrange(n)) for _ in range(70)]
        )
    # round 16: both operator paths — the single-task union-find fast
    # path (default at these sizes) and the star contraction forced
    # via small_graph_edges=0 (CC_FUSE2_r16.json)
    for i, es in enumerate(cases):
        df = spark.createDataFrame(es, "src bigint, dst bigint")
        want = set(union_find(es).items())
        for small in (None, 0):
            got = {
                (r.node, r.comp)
                for r in connected_components(
                    df, "src", "dst", small_graph_edges=small
                ).collect()
            }
            assert got == want, (
                f"case {i} small_graph_edges={small}: {sorted(got ^ want)[:10]}"
            )


def test_asof_bucketed_matches_plain_across_widths(spark):
    """The segmented-scan variant (the r11 hot-key mitigation) must be
    result-identical to the single-window carry: uniform keys, a
    hot-key remap (one user owning half the events), bucket widths far
    below the data's gaps, above them, and a single-bucket width."""
    from arnab_spark.operators import top_k_per_group

    e = load_table(spark, SF, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    left = e.filter(F.col("event_type") != "signup")
    right_raw = e.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.col("ts").alias("signup_ts"),
        F.col("event_id").alias("signup_id"),
    )
    # unique (user, ts) on the right so the match is well-defined
    right = top_k_per_group(
        right_raw, ["user_id", "signup_ts"], [F.col("signup_id").desc()], 1
    )
    for remap in (False, True):
        l, r = left, right
        if remap:  # one user owns ~50% of all events
            hot = (F.col("user_id") % 2 == 0)
            l = l.withColumn("user_id", F.when(hot, F.lit(1)).otherwise(F.col("user_id")))
            r = r.withColumn("user_id", F.when(hot, F.lit(1)).otherwise(F.col("user_id")))
            r = top_k_per_group(
                r, ["user_id", "signup_ts"], [F.col("signup_id").desc()], 1
            )
        base = (
            asof_join(l, r, on="ts", right_on="signup_ts", by="user_id")
            .orderBy("event_id")
            .collect()
        )
        for width in (60.0, 86400.0, 10**9):
            got = (
                asof_join(
                    l, r, on="ts", right_on="signup_ts", by="user_id",
                    bucket_width=width,
                )
                .orderBy("event_id")
                .collect()
            )
            assert got == base, f"remap={remap} width={width}"


def test_events_funnel_adversarial_single_user_skew(spark):
    """Funnel skew guard (round 16, r15 verdict "What's wrong #2" /
    "Next round #5"): the r15 array spelling's per-user state is
    O(events-per-user) — a collect_list of the user's click/purchase
    timestamps — so a hot user (bot traffic, the EXPECTED case at
    100 TB, not the corner) is the spelling's worst case where the
    join spelling (kept verbatim as the oracle) stays O(1)/row. This
    fixture concentrates 150,000 events on ONE user, with half of the
    clicks/purchases placed adversarially BEFORE the user's first view
    so the in-row array filters do real work, plus control users
    covering every stage-miss pattern. Pins (a) the spelling completes
    under single-user skew at test scale (aggregation buffer ~1.2 MB
    for the hot user — memory behavior, not just correctness) and (b)
    the result matches the join spelling run over the same frame. The
    documented spelling-switch threshold lives in the query docstring
    (arnab_spark/queries/timeseries.py::events_funnel)."""
    from arnab_spark.queries.timeseries import _FUNNEL_SPARK_SQL, _FUNNEL_SQL

    n = 150_000
    hot = spark.range(n).selectExpr(
        "id AS event_id",
        "CAST(1 AS BIGINT) AS user_id",
        "timestamp_seconds(1600000000 + id) AS ts",
        # ids below n/2: clicks/purchases BEFORE the first view;
        # the single view sits exactly at n/2; above it, alternating
        # clicks/purchases (first click n/2+2, first purchase n/2+3)
        f"CASE WHEN id = {n // 2} THEN 'view' "
        "WHEN id % 2 = 0 THEN 'click' ELSE 'purchase' END AS event_type",
        "CAST(id AS DOUBLE) AS value",
    )
    controls = spark.createDataFrame(
        [
            # user 2: view -> click after it, purchase only BEFORE the
            # click -> reaches view+click, not purchase
            (n + 1, 2, 100, "view", 0.0),
            (n + 2, 2, 200, "click", 0.0),
            (n + 3, 2, 150, "purchase", 0.0),
            # user 3: view only
            (n + 4, 3, 100, "view", 0.0),
            # user 4: click+purchase but NO view -> counted nowhere
            (n + 5, 4, 100, "click", 0.0),
            (n + 6, 4, 200, "purchase", 0.0),
            # user 5: click strictly before its only view -> view only
            (n + 7, 5, 100, "click", 0.0),
            (n + 8, 5, 200, "view", 0.0),
        ],
        "event_id bigint, user_id bigint, off bigint, event_type string, value double",
    ).selectExpr(
        "event_id", "user_id",
        "timestamp_seconds(1600000000 + off) AS ts", "event_type", "value",
    )
    hot.unionByName(controls).createOrReplaceTempView("events")
    got = sorted(
        tuple(r) for r in spark.sql(_FUNNEL_SPARK_SQL).collect()
    )
    want = sorted(tuple(r) for r in spark.sql(_FUNNEL_SQL).collect())
    assert got == want, (got, want)
    # hand-computed: views = users {1,2,3,5}; clicks-after-view = {1,2};
    # purchases-after-click = {1}
    assert dict(got) == {"view": 4, "click": 2, "purchase": 1}, got
