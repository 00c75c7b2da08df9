"""Generic relational helpers: top-k per group, DISTINCT ON."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_k_per_group(
    df: DataFrame, keys: Sequence[str], order_by: Sequence[Column | str], k: int
) -> DataFrame:
    """Top-k rows per group via row_number over a partitioned window —
    one shuffle on ``keys``, no self-join (the scalable spelling of
    DuckDB's QUALIFY ... row_number() <= k). Include a unique tiebreak
    column in ``order_by`` for deterministic output."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def distinct_on(
    df: DataFrame, keys: Sequence[str], order_by: Sequence[Column | str]
) -> DataFrame:
    """DuckDB ``DISTINCT ON (keys) ... ORDER BY order_by``: the first
    row per key group under the given order."""
    return top_k_per_group(df, keys, order_by, 1)


#: the deduplicated edge count up to which connected_components runs as
#: one single-task union-find: ~32 MB of edge data plus the union-find
#: dict, comfortably inside one task's execution memory on any sane
#: executor
SMALL_GRAPH_EDGES = 2_000_000


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 40,
    checkpoint_dir: str | None = None,
    on_round=None,
    small_graph_edges: int | None = SMALL_GRAPH_EDGES,
) -> DataFrame:
    """Connected components over an undirected edge list via alternating
    LARGE-STAR / SMALL-STAR contraction (Kiveris et al., "Connected
    Components in MapReduce and Beyond" — the published O(log n)-round
    MapReduce algorithm). Returns (node, component) where component =
    the smallest node id reachable; self-loop and duplicate edges are
    tolerated, and a self-loop-only node labels itself.

    Why not min-label propagation (the round-1..9 implementation): its
    rounds are bounded by graph DIAMETER, and the round-10 sf10
    decomposition (CC_DECOMP_r10.json) measured the per-round wall as
    FIXED driver-side overhead (planning + codegen + stage barriers,
    ~3-5 s) regardless of changed-row volume — the LSH near-dup graph
    at sf10 took 16 rounds (75 s closure), and pointer-jump variants
    did not reduce them (the tail is edge-distance, not label-chain
    depth: measured changed-counts identical at 1 and 3 jumps/round).
    Star contraction rewires the EDGES each round, halving component
    radius per large-star: the same graph closes in 11 operations of
    ~1.2 s each (closure 75 s -> 19.7 s measured at sf10, each op also
    cheaper — 2 stages vs 4; see measurements/SCALE.md round-10). On a 1000-executor
    cluster the bound matters more, not less: rounds are synchronization
    barriers, and O(log n) is the published lower-envelope for
    whole-graph closure in bulk-synchronous systems.

    Operations (edges stored canonically as (c, p) with c > p):

    - **large-star**: every node connects its LARGER neighbors to the
      minimum of its closed neighborhood. Component radius halves;
      emitted edges stay inside the component (each (v, m) pair is
      joined through u: v-u-m is a path).
    - **small-star**: every node connects its smaller-or-equal
      neighbors (and itself) to its minimum smaller neighbor —
      flattens the partial stars large-star leaves.

    Fixpoint = both operations leave the edge set unchanged, checked
    with a two-scalar aggregate (count + bit_xor of xxhash64(c, p) —
    order-independent, overflow-free, never collects data); at fixpoint
    the graph is a forest of stars, each rooted at its component's
    minimum node (the paper's invariant), so labels read directly off
    the edges. Every operation checkpoints its output: the next
    operation's plan would otherwise embed the previous one's TWICE,
    doubling per round.

    Round-15 job-structure rewrite (CC_FUSE_r15.json — adopted under
    the both-orders >=1.15x rule at 1.59x/1.88x sf10, 2.2x sf0.1,
    result-identical at both scales; guide §1.2/§2.4/§5):

    - **One upstream execution.** The raw (u, v) pair list is
      materialized ONCE and both the canonical edge list and the node
      set derive from the checkpointed blocks — previously ``nodes``
      and ``e`` were checkpointed separately from the same
      un-materialized upstream, so an expensive feeder (the dedup
      pipeline's whole MinHash/LSH pair build) executed twice.
      ``nodes`` itself stays lazy: it is consumed exactly once, by the
      final singleton anti-join.
    - **One job per star operation.** ``localCheckpoint(eager=False)``
      truncates lineage identically (local checkpoint blocks persist
      as a side effect of the first action), so the convergence
      checksum is the materializing action — previously every op paid
      two jobs (eager materialize + checksum), and the r10
      decomposition measured per-op wall as FIXED driver overhead, so
      job count is the lever. The reliable ``checkpoint_dir`` path
      stays eager: a non-eager reliable checkpoint recomputes its RDD
      to write the checkpoint file.
    - **Window-min star ops.** Each star op's neighborhood minimum is
      ``MIN() OVER (PARTITION BY key)`` instead of groupBy + self-join
      — the partitioning is established once and the join (with its
      second exchange of the same frame) disappears.

    Round-16 small-graph fast path (CC_FUSE2_r16.json — the `combined`
    variant adopted under the both-orders >=1.15x rule at 1.40x/1.22x
    sf10, 2.3x sf0.1, result-identical at both scales; kept after the
    clean interleaved confirm): the canonical edge list is already
    materialized and COUNTED by the very first convergence checksum
    (zero extra jobs), so when that count is at or under
    ``small_graph_edges`` the whole O(log n) round structure — each
    round a full driver planning/codegen/barrier cycle measured at
    ~0.5-1 s regardless of data volume (CC_DECOMP_r10) — is replaced
    by ONE single-task union-find (path-halving, exact min-id labels)
    over the checkpointed blocks via ``mapInPandas``. This is the
    broadcast-join decision applied to a fixpoint: when the data fits
    one task, ship the computation once instead of paying ~22 global
    synchronization barriers (guide §2.4 / §3.1). Above the threshold
    the distributed star contraction below runs unchanged — at 100 TB
    the LSH pair graph takes that path. The harness's fused
    large+small-star rounds variant was REFUTED standalone
    (0.96x/0.89x) and the >threshold branch therefore stays the r15
    alternating-star spelling; the adopted `combined` runs only ever
    exercised the small path at bench scale.

    ``small_graph_edges`` — :data:`SMALL_GRAPH_EDGES` by default (and
    for None); raise it on fat-memory clusters, pass 0 to force the
    distributed path. The threshold compares the DEDUPLICATED canonical
    edge count, not the raw pair volume.

    ``checkpoint_dir`` selects checkpoint durability (round-3 verdict
    item 7): None (default) uses executor-local ``localCheckpoint`` —
    fastest, fine on a reliable box — while a path switches to RELIABLE
    ``checkpoint()`` into that directory, which an hour-long closure on
    a lossy 1000-node cluster needs: localCheckpoint blocks die with
    their executor and take the truncated lineage with them.

    ``on_round`` (round-10, the scale-decomposition hook): called as
    ``on_round(op_index, wall_seconds, edge_count)`` after each star
    operation materializes — zero extra jobs, lets the bench decompose
    a long closure into per-operation walls in-band.
    """
    import time as _time

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    spark = edges.sparkSession
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

    def ckpt_eager(df: DataFrame) -> DataFrame:
        return df.checkpoint() if checkpoint_dir is not None else df.localCheckpoint()

    def ckpt_lazy(df: DataFrame) -> DataFrame:
        # the convergence checksum right after is the materializing
        # action (one job per op); reliable checkpoints stay eager —
        # a non-eager RDD checkpoint recomputes to write the file
        if checkpoint_dir is not None:
            return df.checkpoint()
        return df.localCheckpoint(eager=False)

    par = max(1, spark.sparkContext.defaultParallelism)
    # materialize the RAW pair list ONCE: `edges` may be an arbitrarily
    # expensive upstream plan (the dedup pipeline feeds the whole
    # MinHash/LSH pair build in here), and the node set + canonical
    # edge list both derive from the checkpointed blocks instead of
    # re-executing that plan (round 15 — previously each derivation
    # was its own checkpoint ACTION over the un-materialized upstream).
    base = ckpt_eager(edges.select(F.col(src).alias("u"), F.col(dst).alias("v")))
    # lazy: consumed exactly once, by the final singleton anti-join
    nodes = (
        base.select(F.col("u").alias("node"))
        .unionByName(base.select(F.col("v").alias("node")))
        .distinct()
    )
    # coalesce keeps the per-op scan one task-wave wide — the upstream
    # frame arrives with 2x the shuffle partition count in micro-tasks.
    e = ckpt_lazy(
        base.where(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("c"), F.least("u", "v").alias("p")
        )
        .distinct()
        .coalesce(par)
    )

    def _checksum(df: DataFrame) -> tuple[int, int]:
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(c, p))").alias("x"),
        ).collect()[0]
        return int(row["n"]), int(row["x"] or 0)

    sig = _checksum(e)

    if small_graph_edges is None:
        small_graph_edges = SMALL_GRAPH_EDGES
    if small_graph_edges and sig[0] <= small_graph_edges:
        # round-16 small-graph fast path (see docstring): one
        # single-task union-find over the already-checkpointed edge
        # blocks replaces the whole star-contraction round structure
        node_ddl = e.schema["p"].dataType.simpleString()

        def _union_find(batches):
            import pandas as pd

            parent: dict = {}

            def find(x):
                r = x
                while parent[r] != r:
                    parent[r] = parent[parent[r]]  # path halving
                    r = parent[r]
                return r

            for b in batches:
                for c_val, p_val in zip(b["c"].tolist(), b["p"].tolist()):
                    parent.setdefault(c_val, c_val)
                    parent.setdefault(p_val, p_val)
                    rc, rp = find(c_val), find(p_val)
                    if rc != rp:
                        parent[rc] = rp
            if parent:
                best: dict = {}
                for n in parent:
                    r = find(n)
                    cur = best.get(r)
                    if cur is None or n < cur:
                        best[r] = n
                yield pd.DataFrame(
                    {
                        "node": list(parent),
                        "comp": [best[find(n)] for n in parent],
                    }
                )

        # lazy-checkpointed: the final frame references labels twice
        # (union arm + the singleton anti-join) — the blocks persist
        # on first evaluation so the union-find task runs once/action
        labels = ckpt_lazy(
            e.coalesce(1).mapInPandas(
                _union_find, f"node {node_ddl}, comp {node_ddl}"
            )
        )
        singletons = nodes.join(
            labels.select("node"), on="node", how="left_anti"
        ).select("node", F.col("node").alias("comp"))
        return labels.unionByName(singletons)

    stable = 0
    for _op in range(max_iter):
        _t0 = _time.monotonic()
        if _op % 2 == 0:
            # large-star: per node x, m = min(closed neighborhood);
            # every LARGER neighbor y re-attaches to m (y > x >= m, so
            # the output stays canonically child > parent). The
            # neighborhood min is a window over the same key the frame
            # is already partitioned by for it — no agg + self-join.
            sym = e.select(F.col("c").alias("x"), F.col("p").alias("y")).unionByName(
                e.select(F.col("p").alias("x"), F.col("c").alias("y"))
            )
            w = Window.partitionBy("x")
            cand = sym.select(
                "x", "y", F.least(F.col("x"), F.min("y").over(w)).alias("m")
            )
            new_e = (
                cand.where(F.col("y") > F.col("x"))
                .select(F.col("y").alias("c"), F.col("m").alias("p"))
                .distinct()
            )
        else:
            # small-star: per node c, m = min of its SMALLER neighbors;
            # those neighbors (minus m itself) and c re-attach to m
            w = Window.partitionBy("c")
            we = e.select("c", "p", F.min("p").over(w).alias("m"))
            new_e = (
                we.where(F.col("p") != F.col("m"))
                .select(F.col("p").alias("c"), F.col("m").alias("p"))
                .unionByName(we.select("c", F.col("m").alias("p")))
                .distinct()
            )
        new_e = ckpt_lazy(new_e.coalesce(par))
        new_sig = _checksum(new_e)
        if on_round is not None:
            on_round(_op, _time.monotonic() - _t0, new_sig[0])
        # rebinding drops the py4j reference to the previous op's
        # checkpoint blocks, letting the ContextCleaner reclaim them —
        # steady-state storage is ~2 operations of edges
        e = new_e
        if new_sig == sig:
            stable += 1
            if stable >= 2:  # both star ops fixed -> star forest
                break
        else:
            stable = 0
        sig = new_sig
    else:
        # max_iter exhausted before BOTH star ops fixed: the edge set is
        # not a star forest, so reading labels off it could emit multiple
        # (node, comp) rows per node — a silent cardinality divergence
        # worse than a wrong-but-single label (round-10 advice). The
        # alternating contraction converges in O(log n) ops, so hitting
        # this means max_iter was set far too low for the graph; loud.
        raise RuntimeError(
            f"connected_components: star contraction did not converge "
            f"within max_iter={max_iter} operations; labels would be "
            f"read off a non-star-forest edge set (raise max_iter)"
        )

    labels = (
        e.select(F.col("c").alias("node"), F.col("p").alias("comp"))
        .unionByName(
            e.select(F.col("p").alias("node"), F.col("p").alias("comp")).distinct()
        )
    )
    # nodes with no surviving edge (self-loop-only, or isolated after
    # input dedupe) label themselves
    singletons = nodes.join(
        labels.select("node"), on="node", how="left_anti"
    ).select("node", F.col("node").alias("comp"))
    return labels.unionByName(singletons)
