"""Embedding similarity operators: exact-integer quantization, LSH
bucketing, cosine top-k.

The quantization trick (see queries/dedup.py docstring): elements map to
``floor(x·1e7)`` int64, so dot products and norms are exact integer sums
— associative in any order, bit-identical under any partitioning or AQE
re-plan, and immune to float summation-order divergence. Quantization
error ~1e-7/element is far below any similarity threshold in use.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

Q_SCALE = 10_000_000


def quantize_embeddings(df: DataFrame, col: str, dim: int, out: str = "iv") -> DataFrame:
    """Add ``out`` = int64-quantized embedding and ``{out}_nrm2`` = its
    exact squared norm. Pure projection — no shuffle.

    Built as TWO ``F.expr`` strings rather than nested Column lambdas:
    the expression tree is identical (the SQL parser builds it JVM-side
    in one py4j round-trip), but the lambda formulation cost ~100 py4j
    round-trips per construction — measurable bench overhead with zero
    execution difference."""
    iv = F.expr(
        f"transform(sequence(1, {dim}), i -> "
        f"CAST(floor(CAST(element_at({col}, i) AS DOUBLE) * {Q_SCALE}) AS BIGINT))"
    )
    nrm2 = F.expr(
        f"aggregate(transform({out}, x -> x * x), CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    return df.withColumn(out, iv).withColumn(f"{out}_nrm2", nrm2)


def int_dot(a: Column | str, b: Column | str) -> Column:
    """Exact integer dot product of two quantized vectors. String args
    build the whole expression in one py4j call (preferred in query
    constructors); Column args compose for ad-hoc use."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(
            f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
            f"CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        )
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def cosine_from_int(dot: Column, nrm2_a: Column, nrm2_b: Column) -> Column:
    """Cosine from exact integer parts — two IEEE-exact sqrts, one
    multiply, one divide: deterministic."""
    return dot.cast("double") / (
        F.sqrt(nrm2_a.cast("double")) * F.sqrt(nrm2_b.cast("double"))
    )


def _hyperplanes(table: int, n_planes: int, dim: int) -> list[list[int]]:
    """Deterministic ±1 hyperplanes from md5 parity — no RNG, identical
    on every engine/run."""
    return [
        [
            1 if int(hashlib.md5(f"t{table}_plane{p}_dim{i}".encode()).hexdigest()[0], 16) >= 8 else -1
            for i in range(dim)
        ]
        for p in range(n_planes)
    ]


def lsh_bucket_ids(
    df: DataFrame, iv_col: str, dim: int, n_planes: int = 4, n_tables: int = 3
) -> DataFrame:
    """Explode each row into ``n_tables`` (table_id, bucket) rows where
    bucket packs the sign bits of random-hyperplane projections (exact
    integer sums). Downstream candidate generation is then a pure
    equi-join on (table_id, bucket)."""
    tables = []
    for t in range(n_tables):
        # one expr string per table: plane sign arrays inline as
        # literals, the whole bucket id parses in a single py4j call
        bits = []
        for p, plane in enumerate(_hyperplanes(t, n_planes, dim)):
            lit = "array(" + ", ".join(str(s) for s in plane) + ")"
            proj = (
                f"aggregate(zip_with({lit}, {iv_col}, (s, x) -> s * x), "
                f"CAST(0 AS BIGINT), (acc, x) -> acc + x)"
            )
            bits.append(f"(CASE WHEN {proj} > 0 THEN {1 << p} ELSE 0 END)")
        tables.append(
            df.withColumn("table_id", F.lit(t)).withColumn("bucket", F.expr(" + ".join(bits)))
        )
    out = tables[0]
    for other in tables[1:]:
        out = out.unionByName(other)
    return out


def cosine_knn(
    queries: DataFrame | list,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    iv_col: str = "iv",
    k: int = 5,
    arrow: bool = True,
) -> DataFrame:
    """Exact cosine top-k of ``corpus`` rows per ``queries`` row over
    pre-quantized vectors (see quantize_embeddings).

    ``arrow=True`` (default) scores each corpus Arrow batch as ONE
    int64 numpy matmul ``M @ Q.T`` and emits only the per-batch top-k
    per query — bit-identical to the SQL spelling (exact integer dots;
    the cosine is the same sqrt/multiply/divide IEEE ops) but vectorized
    (measured ~4x on the sf0.1 headline bench) AND map-side-pruned: the
    shuffle into the global top-k window carries ≤ k rows per query per
    batch instead of the full |Q|x|corpus| score matrix, which is the
    shape that survives a 100 TB corpus. The query side is collected to
    the driver and closed over (same smallness bound that makes any
    broadcast/ANN query batch viable — typically ≤ thousands of rows);
    per-batch top-k under the total order (cosine DESC, neighbor_id) is
    a superset of the global top-k under the same order, so the final
    window is exact.

    ``arrow=False`` keeps the fully declarative broadcast-nested-loop
    + window plan (no driver-side query materialization)."""
    if arrow:
        import numpy as np
        import pandas as pd

        if isinstance(queries, DataFrame):
            qrows = queries.select(
                F.col(query_id).alias("qid"),
                F.col(iv_col).alias("qiv"),
                F.col(f"{iv_col}_nrm2").alias("qn"),
            ).collect()
        else:
            # pre-collected query batch (list of Rows with qid/qiv/qn) —
            # lets a long-lived caller prep the batch once instead of
            # paying a collect job per search
            qrows = list(queries)
        out_schema = "query_id bigint, neighbor_id bigint, cosine double"
        src = corpus.select(
            F.col(corpus_id).alias("_cid"),
            F.col(iv_col).alias("_civ"),
            F.col(f"{iv_col}_nrm2").alias("_cn"),
        )
        if not qrows:
            return (
                src.limit(0)
                .selectExpr(
                    "_cid AS query_id", "_cid AS neighbor_id",
                    "CAST(0 AS DOUBLE) AS cosine", "CAST(1 AS BIGINT) AS rnk",
                )
            )
        qids = np.array([r["qid"] for r in qrows], dtype=np.int64)
        qmat = np.array([r["qiv"] for r in qrows], dtype=np.int64)
        qnrm = np.sqrt(np.array([r["qn"] for r in qrows], dtype=np.float64))

        def score(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                ids = pdf["_cid"].to_numpy(dtype=np.int64)
                m = np.array(pdf["_civ"].tolist(), dtype=np.int64)
                cn = np.sqrt(pdf["_cn"].to_numpy(dtype=np.float64))
                # exact int64 dots; float ops identical to the SQL path
                cos = (m @ qmat.T).astype(np.float64) / (
                    qnrm[None, :] * cn[:, None]
                )
                for j in range(len(qids)):
                    mask = ids != qids[j]
                    cand_ids = ids[mask]
                    if cand_ids.size == 0:
                        continue
                    cand_cos = cos[mask, j]
                    take = np.lexsort((cand_ids, -cand_cos))[: min(k, cand_ids.size)]
                    yield pd.DataFrame(
                        {
                            "query_id": qids[j],
                            "neighbor_id": cand_ids[take],
                            "cosine": cand_cos[take],
                        }
                    )

        scored = src.mapInPandas(score, out_schema)
        return scored.selectExpr(
            "query_id",
            "neighbor_id",
            "cosine",
            "CAST(row_number() OVER (PARTITION BY query_id "
            "ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rnk",
        ).filter(f"rnk <= {k}")
    q = queries.selectExpr(
        f"{query_id} AS _qid", f"{iv_col} AS _qiv", f"{iv_col}_nrm2 AS _qn"
    )
    c = corpus.selectExpr(
        f"{corpus_id} AS _cid", f"{iv_col} AS _civ", f"{iv_col}_nrm2 AS _cn"
    )
    scored = (
        F.broadcast(q)
        .join(c, F.expr("_qid != _cid"))
        .selectExpr(
            "_qid AS query_id",
            "_cid AS neighbor_id",
            "CAST(aggregate(zip_with(_qiv, _civ, (x, y) -> x * y), "
            "CAST(0 AS BIGINT), (acc, x) -> acc + x) AS DOUBLE) "
            "/ (sqrt(CAST(_qn AS DOUBLE)) * sqrt(CAST(_cn AS DOUBLE))) AS cosine",
        )
    )
    return scored.selectExpr(
        "query_id",
        "neighbor_id",
        "cosine",
        "CAST(row_number() OVER (PARTITION BY query_id "
        "ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rnk",
    ).filter(f"rnk <= {k}")


def ivf_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    iv_col: str = "iv",
    k: int = 16,
    exclude_below: int | None = None,
) -> DataFrame:
    """Pick ``k`` deterministic pseudo-random centroids: order by
    md5(id) and take the first k — the random-subset centroid init of a
    coarse IVF quantizer, reproducible on any engine (no RNG, no
    k-means iterations; at production scale the same pipeline accepts
    trained centroids in place of this frame).

    Plan: orderBy+limit compiles to TakeOrdered — per-partition top-k
    then a single-driver merge of k rows, NOT a global sort."""
    c = corpus
    if exclude_below is not None:
        c = c.filter(F.col(id_col) >= exclude_below)
    return (
        c.orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(k)
        .select(
            F.col(id_col).alias("cid"),
            F.col(iv_col).alias("civ"),
            F.col(f"{iv_col}_nrm2").alias("cnrm2"),
        )
    )


def _centroid_cos(iv_col: str) -> Column:
    return cosine_from_int(
        int_dot(F.col(iv_col), F.col("civ")),
        F.col(f"{iv_col}_nrm2"),
        F.col("cnrm2"),
    )


def ivf_assign(
    corpus: DataFrame, centroids: DataFrame, id_col: str = "vec_id", iv_col: str = "iv"
) -> DataFrame:
    """Assign every corpus vector to its nearest centroid cell (max
    cosine, ties to the lowest centroid id).

    Round 11: re-implemented as an Arrow-batched matmul
    (``mapInPandas`` — the cosine_knn pattern). The original spelling
    — crossJoin(broadcast(centroids)) + ``aggregate(zip_with(...))``
    dot products + a max_by groupBy — was measured UNUSABLE at large
    k: the SemDeDup scale harness (k=1600, n=500k) sat for >10 minutes
    in the n·k higher-order-function stage, because every one of the
    8e8 score rows allocates a 64-element zip array (HOF overhead),
    and the groupBy shuffled a row per vector besides. The matmul path
    scores each Arrow batch against the collected centroid matrix as
    ONE ``M @ C.T`` (exact int64 — elements ≤1e7·scale, dim 64, far
    under 2^63), divides by the exact stored norms (the same two IEEE
    ops the SQL spelling executes, bit-identical cosines), and argmax
    with numpy's first-max rule reproduces the lowest-cid tiebreak
    since centroids are sorted by cid. No shuffle AT ALL now — the
    assignment never leaves the scan partition; centroids ride the
    closure like cosine_knn's query batch (k rows, bounded).

    Exactness contract unchanged (verified by the unchanged IVF/PQ
    oracle matches): integer dots, one sqrt·sqrt·divide per score."""
    import numpy as np
    import pandas as pd

    crows = sorted(centroids.collect(), key=lambda r: r["cid"])
    C = np.array([list(r["civ"]) for r in crows], dtype=np.int64)
    cn = np.sqrt(np.array([r["cnrm2"] for r in crows], dtype=np.float64))
    cids = np.array([r["cid"] for r in crows], dtype=np.int64)

    in_schema = corpus.schema
    id_ddl = in_schema[id_col].dataType.simpleString()
    out_schema = (
        f"{id_col} {id_ddl}, cell bigint, {iv_col} array<bigint>, "
        f"{iv_col}_nrm2 bigint"
    )

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array(pdf[iv_col].tolist(), dtype=np.int64)
            nm = np.sqrt(pdf[f"{iv_col}_nrm2"].to_numpy(dtype=np.float64))
            cos = (m @ C.T).astype(np.float64) / (nm[:, None] * cn[None, :])
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "cell": cids[cos.argmax(axis=1)],
                    iv_col: pdf[iv_col],
                    f"{iv_col}_nrm2": pdf[f"{iv_col}_nrm2"].to_numpy(),
                }
            )

    return corpus.select(id_col, iv_col, f"{iv_col}_nrm2").mapInPandas(
        assign, out_schema
    )


def ivf_probe(
    queries: DataFrame,
    centroids: DataFrame,
    n_probe: int,
    id_col: str = "vec_id",
    iv_col: str = "iv",
) -> DataFrame:
    """Per query, the ``n_probe`` nearest centroid cells to search
    (query side is small — the window is cheap)."""
    scored = queries.crossJoin(F.broadcast(centroids)).withColumn(
        "_cos", _centroid_cos(iv_col)
    )
    w = Window.partitionBy(id_col).orderBy(F.col("_cos").desc(), F.col("cid"))
    return (
        scored.withColumn("_pr", F.row_number().over(w))
        .filter(F.col("_pr") <= n_probe)
        .select(
            F.col(id_col).alias("_qid"),
            F.col(iv_col).alias("_qiv"),
            F.col(f"{iv_col}_nrm2").alias("_qn"),
            F.col("cid").alias("cell"),
        )
    )


def ivf_refine(assigned: DataFrame, iv_col: str = "iv") -> DataFrame:
    """One Lloyd refinement step: each cell's new centroid is the
    element-wise mean of its member vectors, kept in the quantized
    integer domain as floor(sum / count) so the result — and everything
    downstream — stays exactly reproducible across engines. (The double
    division is exact here: sums stay far below 2^53 and a non-integer
    mean sits at least 1/count from the nearest integer, astronomically
    farther than one ulp.)

    Plan shape at scale: posexplode → (cell, pos) partial-agg — the
    shuffle carries k·dim sum rows, not the corpus — then one k-row
    re-pack. Iterating this operator is declarative k-means: each pass
    is the same two-stage plan, no driver-side data movement."""
    long = assigned.select(
        "cell", F.posexplode(F.col(iv_col)).alias("pos", "val")
    )
    comp = (
        long.groupBy("cell", "pos")
        .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
        .withColumn(
            "cval",
            F.floor(F.col("s").cast("double") / F.col("n")).cast("bigint"),
        )
    )
    packed = comp.groupBy("cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cval"))),
            lambda s: s.cval,
        ).alias("civ")
    )
    nrm2 = F.aggregate(
        F.transform(F.col("civ"), lambda x: x * x),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return packed.select(
        F.col("cell").alias("cid"), "civ", nrm2.alias("cnrm2")
    )


def bucketed_cosine_pairs(
    df: DataFrame,
    bucket_col: str,
    id_col: str = "vec_id",
    iv_col: str = "iv",
    threshold: float = 0.9,
    chunk_size: int = 2048,
    int32_tiles: bool = False,
) -> DataFrame:
    """All within-bucket vector pairs with cosine ≥ ``threshold`` over
    pre-quantized integer vectors (see :func:`quantize_embeddings`).

    Scoring runs as Arrow-batched numpy int64 matmuls
    (``applyInPandas``) — exact, identical to the SQL
    ``aggregate(zip_with(...))`` spelling but vectorized (measured 5x
    faster at sf0.1, bit-identical output including the float cosines:
    sqrt/multiply/divide are the same IEEE ops numpy and the JVM both
    execute).

    Scale (round 9 — fixes a measured sf10 blowup): a bucket is the
    EXACTNESS boundary, not the task boundary. Blocking labels come
    from a coarse quantizer whose cardinality does not necessarily
    grow with the data, so whole-bucket tasks go quadratic: the r9
    scale bench caught one 21,800-vector bucket running a 9-minute
    single-task 21800x21800 matmul (838 s for the query). Buckets are
    therefore TILED: each vector lands in a deterministic chunk
    (``xxhash64(id) % nchunks``, nchunks = ceil(bucket/chunk_size)),
    every chunk PAIR (ca <= cb) becomes its own task (the classic
    distributed triangle join), and each task multiplies two
    chunk-sized panels. Total work stays O(bucket²) — inherent to
    exact all-pairs — but per-task memory is O(chunk² + chunk·dim),
    the straggler parallelizes across the cluster, and the shuffle
    amplification is nchunks (= sqrt of the pair-task count), the
    known lower bound for distributing a self-join. A bucket at or
    under ``chunk_size`` degenerates to exactly the old one-task plan.
    Pairs emit as (smaller_id, larger_id), total order, no duplicates:
    the unordered pair (u, v) appears only in the one task owning its
    (chunk(u), chunk(v)) tile.

    ``int32_tiles`` (round 15): every vector crosses the tile shuffle
    nchunks times, so the shuffle bytes are nchunks·dim·width per
    vector — the dominant cost at scale. When the CALLER can guarantee
    every quantized element fits in int32 (the standard
    ``quantize_embeddings`` bound is |element| ≤ Q_SCALE·|x| ≈ 1e7,
    three decimal orders inside int32), setting ``int32_tiles=True``
    ships the tile payload as ``array<int>`` at half the bytes; the
    numpy panels upcast back to int64 before the matmul, so every dot
    product, norm and cosine is computed in exactly the same integer/
    IEEE arithmetic and the output is bit-identical. Opt-in because the
    operator is a general API and cannot prove the caller's bound.
    NOTE on when it pays: the local[32] registry adoption was REVERTED
    after a clean interleaved confirm read 0.93x (COSINE_AB_r15.json —
    the single-box tile shuffle is page-cache-bound, so halving bytes
    only buys the upcast cost; the original 2.23x/1.87x readings in
    COSINE_DECOMP_r15.json were load-degraded). The flag remains for
    network-bound clusters where shuffle bytes are the actual wall."""
    import numpy as np
    import pandas as pd

    # derive the bucket column's type from the input schema — the
    # operator is a general API and the bucket key may be string/date/
    # bigint, not just the fixture's int (round-3 advice)
    bucket_ddl = df.schema[bucket_col].dataType.simpleString()
    out_schema = (
        f"vec_a bigint, vec_b bigint, {bucket_col} {bucket_ddl}, "
        "dot_int bigint, cosine double"
    )

    counts = df.groupBy(bucket_col).agg(
        F.ceil(F.count(F.lit(1)) / F.lit(chunk_size))
        .cast("int")
        .alias("__nchunks")
    )
    d = df.join(F.broadcast(counts), bucket_col).withColumn(
        "__c",
        F.pmod(F.xxhash64(F.col(id_col)), F.col("__nchunks")).cast("int"),
    )
    if int32_tiles:
        # caller-guaranteed in-range: halve the replicated tile payload
        d = d.withColumn(iv_col, F.col(iv_col).cast("array<int>"))
    # each vector joins every tile its chunk participates in: as the
    # A-panel for partners >= its chunk, as the B-panel for partners
    # below it — sequence+explode, no driver loop
    tiles_a = d.select(
        id_col, iv_col, bucket_col, "__c",
        F.col("__c").alias("__ca"),
        F.explode(
            F.sequence(F.col("__c"), F.col("__nchunks") - 1)
        ).alias("__cb"),
    )
    tiles_b = d.filter(F.col("__c") > 0).select(
        id_col, iv_col, bucket_col, "__c",
        F.explode(
            F.sequence(F.lit(0), F.col("__c") - 1)
        ).alias("__ca"),
        F.col("__c").alias("__cb"),
    )
    tiled = tiles_a.unionByName(tiles_b)

    def pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(id_col)
        ca, cb = int(pdf["__ca"].iloc[0]), int(pdf["__cb"].iloc[0])
        if ca == cb:
            ids = pdf[id_col].to_numpy()
            m = np.array(pdf[iv_col].tolist(), dtype=np.int64)
            dots = m @ m.T
            nrm = np.sqrt((m * m).sum(axis=1).astype(np.float64))
            cos = dots.astype(np.float64) / (nrm[:, None] * nrm[None, :])
            i, j = np.triu_indices(len(ids), k=1)
            keep = cos[i, j] >= threshold
            a, b = ids[i][keep], ids[j][keep]
            dk, ck = dots[i, j][keep], cos[i, j][keep]
        else:
            pa = pdf[pdf["__c"] == ca]
            pb = pdf[pdf["__c"] == cb]
            if not len(pa) or not len(pb):
                # hash assignment can leave a chunk empty — the tile
                # then holds only one panel and has no pairs (an empty
                # ids list would otherwise reach the matmul as a
                # shape-(0,) array and crash on dimension mismatch)
                return pd.DataFrame(
                    {
                        "vec_a": np.array([], dtype=np.int64),
                        "vec_b": np.array([], dtype=np.int64),
                        bucket_col: pdf[bucket_col].iloc[:0],
                        "dot_int": np.array([], dtype=np.int64),
                        "cosine": np.array([], dtype=np.float64),
                    }
                )
            ids_a, ids_b = pa[id_col].to_numpy(), pb[id_col].to_numpy()
            ma = np.array(pa[iv_col].tolist(), dtype=np.int64)
            mb = np.array(pb[iv_col].tolist(), dtype=np.int64)
            dots = ma @ mb.T
            na = np.sqrt((ma * ma).sum(axis=1).astype(np.float64))
            nb = np.sqrt((mb * mb).sum(axis=1).astype(np.float64))
            cos = dots.astype(np.float64) / (na[:, None] * nb[None, :])
            keep = cos >= threshold
            i, j = np.nonzero(keep)
            u, v = ids_a[i], ids_b[j]
            a, b = np.minimum(u, v), np.maximum(u, v)
            dk, ck = dots[i, j], cos[i, j]
        return pd.DataFrame(
            {
                "vec_a": a,
                "vec_b": b,
                bucket_col: np.repeat(pdf[bucket_col].iloc[0], len(a)),
                "dot_int": dk,
                "cosine": ck,
            }
        )

    return tiled.groupBy(bucket_col, "__ca", "__cb").applyInPandas(
        pairs, out_schema
    )


# ---------------------------------------------------------------------
# Product quantization (PQ) + asymmetric-distance (ADC) search

PQ_M = 8   # subspaces
PQ_D = 8   # dims per subspace (M * D = embedding dim)
PQ_K = 16  # centroids per subspace codebook


def _subspace_dist2(iv_col: str, civ_col: str, m: int, d: int) -> "Column":
    """Exact integer squared L2 distance on subspace ``m`` (1-based):
    Σ (iv_i − civ_i)² over that subspace's ``d`` dims. Magnitudes:
    quantized elements ≤1e7 → per-subspace sums ≤ ~3e15, far inside
    int64."""
    off = (m - 1) * d + 1
    return F.expr(
        f"aggregate(zip_with(slice({iv_col}, {off}, {d}), "
        f"slice({civ_col}, {off}, {d}), (a, b) -> (a - b) * (a - b)), "
        f"CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )


def pq_encode(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    iv_col: str = "iv",
    m: int = PQ_M,
    d: int = PQ_D,
) -> DataFrame:
    """Encode each vector as ``m`` one-byte codes: per subspace, the id
    of the nearest codebook centroid (exact integer argmin, ties to the
    lowest centroid id). This is the 64x memory compression that makes
    billion-vector search RAM-resident.

    Plan shape: centroids broadcast (constant k), the N×k score rows
    never leave their partition, and the m argmins are map-side
    ``min_by`` partials — the shuffle carries ONE (id, codes) row per
    vector."""
    scored = corpus.crossJoin(F.broadcast(centroids))
    for mm in range(1, m + 1):
        scored = scored.withColumn(f"_d{mm}", _subspace_dist2(iv_col, "civ", mm, d))
    aggs = [
        F.min_by(
            "cid", F.struct(F.col(f"_d{mm}").alias("d"), F.col("cid").alias("t"))
        ).alias(f"_k{mm}")
        for mm in range(1, m + 1)
    ]
    coded = scored.groupBy(id_col).agg(*aggs)
    return coded.select(
        id_col, F.array(*[F.col(f"_k{mm}") for mm in range(1, m + 1)]).alias("codes")
    )


def pq_query_tables(
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    iv_col: str = "iv",
    m: int = PQ_M,
    d: int = PQ_D,
) -> DataFrame:
    """Per query, the ADC lookup table: centroid id → the m exact
    subspace distances to the query. k×m ints per query — tiny, and the
    whole table rides a broadcast into the scoring join."""
    scored = queries.crossJoin(F.broadcast(centroids))
    for mm in range(1, m + 1):
        scored = scored.withColumn(f"_d{mm}", _subspace_dist2(iv_col, "civ", mm, d))
    return scored.groupBy(F.col(id_col).alias("_qid")).agg(
        F.map_from_arrays(
            F.collect_list("cid"),
            F.collect_list(F.array(*[F.col(f"_d{mm}") for mm in range(1, m + 1)])),
        ).alias("_qtab")
    )


def pq_adc_topk(
    query_tables: DataFrame,
    codes: DataFrame,
    id_col: str = "vec_id",
    k: int = 5,
    m: int = PQ_M,
) -> DataFrame:
    """Asymmetric-distance top-k: score(query, x) = Σ_m table[code_m(x)]
    [m] — m map lookups per pair instead of a full d-dim distance, over
    codes instead of vectors. The query tables broadcast; the per-query
    top-k window is the only shuffle and it carries (id, score) pairs.
    Exact integer sums → total order (score ASC, neighbor id)."""
    score = F.expr(
        f"aggregate(sequence(1, {m}), CAST(0 AS BIGINT), "
        f"(acc, i) -> acc + element_at(element_at(_qtab, element_at(codes, i)), i))"
    )
    pairs = (
        F.broadcast(query_tables)
        .join(codes, F.col("_qid") != F.col(id_col))
        .select(
            F.col("_qid").alias("query_id"),
            F.col(id_col).alias("neighbor_id"),
            score.alias("adc_dist2"),
        )
    )
    return pairs.selectExpr(
        "query_id",
        "neighbor_id",
        "adc_dist2",
        "CAST(row_number() OVER (PARTITION BY query_id "
        "ORDER BY adc_dist2 ASC, neighbor_id) AS BIGINT) AS rnk",
    ).filter(f"rnk <= {k}")
