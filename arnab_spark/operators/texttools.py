"""Text shingling and MinHash signatures as reusable operators."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def shingle_ngrams(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) rows of distinct word n-grams per document. Short
    documents (< n words) yield one padded shingle so no doc vanishes."""
    words = F.split(F.col(text_col), " ")
    idx = F.sequence(F.lit(1), F.greatest(F.size(words) - (n - 1), F.lit(1)))
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ",
        *[
            F.element_at(words, F.least(i + j, F.size(words)))
            for j in range(n)
        ],
    )
    return df.select(
        F.col(id_col), F.explode(F.transform(idx, gram)).alias("shingle")
    ).distinct()


def minhash_signatures(
    shingles: DataFrame, id_col: str, n_bands: int = 8, shingle_hash: str = "xxhash64"
) -> DataFrame:
    """(id, band, sig) MinHash signatures. Two hash families (round 13,
    exposing the swap the r11 CC decomposition named — 86% of the CC
    pair build is map-side shingle hashing):

    - ``"xxhash64"`` (DEFAULT since round 13 — ADOPTED under the
      pre-stated rule in measurements/r13: signature stage 1.98x
      faster at sf10 (11.05 s -> 5.57 s), full pair build 1.5x, with
      identical 1.0 true-pair recall at sf1 — CC_HASH_SWAP_r13.json):
      band b's signature = min of xxhash64(shingle, b) — Spark's
      native 64-bit hash (JVM intrinsic, no hex encoding, no crypto
      rounds), seeded per band so the bands stay independent hash
      functions. Both families are uniform, so the LSH S-curve /
      banding math is unchanged; candidate SETS differ in their
      false-positive tails only (every candidate pair is
      Jaccard-verified downstream anyway).
    - ``"sha256"`` (the ORACLE contract): ONE sha256 per shingle, band
      b's signature = min over shingles of digest slice b
      (one-permutation-hashing style — each slice is an independent
      hash function). n_bands MIN aggregates in one pass + stack
      wide→long: no bands× row blowup and the shingle stream is hashed
      once, not n_bands times (see measurements/SCALE.md). The oracled corpus
      queries pass this explicitly so their results stay bit-identical
      to their DuckDB sha256 spellings; DuckDB has no xxhash64, so the
      fast family is operator-level only.

    Docs sharing (band, sig) are near-dup candidates; join on it.
    n_bands ≤ 8 for sha256 (eight 32-bit hex slices); xxhash64 takes
    any n_bands."""
    if shingle_hash == "sha256":
        if n_bands > 8:
            raise ValueError("n_bands > 8 needs a second digest; sha256 has 8 slices")
        digest = F.sha2(F.col("shingle").cast("binary"), 256)
        mins = [
            F.min(F.substring(digest, b * 8 + 1, 8)).alias(f"m{b}")
            for b in range(n_bands)
        ]
    elif shingle_hash == "xxhash64":
        mins = [
            F.min(F.xxhash64(F.col("shingle"), F.lit(b))).alias(f"m{b}")
            for b in range(n_bands)
        ]
    else:
        raise ValueError(f"unknown shingle_hash {shingle_hash!r} (sha256|xxhash64)")
    wide = shingles.groupBy(id_col).agg(*mins)
    stack_args = ", ".join(f"{b}, m{b}" for b in range(n_bands))
    return wide.selectExpr(
        id_col, f"stack({n_bands}, {stack_args}) AS (band, sig)"
    )


_HEX = "0123456789abcdef"


def _md5_bucket(id_col: str) -> F.Column:
    """Deterministic bucket 0-255 from the first two hex nibbles of
    md5(id) — content-stable across runs, engines, and repartitions."""
    h = f"md5(CAST({id_col} AS STRING))"
    return F.expr(
        f"CAST((instr('{_HEX}', substring({h}, 1, 1)) - 1) * 16"
        f" + instr('{_HEX}', substring({h}, 2, 1)) - 1 AS BIGINT)"
    )


def hash_split(
    df: DataFrame,
    id_col: str,
    splits: tuple[tuple[str, int], ...] = (("train", 230), ("val", 243), ("test", 256)),
) -> DataFrame:
    """Deterministic dataset split: adds ``bucket`` (0-255, md5-derived)
    and ``split`` (first name whose exclusive upper bound exceeds the
    bucket; defaults ≈ 90/5/5). A pure projection — zero shuffle, no
    RNG — so the assignment is reproducible, which is the property a
    training pipeline needs from a splitter. Works identically at any
    scale."""
    bounds = sorted(splits, key=lambda s: s[1])
    if bounds[-1][1] < 256:
        raise ValueError("last split bound must cover bucket 255")
    out = df.withColumn("bucket", _md5_bucket(id_col))
    expr = F.when(F.col("bucket") < bounds[0][1], bounds[0][0])
    for name, hi in bounds[1:-1]:
        expr = expr.when(F.col("bucket") < hi, name)
    expr = expr.otherwise(bounds[-1][0])
    return out.withColumn("split", expr)


def pack_sequences(
    df: DataFrame,
    token_col: str,
    order_col: str,
    partition_col: str,
    budget: int = 2048,
) -> DataFrame:
    """Sequence packing for context-window training: within each
    ``partition_col`` shard, rows are laid out in ``order_col`` order
    and chunked into packs of ~``budget`` tokens by exclusive running
    token count (adds exact-BIGINT ``cum_tokens`` and ``pack_id``).
    One shuffle on the shard key; shards pack independently, so this
    needs no global sort at any scale."""
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy(partition_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(F.col(token_col)).over(w).cast("bigint")
    return df.withColumn("cum_tokens", cum).withColumn(
        "pack_id",
        F.floor(
            (F.col("cum_tokens") - F.col(token_col)).cast("double") / F.lit(budget)
        ).cast("bigint"),
    )


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    id_col: str,
    numerator: int = 1,
    denominator: int = 10,
) -> DataFrame:
    """Deterministic stratified sample: exactly
    ceil(n·numerator/denominator) rows per stratum, chosen by md5 hash
    order of ``id_col`` (ties broken by the id itself). Adds ``_rk``
    (hash-order rank within the stratum) and ``_n`` (stratum size).
    Unlike TABLESAMPLE the result is reproducible and exactly sized —
    ``rk·den <= n·num + den - 1`` spells the ceil without float math.
    One shuffle on the stratum key; strata are independent at any
    scale."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(stratum_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.withColumn("_rk", F.row_number().over(w).cast("bigint"))
        .withColumn("_n", F.count(F.lit(1)).over(Window.partitionBy(stratum_col)))
        .filter(
            F.col("_rk") * F.lit(denominator)
            <= F.col("_n") * F.lit(numerator) + F.lit(denominator - 1)
        )
    )
