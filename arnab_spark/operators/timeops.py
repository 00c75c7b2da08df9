"""Time-ordered operators: as-of join, sessionization.

Extracted from the corpus (queries/timeseries.py) as generic functions;
that module's DuckDB oracles double as their differential tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    right_on: str | None = None,
    by: str | None = None,
    suffix: str = "_right",
    tiebreak: str | None = None,
    bucket_width: float | None = None,
) -> DataFrame:
    """As-of (backward) join: for each left row, attach the latest right
    row with ``right[right_on] <= left[on]``, matching ``by`` keys when
    given — DuckDB ``ASOF LEFT JOIN`` semantics (inclusive).

    Output: all left columns + each right column (except ``by``)
    suffixed with ``suffix`` (``right_on`` included, as the matched
    timestamp).

    Plan shape at scale: union both sides, ONE shuffle on ``by``,
    per-partition sort on (time, side-priority), carry right values
    forward with last(ignorenulls) — no range explosion, no broadcast
    requirement. NOTE (r11 skew measurement, ASOF_SKEW_r11.json): AQE
    does NOT split window partitions — its skew handling applies to
    sort-merge joins — so a hot key's whole series sorts in one task.
    Measured harmless up to a 2M-row key; when a single key's series
    approaches task-sized data, pass ``bucket_width`` (seconds for
    timestamp columns, plain units otherwise) to switch to the
    time-bucketed segmented scan of
    :func:`asof_carry_forward_bucketed`, whose largest window
    partition is one (key, bucket) slice.
    """
    right_on = right_on or on
    l_cols = left.columns
    r_carry = [c for c in right.columns if c != by]

    tagged_l = left.withColumn("_t", F.col(on)).withColumn("_side", F.lit(1))
    for c in r_carry:
        tagged_l = tagged_l.withColumn(
            f"{c}{suffix}", F.lit(None).cast(right.schema[c].dataType)
        )

    tagged_r = right.withColumn("_t", F.col(right_on)).withColumn("_side", F.lit(0))
    for c in r_carry:
        tagged_r = tagged_r.withColumnRenamed(c, f"{c}{suffix}")
    for c in l_cols:
        if c != by:
            tagged_r = tagged_r.withColumn(c, F.lit(None).cast(left.schema[c].dataType))
    unioned = tagged_l.select(*tagged_l.columns).unionByName(
        tagged_r.select(*tagged_l.columns)
    )
    if bucket_width is not None:
        return asof_carry_forward_bucketed(
            unioned, l_cols, r_carry, by, suffix, tiebreak, bucket_width
        )
    return asof_carry_forward(unioned, l_cols, r_carry, by, suffix, tiebreak)


def asof_carry_forward(
    unioned: DataFrame,
    l_cols: list[str],
    r_carry: list[str],
    by: str | None = None,
    suffix: str = "_right",
    tiebreak: str | None = None,
) -> DataFrame:
    """Carry-forward core of :func:`asof_join`, over an already-tagged
    union frame: columns ``l_cols`` + ``{c}{suffix}`` for ``r_carry`` +
    ``_t`` (event time) + ``_side`` (1 = left row, 0 = right row).

    Exposed separately so callers whose two sides derive from ONE
    source table can build the tagged union with a single scan and a
    ``when()`` projection — :func:`asof_join` necessarily scans its two
    input frames independently (≈30% slower when both are filters of
    the same table; measured on the events fixture)."""
    # right rows sort before left rows at equal time → inclusive `<=`;
    # `tiebreak` names a column present on both sides that orders rows
    # sharing (by, time, side) deterministically
    order = ["_t", "_side"] + ([tiebreak] if tiebreak else [])
    w = (
        (Window.partitionBy(by) if by else Window.partitionBy(F.lit(1)))
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # carry ONE struct of all right columns, not per-column lasts: a NULL
    # inside the matched right row must stay NULL rather than falling
    # through to an older row's value (per-column carries could even mix
    # columns from different right rows)
    rstruct = F.when(
        F.col("_side") == 0,
        F.struct(*[F.col(f"{c}{suffix}").alias(c) for c in r_carry]),
    )
    carried = unioned.select(
        "*", F.last(rstruct, ignorenulls=True).over(w).alias("_rmatch")
    )
    return carried.filter(F.col("_side") == 1).select(
        *l_cols,
        *[F.col("_rmatch").getField(c).alias(f"{c}{suffix}") for c in r_carry],
    )


def asof_carry_forward_bucketed(
    unioned: DataFrame,
    l_cols: list[str],
    r_carry: list[str],
    by: str | None = None,
    suffix: str = "_right",
    tiebreak: str | None = None,
    bucket_width: float = 3600.0,
) -> DataFrame:
    """Hot-key-safe variant of :func:`asof_carry_forward` — the
    documented structural mitigation from the round-11 skew study
    (measurements/SCALE.md): a carry-forward window partitions by the key alone, so
    one key owning task-sized data becomes a single-task sort no
    config can split. This version is the classic distributed
    segmented scan:

    1. slice every key's timeline into ``bucket_width`` buckets and
       carry WITHIN (key, bucket) — the largest window partition is
       now one bucket of one key;
    2. reduce each (key, bucket) to its last right-row struct (a
       map-side-combinable ``max_by``);
    3. prefix-scan those bucket summaries per key (a window over
       bucket COUNTS, thousands of rows where the data had billions)
       to get "the last right row before this bucket";
    4. stitch: a row's match is its in-bucket carry, else its bucket's
       prefix.

    Identical results to the plain carry (pytest-pinned on uniform AND
    hot-key-remapped fixtures across bucket widths, including widths
    far below the data's time gaps and a single-bucket width). Costs
    one extra small shuffle (the prefix join), which is why the plain
    single-window spelling stays the default below the straggler
    regime."""
    from pyspark.sql import types as T

    tdt = unioned.schema["_t"].dataType
    if isinstance(tdt, (T.TimestampType, T.TimestampNTZType)):
        bcol = F.floor(
            F.unix_micros(F.col("_t")) / F.lit(int(bucket_width * 1_000_000))
        )
    else:
        bcol = F.floor(F.col("_t") / F.lit(bucket_width))
    d = unioned.withColumn("_b", bcol.cast("bigint"))

    order = ["_t", "_side"] + ([tiebreak] if tiebreak else [])
    keyparts = ([by] if by else []) + ["_b"]
    w_in = (
        Window.partitionBy(*keyparts)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    rstruct = F.when(
        F.col("_side") == 0,
        F.struct(*[F.col(f"{c}{suffix}").alias(c) for c in r_carry]),
    )
    d = d.withColumn("_rin", F.last(rstruct, ignorenulls=True).over(w_in))

    ordst = [F.col("_t")] + ([F.col(tiebreak)] if tiebreak else [])
    summaries = (
        d.filter(F.col("_side") == 0)
        .groupBy(*keyparts)
        .agg(F.max_by(rstruct, F.struct(*ordst)).alias("_blast"))
    )
    # every (key, bucket) present in the DATA needs a prefix row — a
    # bucket holding only left rows has no summary of its own
    buckets = (
        d.select(*keyparts).distinct().join(summaries, on=keyparts, how="left")
    )
    w_pre = (
        (Window.partitionBy(by) if by else Window.partitionBy(F.lit(1)))
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = buckets.withColumn(
        "_rpre", F.last("_blast", ignorenulls=True).over(w_pre)
    ).select(*keyparts, "_rpre")

    out = d.join(prefix, on=keyparts, how="left")
    rmatch = F.coalesce(F.col("_rin"), F.col("_rpre"))
    return out.filter(F.col("_side") == 1).select(
        *l_cols,
        *[rmatch.getField(c).alias(f"{c}{suffix}") for c in r_carry],
    )


def sessionize(
    df: DataFrame,
    key: str,
    ts: str,
    gap_seconds: int,
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Assign gap-based session ids: a new session starts when the time
    since the previous event of the same ``key`` exceeds ``gap_seconds``.
    Adds a ``session_id`` column (0-based per key).

    Plan shape: one shuffle on ``key`` + per-partition sort — linear in
    input, the batch twin of a session_window streaming aggregation.
    """
    order_cols = [F.col(ts)] + ([F.col(order_tiebreak)] if order_tiebreak else [])
    w = Window.partitionBy(key).orderBy(*order_cols)
    # microsecond-exact gap: unix_timestamp() truncates to whole seconds,
    # which would disagree with exact-timestamp semantics (and the DuckDB
    # oracle) whenever a gap lands within 1s of the threshold on
    # sub-second data
    gap = F.unix_micros(F.col(ts).cast("timestamp")) - F.unix_micros(
        F.lag(F.col(ts).cast("timestamp")).over(w)
    )
    flagged = df.withColumn(
        "_new_session", F.when(gap > gap_seconds * 1_000_000, 1).otherwise(0)
    )
    return flagged.withColumn(
        "session_id",
        F.sum("_new_session")
        .over(
            Window.partitionBy(key)
            .orderBy(*order_cols)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .cast("bigint"),
    ).drop("_new_session")


def proximity_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    window_seconds: int,
) -> DataFrame:
    """Range join with no equi key: pair every left row with every right
    row whose timestamp falls in ``[left_ts, left_ts + window_seconds]``
    (both ends inclusive), without ever planning a nested-loop join.

    Spark plans a bare range predicate as BroadcastNestedLoopJoin —
    O(|L|·|R|) work that a 100 TB table cannot survive. The distributed
    shape is bucketing: with bucket width == window length, a left
    interval spans at most 2 fixed-width buckets, so exploding the left
    side into those (≤2) buckets and equi-joining on the bucket id turns
    the range join into one hash shuffle join, then the exact predicate
    refines the candidates. Each matching pair survives exactly once
    (the right row owns exactly one bucket). Cost: 2x left rows
    shuffled, |matches per bucket| candidates — linear, skew handled by
    AQE like any other equi join.

    Column names of ``left`` and ``right`` must be disjoint (pre-rename
    at the call site); microsecond arithmetic keeps the window boundary
    bit-exact against an engine computing ``ts + INTERVAL``.
    """
    if window_seconds <= 0:
        # width 0 would make the bucket division NULL and the join
        # silently empty (round-2 advice) — fail loudly instead
        raise ValueError(f"proximity_join: window_seconds must be > 0, got {window_seconds}")
    overlap = set(left.columns) & set(right.columns)
    if overlap:
        raise ValueError(f"proximity_join: overlapping columns {sorted(overlap)}")
    clash = [c for c in ("_bucket",) if c in left.columns or c in right.columns]
    if clash:
        # withColumn would silently overwrite a pre-existing _bucket and
        # then drop it from the output (round-2 advice)
        raise ValueError(f"proximity_join: inputs already contain internal column {clash}")
    width_us = window_seconds * 1_000_000
    l_bucket = F.floor(F.unix_micros(F.col(left_ts)) / width_us).cast("bigint")
    l2 = left.withColumn(
        "_bucket", F.explode(F.array(l_bucket, l_bucket + F.lit(1)))
    )
    r2 = right.withColumn(
        "_bucket", F.floor(F.unix_micros(F.col(right_ts)) / width_us).cast("bigint")
    )
    lag = F.unix_micros(F.col(right_ts)) - F.unix_micros(F.col(left_ts))
    return (
        l2.join(r2, "_bucket")
        .filter((lag >= 0) & (lag <= width_us))
        .drop("_bucket")
    )
