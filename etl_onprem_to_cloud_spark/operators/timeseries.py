"""Time-series operators beyond as-of join: fixed-grid resampling with
gap filling + LOCF, and interval (range) containment joins.

Both are hypertable-style capabilities the reference's delegated SQL
layer (Athena) would struggle with and Spark lacks as primitives; both
are built from joins/windows/sequence so Catalyst/AQE still own the
physical plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def resample_gapfill_locf(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    step: str = "1 hour",
    agg: str = "sum",
) -> DataFrame:
    """Per-key fixed-interval resample over each key's own [min, max]
    span, emitting EVERY bucket (gaps included) with the aggregated
    value, plus a last-observation-carried-forward fill.

    Shape: one agg shuffle on (key, bucket); the grid is generated from
    per-key min/max via sequence+explode (bounded by span/step rows per
    key, no cross join); LOCF is a window carry-forward on the same
    partitioning.  Output: (key, bucket_start, n_points, value, value_locf).
    """
    agg_fn = {"sum": F.sum, "avg": F.avg, "min": F.min, "max": F.max}[agg]
    bucket = F.date_trunc("hour", F.col(ts_col)) if step == "1 hour" else F.window(
        F.col(ts_col), step
    )["start"]

    per_bucket = (
        events.select(
            F.col(key_col).alias("key"),
            bucket.alias("bucket_start"),
            F.col(value_col).alias("v"),
        )
        .groupBy("key", "bucket_start")
        .agg(F.count(F.lit(1)).alias("n_points"), agg_fn("v").alias("value"))
    )
    spans = per_bucket.groupBy("key").agg(
        F.min("bucket_start").alias("lo"), F.max("bucket_start").alias("hi")
    )
    grid = spans.select(
        "key",
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr(f"INTERVAL {step}"))
        ).alias("bucket_start"),
    )
    filled = grid.join(per_bucket, ["key", "bucket_start"], "left")
    w = (
        Window.partitionBy("key")
        .orderBy("bucket_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return filled.select(
        "key",
        "bucket_start",
        F.coalesce("n_points", F.lit(0)).alias("n_points"),
        "value",
        F.last("value", ignorenulls=True).over(w).alias("value_locf"),
    )


def resample_gapfill_interp(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    step: str = "1 hour",
    agg: str = "sum",
) -> DataFrame:
    """:func:`resample_gapfill_locf` plus LINEAR interpolation across
    interior gaps (the hypertable ``interpolate()`` shape): a gap bucket
    gets ``prev + (next - prev) * elapsed_frac``; buckets before the
    first or after the last observation stay NULL (extrapolation is a
    policy decision, not a default).

    Shape: same single agg shuffle as LOCF; the bracketing prev/next
    observation columns are two additional window passes over the SAME
    (key, bucket) partitioning -- no extra shuffle."""
    filled = resample_gapfill_locf(events, key_col, ts_col, value_col, step, agg)
    fwd = (
        Window.partitionBy("key")
        .orderBy("bucket_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # "Next observation" is phrased as a RUNNING aggregate over the
    # DESC ordering, not a (CURRENT ROW, UNBOUNDED FOLLOWING) frame:
    # Spark evaluates unbounded-FOLLOWING frames by re-aggregating the
    # remainder of the partition for every row (it cannot retract), so
    # that frame is O(rows^2) per key -- the sf0.1->sf1 rehearsal
    # measured exponent 1.56 (0.3 s -> 10.5 s) before this rewrite and
    # 10x/linear after.  last-over-DESC is the same value in O(rows).
    bwd = (
        Window.partitionBy("key")
        .orderBy(F.col("bucket_start").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    obs_ts = F.when(F.col("value").isNotNull(), F.col("bucket_start"))
    prev_ts = F.last(obs_ts, ignorenulls=True).over(fwd)
    next_ts = F.last(obs_ts, ignorenulls=True).over(bwd)
    prev_v = F.last("value", ignorenulls=True).over(fwd).cast("double")
    next_v = F.last("value", ignorenulls=True).over(bwd).cast("double")
    span = F.unix_timestamp(next_ts) - F.unix_timestamp(prev_ts)
    frac = (
        F.unix_timestamp(F.col("bucket_start")) - F.unix_timestamp(prev_ts)
    ) / span
    interp = (
        F.when(F.col("value").isNotNull(), F.col("value").cast("double"))
        .when(
            prev_ts.isNotNull() & next_ts.isNotNull(),
            prev_v + (next_v - prev_v) * frac,
        )
    )
    return filled.withColumn("value_interp", interp)


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    on: list[str],
    point_ts: str,
    start_col: str,
    end_col: str,
    how: str = "inner",
) -> DataFrame:
    """Join point rows into containing [start, end] intervals sharing
    equality keys (events into sessions, readings into maintenance
    windows).

    The equality keys carry the shuffle (SortMergeJoin); the range
    predicate is applied within each key group, so cost is bounded by
    per-key points x per-key intervals -- NOT a cartesian.  For keyless
    range joins, bucket time first and join on the bucket.
    """
    cond = None
    for k in on:
        c = points[k] == intervals[k]
        cond = c if cond is None else cond & c
    cond = (
        cond
        & (points[point_ts] >= intervals[start_col])
        & (points[point_ts] <= intervals[end_col])
    )
    return points.join(intervals, cond, how)


def ewma(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    value_col: str,
    alpha: float,
    out_col: str = "ewma",
) -> DataFrame:
    """Per-key exponentially-weighted moving average -- a pandas escape
    hatch for semantics the built-in operators genuinely cannot
    express: the EWMA recurrence ``s_t = (1-a)*s_{t-1} + a*x_t`` (init
    ``s_1 = x_1``) depends on its own previous OUTPUT, which no window
    frame provides.  (The closed form with pow() exists but is
    numerically unstable and engine-divergent; the recurrence is the
    stable, portable shape.)

    Shape: range-partition on ``key_cols``, sort within partitions on
    (keys, order), then ONE ``mapInPandas`` pass that walks each
    partition sequentially, resetting state at key boundaries and
    carrying the boundary key's state across Arrow batches -- one
    Python invocation per Arrow batch instead of one per key (a
    grouped ``applyInPandas`` took 2.5 s against ~1 s at sf0.1, 10k
    keys of ~10 rows, where per-group dispatch dominated the math).
    The range exchange's sampler reads the input, not the Python
    stage, so the UDF runs once per row.  The recurrence is sequential
    WITHIN a key (inherent to the operator); across keys it
    parallelizes like any grouped map.  The update is written as the
    explicit ``(1-a)*s + a*x`` double expression so an external SQL
    engine replaying the same recurrence (e.g. a recursive CTE)
    reproduces it bit-for-bit -- pandas' own ewm() uses a different
    (weight-normalized) operation order and is NOT bit-stable against
    SQL.  Ties in ``order_cols`` would make the scan order ambiguous;
    callers must pass a total order per key.

    Output order: partitions hold ascending, disjoint ``key_cols``
    ranges (NULL keys first) and each is sorted on (keys, order), so a
    caller that wants rows in (keys, order) order needs only
    ``sortWithinPartitions`` on those columns, not an ``orderBy``
    whose range sampler would run the Python stage a second time.
    AQE coalesces only contiguous partitions, which keeps that order.

    NULL semantics (explicit): a NULL ``value_col`` contributes nothing
    to the state and gets a NULL ewma -- the skip-and-propagate rule,
    matching what a recursive-CTE oracle that carries state past NULL
    rows computes.  (Without the pd.isna guard a None arrives as object
    dtype and float(None) kills the whole job with an opaque executor
    TypeError.)  NULL keys form one group, as in ``groupBy``.
    """
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    # A fresh StructType -- StructType.add would MUTATE df's cached
    # schema object and desync it from the plan.
    out_schema = StructType(
        list(df.schema.fields) + [StructField(out_col, DoubleType())]
    )
    one_minus = 1.0 - alpha

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Keys are contiguous within a sorted partition; only the
        # boundary key's state must survive an Arrow batch split.
        # NULL keys share one group, but NaN != NaN would reset state
        # per row -- normalize null key values to a shared sentinel.
        null_key = object()
        prev_key: object = object()  # sentinel unequal to any real key
        s = None
        for pdf in batches:
            out = []
            keys = zip(*(pdf[k] for k in key_cols))
            for k, x in zip(keys, pdf[value_col]):
                k = tuple(null_key if pd.isna(v) else v for v in k)
                if k != prev_key:
                    prev_key, s = k, None
                if pd.isna(x):
                    out.append(None)  # skip-and-propagate
                    continue
                x = float(x)
                s = x if s is None else one_minus * s + alpha * x
                out.append(s)
            pdf = pdf.copy()
            pdf[out_col] = out
            yield pdf

    parts = df.repartitionByRange(*key_cols).sortWithinPartitions(
        *key_cols, *order_cols
    )
    return parts.mapInPandas(run, out_schema)


def clamped_running_sum(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    delta_col: str,
    floor_value: int = 0,
    cap_value: int | None = None,
) -> DataFrame:
    """Per-key clamped running sum (inventory/ledger semantics):
    ``bal_t = min(cap_value, max(floor_value, bal_{t-1} + delta_t))``,
    starting from ``floor_value``.  Like ``ewma`` this recurrence reads
    its own previous OUTPUT, so it runs as a sequential pandas fold.
    ``delta_col`` must be an integer column (exact arithmetic; quantize
    currency upstream), so the fold and a recursive-CTE SQL twin walk
    identical states.

    Expressibility note: the FLOOR-ONLY form (``cap_value=None``) has
    the classic reflection closed form ``bal_t = floor + (P_t - min(0,
    min_{s<=t} P_s))`` over the plain prefix sum ``P`` -- it IS
    window-expressible (see ``q_cusum_value_drift`` /
    ``q_max_drawdown_users`` for the pure-window SQL siblings).  The
    TWO-SIDED clamp has no such closed form (the cap and floor
    reflections interfere) -- that is the genuinely
    window-inexpressible case.

    Returns ONE summary row per key: n_rows, final_balance, n_clamps
    (times the floor bit), n_caps (times the ceiling bit; 0 when
    uncapped), peak_balance.  NULL deltas are treated as 0 (state
    unchanged, never a clamp); NULL keys form one group.  Deltas must
    satisfy |sum| < 2^53 per key (exactness bound of the Arrow float64
    null-passing path).

    Shape, as :func:`ewma`: range-partition on ``key_cols``, sort
    within partitions, and walk each partition in ONE ``mapInPandas``
    pass with key-boundary state resets -- one Python invocation per
    Arrow batch instead of one per key (3x faster than a grouped
    ``applyInPandas`` on many small groups: 6.7 s -> 1.1 s at sf0.1's
    1500 x 67-row groups).  The range exchange's sampler reads the
    input, so the fold runs once per row.  Sequential within a key
    (inherent to the operator); output is key-cardinality sized.
    Output order: summary rows come in ascending key order within each
    partition and partitions hold ascending, disjoint key ranges, so
    ``sortWithinPartitions(*key_cols)`` yields the ORDER BY order
    without a second exchange (see :func:`ewma`).
    """
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    if cap_value is not None and cap_value < floor_value:
        raise ValueError("clamped_running_sum: cap_value < floor_value")

    # In key_cols ORDER, not schema order: the walk emits key values
    # positionally in key_cols order, so a schema-ordered output schema
    # would silently swap key columns whenever key_cols=['b','a'] on an
    # (a, b, ...) frame.
    by_name = {f.name: f for f in df.schema.fields}
    out_schema = StructType(
        [by_name[k] for k in key_cols]
        + [
            StructField("n_rows", LongType()),
            StructField("final_balance", LongType()),
            StructField("n_clamps", LongType()),
            StructField("n_caps", LongType()),
            StructField("peak_balance", LongType()),
        ]
    )
    out_cols = [f.name for f in out_schema.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Keys are contiguous within a sorted partition; the boundary
        # key's state survives Arrow batch splits.  NULL key values
        # normalize to a shared sentinel (the ewma convention).
        null_key = object()
        prev_key: object = object()
        raw_key: tuple = ()
        n = bal = clamps = caps = peak = 0

        def summary_row():
            return [
                *(None if v is null_key else v for v in raw_key),
                n,
                bal,
                clamps,
                caps,
                peak,
            ]

        started = False
        for pdf in batches:
            rows_out = []
            keys = zip(*(pdf[k] for k in key_cols))
            for k, d in zip(keys, pdf[delta_col].tolist()):
                k = tuple(null_key if pd.isna(v) else v for v in k)
                if k != prev_key:
                    if started:
                        rows_out.append(summary_row())
                    prev_key, raw_key = k, k
                    n = clamps = caps = 0
                    bal = peak = floor_value
                    started = True
                n += 1
                if d is None or pd.isna(d):
                    continue
                nxt = bal + int(d)
                if nxt < floor_value:
                    clamps += 1
                    nxt = floor_value
                elif cap_value is not None and nxt > cap_value:
                    caps += 1
                    nxt = cap_value
                bal = nxt
                if bal > peak:
                    peak = bal
            if rows_out:
                yield pd.DataFrame(rows_out, columns=out_cols)
        if started:
            yield pd.DataFrame([summary_row()], columns=out_cols)

    parts = df.repartitionByRange(*key_cols).sortWithinPartitions(
        *key_cols, *order_cols
    )
    return parts.mapInPandas(run, out_schema)
