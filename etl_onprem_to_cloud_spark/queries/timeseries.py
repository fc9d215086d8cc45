"""Time-series and sampling queries (operators/timeseries.py,
operators/sampling.py): gap-filled resampling with LOCF, interval
containment joins, and deterministic stratified sampling."""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..functions.numeric import dec
from ..operators.sampling import duck_hash_gate, stratified_sample
from ..operators.timeseries import interval_join, resample_gapfill_locf
from ._util import cat, fmt_ts
from . import query


@query(
    "q_sample_stratified_docs",
    oracle=f"""
SELECT doc_id, lang
FROM documents
WHERE {duck_hash_gate('CAST(doc_id AS VARCHAR)')} <
  CASE lang WHEN 'en' THEN {int(0.5 * ((1 << 31) - 1))}
            WHEN 'es' THEN {int(0.3 * ((1 << 31) - 1))}
            ELSE {int(0.1 * ((1 << 31) - 1))} END
""",
    tags=("sampling", "ring-c"),
    description="Deterministic stratified sampling: hash-gate on doc_id "
    "with per-language rates (en 50%, es 30%, rest 10%); stable under "
    "repartitioning, unlike df.sample().",
)
def q_sample_stratified_docs(spark, sf_dir):
    docs = cat(spark, sf_dir).documents
    return stratified_sample(
        docs, "doc_id", "lang", {"en": 0.5, "es": 0.3}, default_rate=0.1
    ).select("doc_id", "lang")


@query(
    "q_resample_hourly_locf",
    oracle="""
WITH pts AS (
  SELECT user_id AS key, date_trunc('hour', ts) AS bucket_start,
    count(*) AS n_points,
    sum(CAST(value AS DECIMAL(18,6))) AS value
  FROM events WHERE user_id % 50 = 0
  GROUP BY 1, 2
),
spans AS (
  SELECT key, min(bucket_start) AS lo, max(bucket_start) AS hi FROM pts GROUP BY 1
),
grid AS (
  SELECT key, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket_start
  FROM spans
),
filled AS (
  SELECT g.key, g.bucket_start,
    coalesce(p.n_points, 0) AS n_points, p.value,
    last_value(p.value IGNORE NULLS) OVER (
      PARTITION BY g.key ORDER BY g.bucket_start
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS value_locf
  FROM grid g LEFT JOIN pts p USING (key, bucket_start)
)
SELECT key, strftime(bucket_start, '%Y-%m-%d %H:%M:%S') AS bucket_ts,
  n_points,
  CAST(round(value, 2) AS DOUBLE) AS value,
  CAST(round(value_locf, 2) AS DOUBLE) AS value_locf
FROM filled
""",
    tags=("time-series", "resample", "gapfill", "locf"),
    description="Hourly resample with full gap-filled grid per user and "
    "last-observation-carried-forward (operators/timeseries.py): the "
    "hypertable time_bucket_gapfill shape.",
)
def q_resample_hourly_locf(spark, sf_dir):
    ev = cat(spark, sf_dir).events.filter(F.col("user_id") % 50 == 0)
    out = resample_gapfill_locf(
        ev.withColumn("value_dec", dec("value")),
        key_col="user_id",
        ts_col="ts",
        value_col="value_dec",
        step="1 hour",
        agg="sum",
    )
    return out.select(
        "key",
        fmt_ts("bucket_start", "bucket_ts"),
        "n_points",
        F.round("value", 2).cast("double").alias("value"),
        F.round("value_locf", 2).cast("double").alias("value_locf"),
    )


@query(
    "q_resample_hourly_lerp",
    oracle="""
WITH pts AS (
  SELECT user_id AS key, date_trunc('hour', ts) AS bucket_start,
    count(*) AS n_points,
    sum(CAST(value AS DECIMAL(18,6))) AS value
  FROM events WHERE user_id % 50 = 0
  GROUP BY 1, 2
),
spans AS (
  SELECT key, min(bucket_start) AS lo, max(bucket_start) AS hi FROM pts GROUP BY 1
),
grid AS (
  SELECT key, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket_start
  FROM spans
),
joined AS (
  SELECT g.key, g.bucket_start, coalesce(p.n_points, 0) AS n_points, p.value
  FROM grid g LEFT JOIN pts p USING (key, bucket_start)
),
brk AS (
  SELECT key, bucket_start, n_points, value,
    last_value(CASE WHEN value IS NOT NULL THEN bucket_start END IGNORE NULLS)
      OVER fwd AS prev_ts,
    last_value(CAST(value AS DOUBLE) IGNORE NULLS) OVER fwd AS prev_v,
    first_value(CASE WHEN value IS NOT NULL THEN bucket_start END IGNORE NULLS)
      OVER bwd AS next_ts,
    first_value(CAST(value AS DOUBLE) IGNORE NULLS) OVER bwd AS next_v
  FROM joined
  WINDOW fwd AS (PARTITION BY key ORDER BY bucket_start
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         bwd AS (PARTITION BY key ORDER BY bucket_start
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT key, strftime(bucket_start, '%Y-%m-%d %H:%M:%S') AS bucket_ts,
  n_points,
  CAST(round(value, 2) AS DOUBLE) AS value,
  CAST(round(CAST(CASE
    WHEN value IS NOT NULL THEN CAST(value AS DOUBLE)
    WHEN prev_ts IS NOT NULL AND next_ts IS NOT NULL THEN
      prev_v + (next_v - prev_v)
        * (CAST(date_diff('second', prev_ts, bucket_start) AS DOUBLE)
           / CAST(date_diff('second', prev_ts, next_ts) AS DOUBLE))
  END AS DECIMAL(18,8)), 4) AS DOUBLE) AS value_interp
FROM brk
""",
    tags=("time-series", "resample", "gapfill", "interpolate"),
    description="Hourly resample with LINEAR interpolation across "
    "interior gaps (the hypertable interpolate() shape): a gap bucket "
    "gets prev + (next-prev)*elapsed_frac from the bracketing "
    "observations; leading/trailing gaps stay NULL.",
)
def q_resample_hourly_lerp(spark, sf_dir):
    from ..operators.timeseries import resample_gapfill_interp

    ev = cat(spark, sf_dir).events.filter(F.col("user_id") % 50 == 0)
    out = resample_gapfill_interp(
        ev.withColumn("value_dec", dec("value")),
        key_col="user_id",
        ts_col="ts",
        value_col="value_dec",
        step="1 hour",
        agg="sum",
    )
    return out.select(
        "key",
        fmt_ts("bucket_start", "bucket_ts"),
        "n_points",
        F.round("value", 2).cast("double").alias("value"),
        # Through DECIMAL(18,8) before the final round: lerp at frac=1/2
        # lands on exact 4th-digit halves, where Spark (rounds the
        # shortest decimal repr) and DuckDB (rounds the binary value)
        # disagree by 1e-4; the decimal cast collapses both to the same
        # 8-digit value first.
        F.round(F.col("value_interp").cast("decimal(18,8)"), 4)
        .cast("double")
        .alias("value_interp"),
    )


@query(
    "q_interval_join_busy_hours",
    oracle="""
WITH busy AS (
  SELECT user_id AS b_user, date_trunc('hour', ts) AS win_start,
    date_trunc('hour', ts) + INTERVAL 1 HOUR - INTERVAL 1 MICROSECOND AS win_end,
    count(*) AS n_window_events
  FROM events GROUP BY 1, 2 HAVING count(*) >= 3
)
SELECT event_id, user_id,
  strftime(win_start, '%Y-%m-%d %H:%M:%S') AS window_start,
  n_window_events
FROM events JOIN busy
  ON user_id = b_user AND ts >= win_start AND ts <= win_end
WHERE event_type = 'purchase'
""",
    tags=("time-series", "range-join", "interval"),
    description="Interval containment join: purchases mapped into their "
    "user's busy hours (>=3 events).  Equality key carries the shuffle; "
    "the range predicate filters within key groups, never a cartesian.",
)
def q_interval_join_busy_hours(spark, sf_dir):
    ev = cat(spark, sf_dir).events
    hour = F.date_trunc("hour", F.col("ts"))
    busy = (
        ev.groupBy(F.col("user_id").alias("b_user"), hour.alias("win_start"))
        .agg(F.count(F.lit(1)).alias("n_window_events"))
        .filter(F.col("n_window_events") >= 3)
        .withColumn(
            "win_end",
            F.col("win_start")
            + F.expr("INTERVAL 1 HOUR")
            - F.expr("INTERVAL 1 MICROSECOND"),
        )
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    joined = interval_join(
        purchases,
        busy.withColumnRenamed("b_user", "user_id"),
        on=["user_id"],
        point_ts="ts",
        start_col="win_start",
        end_col="win_end",
    )
    return joined.select(
        "event_id",
        purchases["user_id"].alias("user_id"),
        fmt_ts("win_start", "window_start"),
        "n_window_events",
    )


@query(
    "q_rolling_1h_sum_per_user",
    oracle="""
SELECT event_id, user_id,
  strftime(ts, '%Y-%m-%d %H:%M:%S') AS event_ts,
  CAST(round(sum(CAST(value AS DECIMAL(18,6))) OVER (
    PARTITION BY user_id ORDER BY epoch_us(ts)
    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
  ), 2) AS DOUBLE) AS sum_1h,
  CAST(count(*) OVER (
    PARTITION BY user_id ORDER BY epoch_us(ts)
    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
  ) AS BIGINT) AS n_1h
FROM events
WHERE user_id % 25 = 0
""",
    tags=("time-series", "window", "range-frame"),
    description="Trailing 1-hour rolling sum/count per user: time-based "
    "RANGE frame over epoch seconds (the sliding-metric shape; windows "
    "never shuffle more than their user partition).",
)
def q_rolling_1h_sum_per_user(spark, sf_dir):
    from pyspark.sql import Window

    ev = cat(spark, sf_dir).events.filter(F.col("user_id") % 25 == 0)
    # microsecond-exact frame bound (whole-second casts would disagree
    # with the oracle on events within 1s of the trailing edge).
    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(micros)
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        fmt_ts("ts", "event_ts"),
        F.round(F.sum(dec("value")).over(w), 2).cast("double").alias("sum_1h"),
        F.count(F.lit(1)).over(w).alias("n_1h"),
    )


@query(
    "q_sessions_gaps_islands",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_id,
    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
              > 600000000 OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         THEN 1 ELSE 0 END AS new_session
  FROM events
),
numbered AS (
  SELECT user_id, ts, event_id,
    sum(new_session) OVER (
      PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS session_no
  FROM flagged
)
SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
  count(*) AS n_events
FROM numbered
GROUP BY user_id, session_no
""",
    tags=("time-series", "sessionization", "gaps-islands", "window"),
    description="Sessionization as gaps-and-islands (lag + conditional "
    "cumsum), the window-only twin of session_window: sessions break on "
    ">10min inactivity.",
)
def q_sessions_gaps_islands(spark, sf_dir):
    from pyspark.sql import Window

    ev = cat(spark, sf_dir).events
    order_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag(F.col("ts")).over(order_w)
    # microsecond-exact gap: whole-second casts would disagree with the
    # oracle on gaps within 1s of the threshold.
    gap_us = F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(
        prev_ts.cast("timestamp")
    )
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(prev_ts.isNull() | (gap_us > 600_000_000), 1)
        .otherwise(0)
        .alias("new_session"),
    )
    cum_w = order_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    numbered = flagged.withColumn(
        "session_no", F.sum("new_session").over(cum_w).cast("bigint")
    )
    return numbered.groupBy("user_id", "session_no").agg(
        fmt_ts(F.min("ts"), "session_start"),
        fmt_ts(F.max("ts"), "session_end"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "q_ewma_user_values",
    oracle="""
WITH RECURSIVE s AS (
  SELECT user_id, event_id, ts, value,
    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
rec AS (
  SELECT user_id, event_id, ts, value, rn, value AS ewma
  FROM s WHERE rn = 1
  UNION ALL
  SELECT s.user_id, s.event_id, s.ts, s.value, s.rn,
    0.75 * rec.ewma + 0.25 * s.value
  FROM s JOIN rec ON s.user_id = rec.user_id AND s.rn = rec.rn + 1
)
SELECT user_id, event_id,
  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
  round(value, 6) AS value,
  floor(ewma * 1000000) / 1000000 AS ewma
FROM rec
ORDER BY user_id, event_id
""",
    tags=("timeseries", "pandas-udf", "grouped-map", "ring-b"),
    description=(
        "Per-user EWMA of event values (alpha=0.25, init = first "
        "value) over (ts, event_id) order -- the batch mapInPandas "
        "surface, used where it is genuinely required: the recurrence "
        "reads its own previous output, which no window frame can.  "
        "alpha is chosen binary-exact and the update is the literal "
        "(1-a)*s + a*x double expression, so the recursive-CTE oracle "
        "replays the identical IEEE operation sequence."
    ),
)
def q_ewma_user_values(spark, sf_dir):
    from ..operators.timeseries import ewma

    ev = cat(spark, sf_dir).events.select("user_id", "event_id", "ts", "value")
    out = ewma(
        ev,
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        value_col="value",
        alpha=0.25,
    )
    # TRUNCATE the ewma to 6 decimals instead of round(): alpha=0.25
    # products land exactly on .5 decimal boundaries, where Spark's
    # round (BigDecimal via shortest-repr) and DuckDB's round (scaled
    # multiply) disagree by 1 ulp of the 6th digit.  floor(x*1e6)/1e6
    # depends only on the (bit-identical) double value, never on a
    # decimal re-interpretation -- 3 of 10k rows flipped before this.
    # The operator's output is range-partitioned on user_id, so a local
    # sort gives the ORDER BY order; an orderBy would plan a range
    # exchange whose sampler runs the pandas stage a second time.
    return out.select(
        "user_id",
        "event_id",
        fmt_ts("ts", "ts"),
        F.round("value", 6).alias("value"),
        (F.floor(F.col("ewma") * 1000000) / 1000000).alias("ewma"),
    ).sortWithinPartitions("user_id", "event_id")


# --------------------------------------------------------------------------
# Autocorrelation (ACF) of the hourly event-count series
# --------------------------------------------------------------------------

_ACF_LAGS = (1, 2, 3, 24)
_ACF_LAGS_SQL = ", ".join(str(lag) for lag in _ACF_LAGS)


@query(
    "q_acf_hourly_counts",
    oracle=f"""
WITH x AS (
  SELECT CAST(floor(floor(epoch(ts)) / 3600) AS BIGINT) AS h,
    count(*) AS n
  FROM events GROUP BY h
),
mm AS (
  SELECT CAST(sum(n) AS DOUBLE) / count(*) AS mean FROM x
),
m AS (
  SELECT mm.mean,
    sum(CAST(floor((x.n - mm.mean) * (x.n - mm.mean)
      * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,6))) AS denom
  FROM x CROSS JOIN mm GROUP BY mm.mean
),
lags AS (SELECT unnest([{_ACF_LAGS_SQL}]) AS lag),
num AS (
  SELECT l.lag, count(*) AS n_pairs,
    sum(CAST(floor((a.n - m.mean) * (b.n - m.mean) * 1000000.0 + 0.5)
      / 1000000.0 AS DECIMAL(18,6))) AS numer
  FROM lags l
  CROSS JOIN m
  JOIN x a ON true
  JOIN x b ON b.h = a.h + l.lag
  GROUP BY l.lag
)
SELECT num.lag AS lag, CAST(num.n_pairs AS BIGINT) AS n_pairs,
  floor(CAST(num.numer AS DOUBLE) / CAST(m.denom AS DOUBLE)
    * 1000000.0 + 0.5) / 1000000.0 AS acf
FROM num CROSS JOIN m
ORDER BY lag
""",
    tags=("timeseries", "stats", "acf"),
    description=(
        "Autocorrelation of the hourly event-count series at lags 1, "
        "2, 3 and 24 hours (the seasonality detector behind anomaly "
        "baselines): classic ACF with the full-series variance as the "
        "denominator; hour-lagged pairs are matched by TIME (missing "
        "hours drop their pairs).  Every (x_t - mean) product is "
        "quantized to the 1e-6 grid and accumulated as exact DECIMAL, "
        "so the sums are order-independent and bit-equal cross-engine."
    ),
)
def q_acf_hourly_counts(spark, sf_dir):
    """One shuffle builds the hourly series (tiny); the mean/variance
    reduce to one row which broadcasts into the lag self-join -- the
    series side of that join is hours-count sized, so even years of
    hours stay kilobytes.  At 100 TB only the first aggregation
    touches the raw events."""
    ev = cat(spark, sf_dir).events
    x = (
        ev.select(
            F.floor(
                F.unix_timestamp(F.col("ts").cast("timestamp")) / F.lit(3600)
            ).cast("bigint").alias("h")
        )
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy()
    mean_col = F.sum("n").over(w).cast("double") / F.count(F.lit(1)).over(w)
    dev = x.withColumn("mean", mean_col)
    m = dev.agg(
        F.first("mean").alias("mean"),
        F.sum(
            (
                F.floor(
                    (F.col("n") - F.col("mean"))
                    * (F.col("n") - F.col("mean"))
                    * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).cast("decimal(18,6)")
        ).alias("denom"),
    )
    lags = spark.range(0).sparkSession.createDataFrame(
        [(lag,) for lag in _ACF_LAGS], "lag bigint"
    )
    a = x.select(F.col("h").alias("ha"), F.col("n").alias("na"))
    b = x.select(F.col("h").alias("hb"), F.col("n").alias("nb"))
    num = (
        lags.crossJoin(F.broadcast(m))
        .join(a, F.lit(True))
        .join(b, F.col("hb") == F.col("ha") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(
                (
                    F.floor(
                        (F.col("na") - F.col("mean"))
                        * (F.col("nb") - F.col("mean"))
                        * F.lit(1e6)
                        + F.lit(0.5)
                    )
                    / F.lit(1e6)
                ).cast("decimal(18,6)")
            ).alias("numer"),
        )
    )
    return (
        num.crossJoin(F.broadcast(m.select("denom")))
        .select(
            "lag",
            F.col("n_pairs").cast("bigint").alias("n_pairs"),
            (
                F.floor(
                    F.col("numer").cast("double")
                    / F.col("denom").cast("double")
                    * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("acf"),
        )
        .orderBy("lag")
    )


@query(
    "q_seasonal_naive_mase",
    oracle="""
WITH h AS (
  SELECT CAST(floor(floor(epoch(ts)) / 3600) AS BIGINT) AS hr,
    CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY hr
),
l AS (
  SELECT a.hr, a.y, s.y AS y_season, n.y AS y_naive
  FROM h a
  JOIN h s ON s.hr = a.hr - 24
  JOIN h n ON n.hr = a.hr - 1
),
e AS (
  SELECT
    CAST(count(*) AS BIGINT) AS n_hours,
    CAST(sum(abs(y - y_season)) AS BIGINT) AS ae_season,
    CAST(sum(abs(y - y_naive)) AS BIGINT) AS ae_naive
  FROM l
)
SELECT n_hours,
  floor(CAST(ae_season AS DOUBLE) / n_hours * 1000000.0 + 0.5)
    / 1000000.0 AS mae_seasonal,
  floor(CAST(ae_naive AS DOUBLE) / n_hours * 1000000.0 + 0.5)
    / 1000000.0 AS mae_naive,
  floor(CAST(ae_season AS DOUBLE) / ae_naive * 1000000.0 + 0.5)
    / 1000000.0 AS mase
FROM e
""",
    tags=("timeseries", "forecast", "eval", "analytics"),
    description=(
        "Forecast-baseline evaluation on the hourly event-count "
        "series: MAE of the seasonal-naive forecast (value 24h "
        "earlier) vs the one-step naive forecast, and their ratio "
        "(the MASE denominator convention, seasonal vs naive) -- all "
        "from exact integer absolute errors with one portable "
        "floor-round each.  Lagged values are matched by CLOCK TIME "
        "(epoch-hour join, the q_acf_hourly_counts convention), so "
        "hours with zero events never misalign the seasonal baseline "
        "the way a row-offset lag(y, 24) would.  The sanity baseline "
        "every real forecasting model must beat before it ships."
    ),
)
def q_seasonal_naive_mase(spark, sf_dir):
    """One shuffle to the hourly rollup (bounded domain), two
    epoch-hour self-joins over that skinny series (hours-count sized
    on both sides, kilobytes even for years of hours), a 1-row
    reduce.  Time-aligned joins rather than row-offset lags: gaps in
    the hourly series drop their pairs instead of silently pairing
    each hour with the wrong clock hour."""
    ev = cat(spark, sf_dir).events
    h = ev.groupBy(
        F.floor(
            F.unix_timestamp(F.col("ts").cast("timestamp")) / F.lit(3600)
        ).cast("bigint").alias("hr")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    l = (
        h.alias("a")
        .join(
            h.select(
                (F.col("hr") + F.lit(24)).alias("hr_s"),
                F.col("y").alias("y_season"),
            ),
            F.col("a.hr") == F.col("hr_s"),
        )
        .join(
            h.select(
                (F.col("hr") + F.lit(1)).alias("hr_n"),
                F.col("y").alias("y_naive"),
            ),
            F.col("a.hr") == F.col("hr_n"),
        )
        .select("a.y", "y_season", "y_naive")
    )
    e = l.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        F.sum(F.abs(F.col("y") - F.col("y_season")))
        .cast("bigint")
        .alias("ae_season"),
        F.sum(F.abs(F.col("y") - F.col("y_naive")))
        .cast("bigint")
        .alias("ae_naive"),
    )

    def pr6(c):
        return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    return e.select(
        "n_hours",
        pr6(F.col("ae_season").cast("double") / F.col("n_hours")).alias(
            "mae_seasonal"
        ),
        pr6(F.col("ae_naive").cast("double") / F.col("n_hours")).alias(
            "mae_naive"
        ),
        pr6(F.col("ae_season").cast("double") / F.col("ae_naive")).alias(
            "mase"
        ),
    )


# --------------------------------------------------------------------------
# Holt linear-trend forecast (double exponential smoothing)
# --------------------------------------------------------------------------

# l_t and b_t updates with alpha = beta = 1/2 in milli-unit BIGINT
# fixed point: every step is integer add + floor(x / 2.0) (the double
# division is exact for |x| < 2^52, documented below), so both engines
# walk an identical integer state sequence.  The recursive oracle must
# restate l_t inside the b_t update (SQL cannot reference a same-SELECT
# alias); the fold names it once.
_HOLT_LNEW = (
    "CAST(floor((i.n * 1000 + rec.l + rec.bt) / 2.0) AS BIGINT)"
)

_HOLT_ORACLE = f"""
WITH RECURSIVE days AS (
  SELECT CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) AS d,
    count(*) AS n
  FROM events GROUP BY d
),
idx AS (
  SELECT d, n, row_number() OVER (ORDER BY d) AS rn FROM days
),
rec AS (
  SELECT 1 AS t,
    CAST(a.n * 1000 AS BIGINT) AS l,
    CAST(b.n * 1000 - a.n * 1000 AS BIGINT) AS bt,
    CAST(0 AS BIGINT) AS sae,
    0 AS ne
  FROM idx a JOIN idx b ON a.rn = 1 AND b.rn = 2
  UNION ALL
  SELECT rec.t + 1,
    {_HOLT_LNEW},
    CAST(floor(({_HOLT_LNEW} - rec.l + rec.bt) / 2.0) AS BIGINT),
    rec.sae + abs(i.n * 1000 - (rec.l + rec.bt)),
    rec.ne + 1
  FROM rec JOIN idx i ON i.rn = rec.t + 1
)
SELECT CAST(t AS BIGINT) AS n_days,
  l / 1000.0 AS level,
  bt / 1000.0 AS trend,
  (l + bt) / 1000.0 AS forecast_1,
  (l + 3 * bt) / 1000.0 AS forecast_3,
  (l + 7 * bt) / 1000.0 AS forecast_7,
  floor(CAST(sae AS DOUBLE) / ne / 1000.0 * 1000000.0 + 0.5) / 1000000.0
    AS mae_one_step
FROM rec ORDER BY t DESC LIMIT 1
"""


@query(
    "q_holt_linear_forecast",
    oracle=_HOLT_ORACLE,
    tags=("timeseries", "forecast", "fixed-point", "ring-c"),
    description=(
        "Holt double exponential smoothing (alpha = beta = 1/2) over "
        "the daily event-count series: final level/trend state, 1-, "
        "3- and 7-day-ahead forecasts, and the in-sample one-step MAE "
        "-- the trend-aware upgrade of the seasonal-naive baseline.  "
        "State lives in milli-unit BIGINT fixed point; each update is "
        "an integer add plus floor(x/2.0), exact in doubles below "
        "2^52, so the Spark array fold and the DuckDB recursive CTE "
        "walk bit-identical state sequences (init l=y_1, b=y_2-y_1; "
        "the t=2 error is 0 by construction and is counted)."
    ),
)
def q_holt_linear_forecast(spark, sf_dir):
    """The distributed work is the daily rollup (one shuffle on the
    day key); the recursion then folds over the days-count-sized
    array in ONE row -- O(days), not O(events), exactly the
    temperature-mixture pinned-order-fold convention.  At 100 TB the
    fold length is the calendar (a few thousand elements), so
    sequential state is never a scale concern; only the rollup
    touches raw data.  Guard: needs >= 2 observed days."""
    ev = cat(spark, sf_dir).events
    days = (
        ev.select(
            F.floor(
                F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")) / F.lit(86400))
            )
            .cast("bigint")
            .alias("d")
        )
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    one = days.agg(
        F.array_sort(F.collect_list(F.struct("d", "n"))).alias("arr")
    )
    y1 = F.element_at(F.col("arr"), 1)["n"].cast("bigint") * 1000
    y2 = F.element_at(F.col("arr"), 2)["n"].cast("bigint") * 1000
    init = F.struct(
        y1.alias("l"),
        (y2 - y1).alias("bt"),
        F.lit(0).cast("bigint").alias("sae"),
        F.lit(0).cast("int").alias("ne"),
    )

    def step(acc, x):
        y = x["n"].cast("bigint") * 1000
        f = acc["l"] + acc["bt"]
        l_new = F.floor((y + acc["l"] + acc["bt"]) / F.lit(2.0)).cast("bigint")
        return F.struct(
            l_new.alias("l"),
            F.floor((l_new - acc["l"] + acc["bt"]) / F.lit(2.0))
            .cast("bigint")
            .alias("bt"),
            (acc["sae"] + F.abs(y - f)).alias("sae"),
            (acc["ne"] + F.lit(1)).alias("ne"),
        )

    folded = one.select(
        F.size("arr").alias("n_days_i"),
        F.aggregate(
            F.slice(F.col("arr"), 2, F.greatest(F.size("arr") - 1, F.lit(0))),
            init,
            step,
        ).alias("st"),
    )
    st = F.col("st")
    return folded.select(
        F.col("n_days_i").cast("bigint").alias("n_days"),
        (st["l"] / F.lit(1000.0)).alias("level"),
        (st["bt"] / F.lit(1000.0)).alias("trend"),
        ((st["l"] + st["bt"]) / F.lit(1000.0)).alias("forecast_1"),
        ((st["l"] + 3 * st["bt"]) / F.lit(1000.0)).alias("forecast_3"),
        ((st["l"] + 7 * st["bt"]) / F.lit(1000.0)).alias("forecast_7"),
        (
            F.floor(
                st["sae"].cast("double") / st["ne"] / F.lit(1000.0) * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("mae_one_step"),
    )


# --------------------------------------------------------------------------
# Clamped running balance (inventory/ledger recurrence)
# --------------------------------------------------------------------------

_LEDGER_CAP_M = 500_000  # credit ceiling, milli-units (500.0)


@query(
    "q_clamped_balance_users",
    oracle=f"""
WITH RECURSIVE s AS (
  -- coalesce(d, 0): the operator treats NULL deltas as state-unchanged
  -- (adding 0 never clamps or caps, so the semantics coincide); without
  -- it, DuckDB's NULL-ignoring least/greatest would silently RESET the
  -- balance to the floor on a NULL value row.
  SELECT user_id,
    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
    coalesce(CASE WHEN event_type IN ('purchase', 'error')
         THEN -CAST(floor(value * 1000) AS BIGINT)
         ELSE CAST(floor(value * 1000) AS BIGINT) END, 0) AS d
  FROM events
),
n AS (SELECT user_id, max(rn) AS n_rows FROM s GROUP BY user_id),
rec AS (
  SELECT user_id, rn,
    least({_LEDGER_CAP_M}, greatest(0, d)) AS bal,
    CASE WHEN d < 0 THEN 1 ELSE 0 END AS clamps,
    CASE WHEN d > {_LEDGER_CAP_M} THEN 1 ELSE 0 END AS caps,
    least({_LEDGER_CAP_M}, greatest(0, d)) AS peak
  FROM s WHERE rn = 1
  UNION ALL
  SELECT s.user_id, s.rn,
    least({_LEDGER_CAP_M}, greatest(0, rec.bal + s.d)),
    rec.clamps + CASE WHEN rec.bal + s.d < 0 THEN 1 ELSE 0 END,
    rec.caps + CASE WHEN rec.bal + s.d > {_LEDGER_CAP_M} THEN 1 ELSE 0 END,
    greatest(rec.peak, least({_LEDGER_CAP_M}, greatest(0, rec.bal + s.d)))
  FROM rec JOIN s ON s.user_id = rec.user_id AND s.rn = rec.rn + 1
)
SELECT rec.user_id,
  CAST(n.n_rows AS BIGINT) AS n_events,
  bal / 1000.0 AS final_balance,
  CAST(clamps AS BIGINT) AS n_clamps,
  CAST(caps AS BIGINT) AS n_caps,
  peak / 1000.0 AS peak_balance
FROM rec JOIN n ON rec.user_id = n.user_id AND rec.rn = n.n_rows
ORDER BY rec.user_id
""",
    tags=("timeseries", "recurrence", "mapInPandas", "ring-c"),
    description=(
        "Per-user credit ledger floored at zero AND capped at a "
        "500.0-unit credit ceiling: purchases/errors debit, other "
        "events credit (milli-unit integers); balance_t = min(cap, "
        "max(0, balance_{t-1} + delta_t)).  Reports final balance, "
        "floor-clamp count, cap count and peak per user.  The "
        "TWO-SIDED clamp is genuinely window-inexpressible (unlike "
        "the floor-only form, which has the reflection closed form "
        "used by q_max_drawdown_users / q_cusum_value_drift), so it "
        "runs as the EWMA machinery's integer sibling: "
        "operators/timeseries.clamped_running_sum, with a genuine "
        "recursive-CTE oracle walking identical BIGINT states."
    ),
)
def q_clamped_balance_users(spark, sf_dir):
    """One range exchange on user_id; the fold is sequential within a
    key (inherent to two-sided clamped semantics) and emits one row per
    user, so at 100 TB the output is user-cardinality sized and the
    only data motion is that exchange.  Its output is range-ordered on
    user_id, so the ORDER BY is a local sort with no second exchange
    (and no second run of the fold).  All arithmetic is
    BIGINT milli-units -- floor(value*1000) is the same IEEE double op
    in both engines, everything after is exact."""
    from ..operators.timeseries import clamped_running_sum

    ev = cat(spark, sf_dir).events
    m = F.floor(F.col("value") * 1000).cast("bigint")
    deltas = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type").isin("purchase", "error"), -m)
        .otherwise(m)
        .alias("delta_m"),
    )
    out = clamped_running_sum(
        deltas,
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        delta_col="delta_m",
        cap_value=_LEDGER_CAP_M,
    )
    return out.select(
        "user_id",
        F.col("n_rows").cast("bigint").alias("n_events"),
        (F.col("final_balance") / F.lit(1000.0)).alias("final_balance"),
        F.col("n_clamps").cast("bigint").alias("n_clamps"),
        F.col("n_caps").cast("bigint").alias("n_caps"),
        (F.col("peak_balance") / F.lit(1000.0)).alias("peak_balance"),
    ).sortWithinPartitions("user_id")


# --------------------------------------------------------------------------
# Max drawdown + CUSUM drift: the reflection closed form in pure windows
# --------------------------------------------------------------------------

@query(
    "q_max_drawdown_users",
    oracle="""
WITH d AS (
  SELECT user_id, ts, event_id,
    CASE WHEN event_type IN ('purchase', 'error')
         THEN -CAST(floor(value * 1000) AS BIGINT)
         ELSE CAST(floor(value * 1000) AS BIGINT) END AS m
  FROM events
),
c AS (
  SELECT user_id, ts, event_id, m,
    CAST(sum(m) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS p
  FROM d
),
r AS (
  SELECT user_id, m, p,
    max(p) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS rmax
  FROM c
)
SELECT user_id,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(sum(m) AS BIGINT) / 1000.0 AS final_value,
  max(p) / 1000.0 AS peak_value,
  max(rmax - p) / 1000.0 AS max_drawdown
FROM r GROUP BY user_id
ORDER BY user_id
""",
    tags=("timeseries", "windows", "drawdown", "ring-c"),
    description=(
        "Per-user maximum drawdown of the signed cumulative value "
        "series (purchases/errors debit): running peak minus running "
        "sum, maximized -- pure window functions over exact BIGINT "
        "milli-units, no recurrence needed (the running max IS the "
        "reflection trick that makes the floor-only clamp closed-form; "
        "contrast q_clamped_balance_users' two-sided fold)."
    ),
)
def q_max_drawdown_users(spark, sf_dir):
    """Both windows and the final rollup share the user_id
    partitioning -- one exchange end to end at any scale; all
    accumulation is exact BIGINT until the final /1000.0."""
    from pyspark.sql import Window

    ev = cat(spark, sf_dir).events
    mm = F.floor(F.col("value") * 1000).cast("bigint")
    d = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type").isin("purchase", "error"), -mm)
        .otherwise(mm)
        .alias("m"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r = d.select(
        "user_id",
        "ts",
        "event_id",
        "m",
        F.sum("m").over(w).cast("bigint").alias("p"),
    ).withColumn("rmax", F.max("p").over(w))
    return (
        r.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            (F.sum("m").cast("bigint") / F.lit(1000.0)).alias("final_value"),
            (F.max("p") / F.lit(1000.0)).alias("peak_value"),
            (F.max(F.col("rmax") - F.col("p")) / F.lit(1000.0)).alias(
                "max_drawdown"
            ),
        )
        .orderBy("user_id")
    )


_CUSUM_H_M = 400_000  # alarm threshold, milli-units (400.0)


@query(
    "q_cusum_value_drift",
    oracle=f"""
WITH d AS (
  SELECT user_id, ts, event_id, CAST(floor(value * 1000) AS BIGINT) AS m
  FROM events
),
k AS (
  SELECT CAST(sum(m) AS BIGINT) // CAST(count(*) AS BIGINT) AS k FROM d
),
x AS (
  SELECT user_id, ts, event_id, m - k.k AS x FROM d CROSS JOIN k
),
q AS (
  SELECT user_id, ts, event_id,
    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
    CAST(sum(x) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS q
  FROM x
),
s AS (
  SELECT user_id, rn,
    q - least(CAST(0 AS BIGINT),
              min(q) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING)) AS s
  FROM q
)
SELECT user_id,
  CAST(count(*) AS BIGINT) AS n_events,
  max(s) / 1000.0 AS max_cusum,
  CAST(sum(CASE WHEN s > {_CUSUM_H_M} THEN 1 ELSE 0 END) AS BIGINT)
    AS n_over_threshold,
  CAST(min(CASE WHEN s > {_CUSUM_H_M} THEN rn END) AS BIGINT)
    AS first_alarm_rn
FROM s GROUP BY user_id
ORDER BY user_id
""",
    tags=("timeseries", "windows", "cusum", "changepoint", "ring-c"),
    description=(
        "Per-user CUSUM positive-drift detector against the global "
        "mean event value: S_t = max(0, S_t-1 + (x_t - mean)), "
        "evaluated WITHOUT any recurrence via the reflection closed "
        "form S_t = Q_t - min(0, running-min Q) over the plain "
        "deviation prefix sum -- pure window functions, exact BIGINT "
        "milli-units.  Reports max CUSUM, rows over the 400.0 alarm "
        "threshold and the first alarm position per user."
    ),
)
def q_cusum_value_drift(spark, sf_dir):
    """Two passes over events: a tiny global-mean agg (broadcast as a
    1-row cross join) and one user_id-partitioned window pass; the
    final rollup shares the window's partitioning.  The global mean is
    an exact BIGINT floor division (both operands positive, so
    Spark's truncating `div` equals DuckDB's flooring `//`).

    Not a duplicate of mining.q_cusum_changepoints: that one is the
    UNclamped two-sided cumulative-deviation scan (changepoint
    localization at peak |CUSUM|); this is the one-sided Page control
    chart S_t = max(0, S_{t-1}+x_t-k) -- the clamped recurrence whose
    closed form is the point -- with alarm thresholding."""
    from pyspark.sql import Window

    ev = cat(spark, sf_dir).events
    d = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.floor(F.col("value") * 1000).cast("bigint").alias("m"),
    )
    k = d.agg(
        F.expr("CAST(sum(m) AS BIGINT) div count(*)").alias("k")
    )
    x = d.join(F.broadcast(k)).select(
        "user_id", "ts", "event_id", (F.col("m") - F.col("k")).alias("x")
    )
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    q = x.select(
        "user_id",
        F.row_number().over(wo).alias("rn"),
        F.sum("x").over(wf).cast("bigint").alias("q"),
    )
    wrn = (
        Window.partitionBy("user_id")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = q.select(
        "user_id",
        "rn",
        (
            F.col("q")
            - F.least(F.lit(0).cast("bigint"), F.min("q").over(wrn))
        ).alias("s"),
    )
    over = F.col("s") > _CUSUM_H_M
    return (
        s.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            (F.max("s") / F.lit(1000.0)).alias("max_cusum"),
            F.sum(over.cast("int")).cast("bigint").alias("n_over_threshold"),
            F.min(F.when(over, F.col("rn"))).cast("bigint").alias(
                "first_alarm_rn"
            ),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# Holt-Winters additive seasonal forecast (triple exponential smoothing)
# --------------------------------------------------------------------------

_HW_M = 7  # weekly seasonality over the daily series

# All smoothing constants are 1/2, so every update is integer add +
# floor(x / 2.0) in milli-unit BIGINT fixed point (exact below 2^52) --
# the Holt convention extended with a 7-slot seasonal register.  The
# recursive oracle must RESTATE l_new / s_pos inside the dependent
# updates (SQL cannot reference a same-SELECT alias); the Spark fold
# restates the identical expressions so both engines walk bit-identical
# state sequences.
_HW_SPOS = (
    "(CASE (rec.t) % 7 WHEN 0 THEN rec.s0 WHEN 1 THEN rec.s1"
    " WHEN 2 THEN rec.s2 WHEN 3 THEN rec.s3 WHEN 4 THEN rec.s4"
    " WHEN 5 THEN rec.s5 ELSE rec.s6 END)"
)
_HW_LNEW = (
    f"CAST(floor((i.n * 1000 - {_HW_SPOS} + rec.l + rec.bt) / 2.0)"
    " AS BIGINT)"
)
_HW_SNEW = (
    f"CAST(floor((i.n * 1000 - {_HW_LNEW} + {_HW_SPOS}) / 2.0) AS BIGINT)"
)


def _hw_scol(k: int) -> str:
    return (
        f"CASE WHEN (rec.t) % 7 = {k} THEN {_HW_SNEW} ELSE rec.s{k} END"
    )


_HW_ORACLE = f"""
WITH RECURSIVE days AS (
  SELECT CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) AS d,
    count(*) AS n
  FROM events GROUP BY d
),
idx AS (
  SELECT d, n, row_number() OVER (ORDER BY d) AS rn FROM days
),
init AS (
  SELECT CAST(sum(n * 1000) // 7 AS BIGINT) AS l0 FROM idx WHERE rn <= 7
),
rec AS (
  SELECT 7 AS t, init.l0 AS l, CAST(0 AS BIGINT) AS bt,
    {", ".join(
      f"(SELECT CAST(n * 1000 - init.l0 AS BIGINT) FROM idx"
      f" WHERE rn = {k + 1}) AS s{k}" for k in range(7)
    )},
    CAST(0 AS BIGINT) AS sae, 0 AS ne
  FROM init
  UNION ALL
  SELECT rec.t + 1,
    {_HW_LNEW},
    CAST(floor(({_HW_LNEW} - rec.l + rec.bt) / 2.0) AS BIGINT),
    {", ".join(_hw_scol(k) for k in range(7))},
    rec.sae + abs(i.n * 1000 - (rec.l + rec.bt + {_HW_SPOS})),
    rec.ne + 1
  FROM rec JOIN idx i ON i.rn = rec.t + 1
)
SELECT CAST(t AS BIGINT) AS n_days,
  l / 1000.0 AS level,
  bt / 1000.0 AS trend,
  (l + bt + (CASE (t) % 7 WHEN 0 THEN s0 WHEN 1 THEN s1 WHEN 2 THEN s2
    WHEN 3 THEN s3 WHEN 4 THEN s4 WHEN 5 THEN s5 ELSE s6 END)) / 1000.0
    AS forecast_1,
  (l + 7 * bt + (CASE (t + 6) % 7 WHEN 0 THEN s0 WHEN 1 THEN s1
    WHEN 2 THEN s2 WHEN 3 THEN s3 WHEN 4 THEN s4 WHEN 5 THEN s5
    ELSE s6 END)) / 1000.0 AS forecast_7,
  floor(CAST(sae AS DOUBLE) / ne / 1000.0 * 1000000.0 + 0.5) / 1000000.0
    AS mae_one_step
FROM rec ORDER BY t DESC LIMIT 1
"""


@query(
    "q_holt_winters_additive",
    oracle=_HW_ORACLE,
    tags=("timeseries", "forecast", "fixed-point", "ring-c"),
    description=(
        "Holt-Winters ADDITIVE triple exponential smoothing (alpha = "
        "beta = gamma = 1/2, weekly period 7) over the daily event-"
        "count series: final level/trend, the 7-slot seasonal "
        "register, 1- and 7-day-ahead seasonal forecasts and the in-"
        "sample one-step MAE -- the seasonality-aware upgrade of the "
        "Holt linear forecast next to it.  Init: level = first-week "
        "integer mean, trend = 0, seasonals = first-week deviations; "
        "state in milli-unit BIGINT fixed point, every update integer "
        "add + floor(x/2.0), so both engines walk bit-identical "
        "sequences.  Needs >= 8 observed days."
    ),
)
def q_holt_winters_additive(spark, sf_dir):
    """Identical scale shape to the Holt fold: ONE shuffle for the
    daily rollup, then the recursion folds over the calendar-sized
    array in one row -- O(days) sequential state, never O(events).
    The 7-slot register updates via F.transform on the state array
    (position (t %% 7)); all dependent updates restate l_new exactly
    as the oracle does."""
    ev = cat(spark, sf_dir).events
    days = (
        ev.select(
            F.floor(
                F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")) / F.lit(86400))
            )
            .cast("bigint")
            .alias("d")
        )
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    one = days.agg(
        F.array_sort(F.collect_list(F.struct("d", "n"))).alias("arr")
    )
    first7 = F.slice(F.col("arr"), 1, 7)
    l0 = F.expr(
        "CAST(aggregate(slice(arr, 1, 7), 0L, (a, x) -> a + x.n * 1000L)"
        " DIV 7 AS BIGINT)"
    )
    s_init = F.transform(
        first7, lambda x: (x["n"].cast("bigint") * 1000 - F.col("l0"))
    )
    init = F.struct(
        F.lit(7).cast("int").alias("t"),
        F.col("l0").alias("l"),
        F.lit(0).cast("bigint").alias("bt"),
        F.col("s_init").alias("s"),
        F.lit(0).cast("bigint").alias("sae"),
        F.lit(0).cast("int").alias("ne"),
    )

    def step(acc, x):
        y = x["n"].cast("bigint") * 1000
        pos = acc["t"] % 7
        spos = F.element_at(acc["s"], pos + 1)
        l_new = F.floor((y - spos + acc["l"] + acc["bt"]) / F.lit(2.0)).cast(
            "bigint"
        )
        s_new = F.floor((y - l_new + spos) / F.lit(2.0)).cast("bigint")
        f1 = acc["l"] + acc["bt"] + spos
        return F.struct(
            (acc["t"] + F.lit(1)).alias("t"),
            l_new.alias("l"),
            F.floor((l_new - acc["l"] + acc["bt"]) / F.lit(2.0))
            .cast("bigint")
            .alias("bt"),
            F.zip_with(
                acc["s"],
                F.sequence(F.lit(0), F.lit(6)),
                lambda v, i: F.when(i == pos, s_new).otherwise(v),
            ).alias("s"),
            (acc["sae"] + F.abs(y - f1)).alias("sae"),
            (acc["ne"] + F.lit(1)).alias("ne"),
        )

    folded = (
        one.withColumn("l0", l0)
        .withColumn("s_init", s_init)
        .select(
            F.aggregate(
                F.slice(
                    F.col("arr"), 8, F.greatest(F.size("arr") - 7, F.lit(0))
                ),
                init,
                step,
            ).alias("st")
        )
    )
    st = F.col("st")
    s_at = lambda posc: F.element_at(st["s"], (posc % 7) + 1)  # noqa: E731
    return folded.select(
        st["t"].cast("bigint").alias("n_days"),
        (st["l"] / F.lit(1000.0)).alias("level"),
        (st["bt"] / F.lit(1000.0)).alias("trend"),
        ((st["l"] + st["bt"] + s_at(st["t"])) / F.lit(1000.0)).alias(
            "forecast_1"
        ),
        ((st["l"] + 7 * st["bt"] + s_at(st["t"] + 6)) / F.lit(1000.0)).alias(
            "forecast_7"
        ),
        (
            F.floor(
                st["sae"].cast("double") / st["ne"] / F.lit(1000.0) * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("mae_one_step"),
    )


# --------------------------------------------------------------------------
# Split-conformal prediction interval for the seasonal-naive forecaster
# --------------------------------------------------------------------------

_CONF_M = 7        # weekly seasonal-naive model: yhat_t = y_{t-7}
_CONF_CAL_END = 22  # days 8..22 calibrate, 23.. test
_CONF_ALPHA_NUM, _CONF_ALPHA_DEN = 9, 10  # 90% target coverage


@query(
    "q_conformal_forecast_interval",
    oracle=f"""
WITH days AS (
  SELECT CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) AS d,
    CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY d
),
idx AS (
  SELECT d, y, row_number() OVER (ORDER BY d) AS rn FROM days
),
pred AS (
  SELECT cur.rn, cur.d, cur.y, prev.y AS yhat
  FROM idx cur JOIN idx prev ON prev.rn = cur.rn - {_CONF_M}
),
cal AS (
  SELECT abs(y - yhat) AS r, rn FROM pred
  WHERE rn <= {_CONF_CAL_END}
),
qhat AS (
  -- exact-rank conformal quantile: the ceil((n+1)*alpha)-th smallest
  -- calibration residual (all integers, no interpolation).
  SELECT r AS q FROM (
    SELECT r, row_number() OVER (ORDER BY r, rn) AS k,
      count(*) OVER () AS n
    FROM cal
  ) WHERE k = least(n,
      CAST(ceil((n + 1) * {_CONF_ALPHA_NUM} / {_CONF_ALPHA_DEN}.0) AS BIGINT))
),
test AS (
  SELECT p.rn, p.d, p.y, p.yhat,
    p.yhat - q.q AS lo, p.yhat + q.q AS hi,
    CASE WHEN p.y BETWEEN p.yhat - q.q AND p.yhat + q.q
      THEN 1 ELSE 0 END AS covered
  FROM pred p CROSS JOIN qhat q
  WHERE p.rn > {_CONF_CAL_END}
)
SELECT d AS day, y, yhat, lo, hi, CAST(covered AS BIGINT) AS covered,
  (SELECT CAST(sum(covered) AS BIGINT) FROM test) AS n_covered,
  (SELECT CAST(count(*) AS BIGINT) FROM test) AS n_test,
  (SELECT q FROM qhat) AS q_hat
FROM test ORDER BY d
""",
    tags=("timeseries", "forecast", "conformal", "exact-integer", "ring-c"),
    description=(
        "Split-conformal 90% prediction interval for the weekly "
        "seasonal-naive forecaster over daily event counts: calibrate "
        f"on days 8..{_CONF_CAL_END} (absolute residuals, exact-rank "
        "ceil((n+1)*0.9) quantile -- all integers, no interpolation, "
        "no libm), then report each held-out day's forecast, interval "
        "and coverage flag plus the global empirical coverage.  The "
        "distribution-free uncertainty wrapper that belongs on every "
        "production forecast."
    ),
)
def q_conformal_forecast_interval(spark, sf_dir):
    """One event-scale shuffle (the daily rollup); everything after
    runs on the calendar-sized day relation, where the lag-7 join and
    rank windows touch ~30 rows -- the Holt/seasonal convention.  At
    100 TB only the rollup grows."""
    ev = cat(spark, sf_dir).events
    days = (
        ev.select(
            F.floor(
                F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")) / F.lit(86400))
            )
            .cast("bigint")
            .alias("d")
        )
        .groupBy("d")
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    )
    w = Window.orderBy("d")
    idx = days.withColumn("rn", F.row_number().over(w))
    cur = idx.select(
        F.col("rn"), F.col("d"), F.col("y")
    )
    prev = idx.select(
        (F.col("rn") + _CONF_M).alias("rn"), F.col("y").alias("yhat")
    )
    pred = cur.join(prev, "rn")
    cal = pred.filter(F.col("rn") <= _CONF_CAL_END).select(
        F.abs(F.col("y") - F.col("yhat")).alias("r"), "rn"
    )
    wq = Window.orderBy("r", "rn")
    qhat = (
        cal.withColumn("k", F.row_number().over(wq))
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy()))
        .filter(
            F.col("k")
            == F.least(
                F.col("n"),
                F.ceil(
                    (F.col("n") + 1)
                    * _CONF_ALPHA_NUM
                    / F.lit(float(_CONF_ALPHA_DEN))
                ).cast("bigint"),
            )
        )
        .select(F.col("r").alias("q"))
    )
    test = (
        pred.filter(F.col("rn") > _CONF_CAL_END)
        .crossJoin(F.broadcast(qhat))
        .select(
            "d",
            "y",
            "yhat",
            (F.col("yhat") - F.col("q")).alias("lo"),
            (F.col("yhat") + F.col("q")).alias("hi"),
            F.when(
                (F.col("y") >= F.col("yhat") - F.col("q"))
                & (F.col("y") <= F.col("yhat") + F.col("q")),
                1,
            )
            .otherwise(0)
            .cast("bigint")
            .alias("covered"),
            F.col("q"),
        )
    )
    g = test.agg(
        F.sum("covered").cast("bigint").alias("n_covered"),
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
    )
    return (
        test.crossJoin(F.broadcast(g))
        .select(
            F.col("d").alias("day"),
            "y",
            "yhat",
            "lo",
            "hi",
            "covered",
            "n_covered",
            "n_test",
            F.col("q").alias("q_hat"),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# Croston intermittent-demand forecast (size / interval smoothing)
# --------------------------------------------------------------------------

# z' and p' updates with alpha = 1/2 in milli-unit BIGINT fixed point
# (the Holt machinery's intermittent-demand sibling): demand SIZE and
# demand INTERVAL are smoothed separately and only on days the part
# actually sold -- the regime where ordinary exponential smoothing
# collapses toward zero between sales.  SBA = Croston * (1 - alpha/2),
# the Syntetos-Boylan bias correction.

_CROSTON_ZNEW = "CAST(floor((i.q * 1000 + rec.z) / 2.0) AS BIGINT)"
_CROSTON_PNEW = "CAST(floor(((i.d - rec.pd) * 1000 + rec.p) / 2.0) AS BIGINT)"

_CROSTON_ORACLE = f"""
WITH RECURSIVE top AS (
  SELECT l_partkey FROM lineitem
  GROUP BY l_partkey
  ORDER BY sum(CAST(l_quantity AS BIGINT)) DESC, l_partkey LIMIT 1
),
days AS (
  SELECT CAST(floor(floor(epoch(l_shipdate)) / 86400) AS BIGINT) AS d,
    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
  FROM lineitem JOIN top USING (l_partkey)
  GROUP BY d
),
idx AS (SELECT d, q, row_number() OVER (ORDER BY d) AS rn FROM days),
rec AS (
  SELECT 1 AS t,
    CAST(a.q * 1000 AS BIGINT) AS z,
    CAST(1000 AS BIGINT) AS p,
    a.d AS pd
  FROM idx a WHERE a.rn = 1
  UNION ALL
  SELECT rec.t + 1,
    {_CROSTON_ZNEW},
    {_CROSTON_PNEW},
    i.d
  FROM rec JOIN idx i ON i.rn = rec.t + 1
)
SELECT CAST(t AS BIGINT) AS n_demand_days,
  z / 1000.0 AS demand_size,
  p / 1000.0 AS mean_interval,
  floor(CAST(z AS DOUBLE) / p * 1000000.0 + 0.5) / 1000000.0
    AS croston_forecast,
  floor(CAST(z AS DOUBLE) / p * 0.75 * 1000000.0 + 0.5) / 1000000.0
    AS sba_forecast
FROM rec ORDER BY t DESC LIMIT 1
"""


@query(
    "q_croston_intermittent",
    oracle=_CROSTON_ORACLE,
    tags=("timeseries", "forecast", "fixed-point", "intermittent", "ring-c"),
    description=(
        "Croston intermittent-demand forecast for the top-selling "
        "part's daily quantity series: demand SIZE and demand "
        "INTERVAL smoothed separately (alpha = 1/2, milli-unit BIGINT "
        "fixed point) over only the days the part sold, forecast = "
        "size/interval per day, plus the Syntetos-Boylan corrected "
        "SBA = 0.75 * Croston.  The sparse-demand regime where Holt/"
        "Holt-Winters decay toward zero between sales -- completing "
        "the forecasting family (naive, trend, seasonal, conformal, "
        "intermittent)."
    ),
)
def q_croston_intermittent(spark, sf_dir):
    """Distributed work: the part rollup for the top pick (one
    shuffle) and the per-day demand rollup filtered to that part (the
    broadcast top-1 join pushes the filter to the scan side); the
    recursion folds over the nonzero-demand-days array in ONE row --
    the Holt convention.  State updates are integer add plus
    floor(x/2.0), exact below 2^52, so both engines walk identical
    integer sequences."""
    li = cat(spark, sf_dir).lineitem.select(
        "l_partkey",
        "l_shipdate",
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    top = (
        li.groupBy("l_partkey")
        .agg(F.sum("qty").alias("tq"))
        .orderBy(F.desc("tq"), "l_partkey")
        .limit(1)
        .select("l_partkey")
    )
    days = (
        li.join(F.broadcast(top), "l_partkey")
        .groupBy(
            F.floor(
                F.floor(
                    F.unix_timestamp(F.col("l_shipdate").cast("timestamp"))
                ) / F.lit(86400)
            )
            .cast("bigint")
            .alias("d")
        )
        .agg(F.sum("qty").cast("bigint").alias("q"))
    )
    one = days.agg(
        F.array_sort(F.collect_list(F.struct("d", "q"))).alias("arr")
    )
    first = F.element_at(F.col("arr"), 1)
    init = F.struct(
        (first["q"].cast("bigint") * 1000).alias("z"),
        F.lit(1000).cast("bigint").alias("p"),
        first["d"].cast("bigint").alias("pd"),
    )

    def step(acc, x):
        return F.struct(
            F.floor((x["q"].cast("bigint") * 1000 + acc["z"]) / F.lit(2.0))
            .cast("bigint")
            .alias("z"),
            F.floor(
                ((x["d"] - acc["pd"]).cast("bigint") * 1000 + acc["p"])
                / F.lit(2.0)
            )
            .cast("bigint")
            .alias("p"),
            x["d"].cast("bigint").alias("pd"),
        )

    folded = one.select(
        F.size("arr").cast("bigint").alias("n_demand_days"),
        F.aggregate(
            F.slice(F.col("arr"), 2, F.greatest(F.size("arr") - 1, F.lit(0))),
            init,
            step,
        ).alias("st"),
    )
    st = F.col("st")

    def pr6(c):
        return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    return folded.select(
        "n_demand_days",
        (st["z"] / F.lit(1000.0)).alias("demand_size"),
        (st["p"] / F.lit(1000.0)).alias("mean_interval"),
        pr6(st["z"].cast("double") / st["p"]).alias("croston_forecast"),
        pr6(st["z"].cast("double") / st["p"] * F.lit(0.75)).alias(
            "sba_forecast"
        ),
    )


# --------------------------------------------------------------------------
# STL-lite decomposition + robust anomaly days (trend / seasonal / MAD)
# --------------------------------------------------------------------------

_STL_ORACLE = """
WITH days AS (
  SELECT CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) AS d,
    CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY d
),
nbr AS (
  SELECT days.d + off.o AS c, days.y
  FROM days CROSS JOIN (SELECT unnest([-3, -2, -1, 0, 1, 2, 3]) AS o) off
),
tr AS (
  SELECT c AS d, CAST((sum(y) * 1000) // 7 AS BIGINT) AS trend_milli
  FROM nbr GROUP BY c HAVING count(*) = 7
),
r AS (
  SELECT days.d, days.y, tr.trend_milli,
    days.y * 1000 - tr.trend_milli AS resid
  FROM days JOIN tr USING (d)
),
s AS (
  SELECT d % 7 AS dow,
    CAST(floor(CAST(sum(resid) AS DOUBLE) / count(*)) AS BIGINT) AS sdow
  FROM r GROUP BY dow
),
adj AS (
  SELECT r.d, r.y, r.trend_milli, r.resid - s.sdow AS a
  FROM r JOIN s ON s.dow = r.d % 7
),
n1 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM adj),
med AS (
  SELECT a AS m FROM (
    SELECT a, row_number() OVER (ORDER BY a) AS rn FROM adj
  ) CROSS JOIN n1 WHERE rn = (n + 1) // 2
),
dev AS (SELECT adj.*, abs(a - med.m) AS ad FROM adj CROSS JOIN med),
mad AS (
  SELECT ad AS md FROM (
    SELECT ad, row_number() OVER (ORDER BY ad) AS rn FROM dev
  ) CROSS JOIN n1 WHERE rn = (n + 1) // 2
)
SELECT d AS day_index, y AS n_events,
  trend_milli / 1000.0 AS trend,
  (a - med.m) / 1000.0 AS seasonal_adj_dev,
  CAST(CASE WHEN 10000 * ad > 3 * 14826 * mad.md THEN 1 ELSE 0 END
    AS BIGINT) AS is_anomaly
FROM dev CROSS JOIN med CROSS JOIN mad
ORDER BY ad DESC, d LIMIT 10
"""


@query(
    "q_stl_anomaly_days",
    oracle=_STL_ORACLE,
    tags=("timeseries", "anomaly", "decomposition", "robust", "ring-c"),
    description=(
        "STL-lite anomaly detection on the daily event-count series: "
        "trend = 7-day centered moving average matched by CLOCK TIME "
        "(offset fan-out + full-window gate, never a row-offset "
        "frame), seasonal = day-of-week mean of the detrended "
        "residual, then robust flagging of the seasonally-adjusted "
        "deviation against 3 x 1.4826 x MAD (exact lower-median rank "
        "selections, all-integer comparison).  Output: the 10 most "
        "deviant days with their decomposition -- decompose-then-"
        "flag, the anomaly scan that survives trends and weekly "
        "cycles that would drown a raw z-score."
    ),
)
def q_stl_anomaly_days(spark, sf_dir):
    """One data-scale shuffle (the day rollup); every later step --
    offset fan-out (x7), day-of-week means, median/MAD rank picks --
    runs on the calendar-bounded day relation, constant-size at any
    volume (the Theil-Sen justification for its bounded global
    windows).  Integer milli-units end to end; the only doubles are
    display divisions and the shared floor(sum/count) seasonal mean."""
    ev = cat(spark, sf_dir).events
    days = (
        ev.select(
            F.floor(
                F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")))
                / F.lit(86400)
            )
            .cast("bigint")
            .alias("d")
        )
        .groupBy("d")
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
        # The day rollup is the ONLY event-scale pass, but seven
        # bounded consumers (trend fan-out, join-back, seasonal means,
        # median/MAD picks, output) would each re-run the full scan --
        # checkpoint the calendar-sized relation once (the isotonic
        # bins lesson).
        .localCheckpoint(eager=True)
    )
    off = F.array([F.lit(o) for o in range(-3, 4)])
    nbr = days.select(
        F.explode(off).alias("o"), "d", "y"
    ).select((F.col("d") + F.col("o")).alias("c"), "y")
    tr = (
        nbr.groupBy(F.col("c").alias("d"))
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.expr("CAST((sum(y) * 1000) DIV 7 AS BIGINT)").alias("trend_milli"),
        )
        .filter(F.col("k") == 7)
        .drop("k")
    )
    r = days.join(tr, "d").select(
        "d", "y", "trend_milli",
        (F.col("y") * 1000 - F.col("trend_milli")).alias("resid"),
    )
    s = r.groupBy((F.col("d") % 7).alias("dow")).agg(
        F.floor(F.sum("resid").cast("double") / F.count(F.lit(1)))
        .cast("bigint")
        .alias("sdow")
    )
    adj = (
        r.join(F.broadcast(s), (F.col("d") % 7) == F.col("dow"))
        .select("d", "y", "trend_milli", (F.col("resid") - F.col("sdow")).alias("a"))
    )
    n1 = adj.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    wa = Window.orderBy("a")
    med = (
        adj.withColumn("rn", F.row_number().over(wa))
        .crossJoin(F.broadcast(n1))
        .filter(F.col("rn") == F.floor((F.col("n") + 1) / F.lit(2)))
        .select(F.col("a").alias("m"))
    )
    dev = adj.crossJoin(F.broadcast(med)).withColumn(
        "ad", F.abs(F.col("a") - F.col("m"))
    )
    wd = Window.orderBy("ad")
    mad = (
        dev.withColumn("rn", F.row_number().over(wd))
        .crossJoin(F.broadcast(n1))
        .filter(F.col("rn") == F.floor((F.col("n") + 1) / F.lit(2)))
        .select(F.col("ad").alias("md"))
    )
    return (
        dev.crossJoin(F.broadcast(mad))
        .select(
            F.col("d").alias("day_index"),
            F.col("y").alias("n_events"),
            (F.col("trend_milli") / F.lit(1000.0)).alias("trend"),
            ((F.col("a") - F.col("m")) / F.lit(1000.0)).alias(
                "seasonal_adj_dev"
            ),
            F.when(
                F.lit(10000) * F.col("ad") > F.lit(3 * 14826) * F.col("md"), 1
            )
            .otherwise(0)
            .cast("bigint")
            .alias("is_anomaly"),
            "ad",
        )
        .orderBy(F.desc("ad"), "day_index")
        .limit(10)
        .drop("ad")
    )


# --------------------------------------------------------------------------
# Rolling-origin forecast backtest (MAE by horizon)
# --------------------------------------------------------------------------

_BT_ORACLE = """
WITH days AS (
  SELECT CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) AS d,
    CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY d
),
h AS (SELECT unnest([1, 2, 3, 4, 5, 6, 7]) AS h),
p AS (
  SELECT h.h, a.y AS actual, b.y AS pred_naive, c.y AS pred_seasonal
  FROM days a
  CROSS JOIN h
  JOIN days b ON b.d = a.d - h.h
  JOIN days c ON c.d = a.d - 7
)
SELECT h AS horizon, CAST(count(*) AS BIGINT) AS n_pairs,
  floor(CAST(sum(abs(actual - pred_naive)) AS DOUBLE) / count(*)
        * 1000000.0 + 0.5) / 1000000.0 AS mae_naive,
  floor(CAST(sum(abs(actual - pred_seasonal)) AS DOUBLE) / count(*)
        * 1000000.0 + 0.5) / 1000000.0 AS mae_seasonal,
  floor(CAST(sum(abs(actual - pred_seasonal)) AS DOUBLE)
        / sum(abs(actual - pred_naive)) * 1000000.0 + 0.5) / 1000000.0
    AS rel_mae
FROM p GROUP BY h ORDER BY h
"""


@query(
    "q_forecast_backtest_horizons",
    oracle=_BT_ORACLE,
    tags=("timeseries", "forecast", "backtest", "eval", "ring-c"),
    description=(
        "Rolling-origin forecast backtest of the daily event-count "
        "series: for every origin day and horizon h = 1..7, compare "
        "the last-value forecast (y at d-h) and the same-weekday "
        "seasonal forecast (y at d-7) against the actual, on the SAME "
        "pair set per horizon -- MAE by horizon plus the relative MAE "
        "(seasonal/naive: < 1 where weekly structure beats recency).  "
        "The evaluation harness the forecasting family (naive, Holt, "
        "Holt-Winters, Croston, conformal) gets graded by."
    ),
)
def q_forecast_backtest_horizons(spark, sf_dir):
    """One event-scale shuffle (the day rollup, checkpointed once for
    its three join legs); the horizon fan-out and the clock-time
    offset joins run on the calendar-bounded series -- the
    q_seasonal_naive_mase convention widened to a horizon curve.
    All error sums are exact integers; doubles appear only in the
    final per-horizon divisions."""
    ev = cat(spark, sf_dir).events
    days = (
        ev.select(
            F.floor(
                F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")))
                / F.lit(86400)
            )
            .cast("bigint")
            .alias("d")
        )
        .groupBy("d")
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
        .localCheckpoint(eager=True)
    )
    hs = F.array([F.lit(i) for i in range(1, 8)])
    a = days.select("d", F.col("y").alias("actual")).select(
        "*", F.explode(hs).alias("h")
    )
    b = days.select(
        F.col("d").alias("db"), F.col("y").alias("pred_naive")
    )
    c = days.select(
        F.col("d").alias("dc"), F.col("y").alias("pred_seasonal")
    )
    p = a.join(b, F.col("db") == F.col("d") - F.col("h")).join(
        c, F.col("dc") == F.col("d") - 7
    )

    def q6(col):
        return F.floor(col * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    g = p.groupBy(F.col("h").alias("horizon")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.abs(F.col("actual") - F.col("pred_naive")))
        .cast("bigint")
        .alias("ae_n"),
        F.sum(F.abs(F.col("actual") - F.col("pred_seasonal")))
        .cast("bigint")
        .alias("ae_s"),
    )
    return (
        g.select(
            "horizon",
            "n_pairs",
            q6(F.col("ae_n").cast("double") / F.col("n_pairs")).alias(
                "mae_naive"
            ),
            q6(F.col("ae_s").cast("double") / F.col("n_pairs")).alias(
                "mae_seasonal"
            ),
            q6(F.col("ae_s").cast("double") / F.col("ae_n")).alias("rel_mae"),
        )
        .orderBy("horizon")
    )
