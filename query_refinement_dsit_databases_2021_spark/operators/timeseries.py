"""Time-series analytics operators over the ``events`` table.

The reference engine's time axis is a dense integer key, so it ships no
resampling, gap-filling or forecasting surface; this module supplies
the TSDB family over event-time data, Spark-first. Every operator is
paired with a DuckDB oracle (an ``ORACLE_*`` constant or a
``_*_oracle()`` function) and registered by :func:`timeseries_workloads`
as one of 45 ``ts_*`` workloads: rollups (OHLC, M4, LTTB, histograms,
percentiles, time-weighted averages), gap handling (LOCF,
interpolation, gap detection), smoothing and trend (moving stats,
EWMA, OLS, Theil–Sen, Mann–Kendall, STL), anomaly and change detection
(z-score, MAD, seasonal, CUSUM, level shift, episodes), forecasting
(Holt, Holt-Winters, AR(1), backtests, model selection, Ljung–Box),
correlation (cross-correlation, ACF) and similarity (SAX, DTW, matrix
profile).

Each repeated step has one private definition:

- :func:`_cents` — the ``floor(x*100 + 0.5)`` integer-cents lift. Sums
  of cents are exact int64, so no aggregate depends on partitioning or
  on the engine.
- :func:`_bucket_cents` — the per-(key, bucket) cents sum ``(key, t,
  y)`` every daily or hourly series starts from.
- :func:`_per_key_fit` — strategy P: a sequential fit with no
  scan-parallel form runs per key in ``applyInPandas`` over the
  t-ordered int list, while the aggregation stays JVM-side.
- :func:`_holt` — the integer Holt recursion; :func:`_holt_sql` builds
  the matching recursive-CTE oracle, and :func:`_fdiv` pins floor
  division on DuckDB's truncating ``//``.
- :func:`_dtw` — one DTW over raw or PAA-compressed series, one DP
  expression per engine; :func:`_mp_from_series` — one banded matrix
  profile over the capped or PAA series.

Scale notes (100 TB): every operator is a hash shuffle on its grouping
key (bucket × series key) or a window sort partitioned by the series
key — no global ordering except the matrix profile's capped series.
The gap-fill spine is (span / step) rows per key, independent of the
input row count. Sequential fits see only bucket-count-sized series.
Skew follows key hotness — salt via ``operators.scale.salted_join``
patterns if one key dominates.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def bucket_start(ts, width: str):
    """Tumbling-bucket start for an event-time column: the same
    bucketing ``F.window(ts, width)`` applies, exposed as a plain
    column (epoch-aligned, like DuckDB/TimescaleDB ``time_bucket``)."""
    return F.window(ts, width).start


def _cents(col: str):
    """Integer cents, half up: ``floor(x*100 + 0.5)`` — a long, since
    Spark's floor of a double is one."""
    return F.floor(F.col(col) * 100 + F.lit(0.5))


def _bucket_cents(
    events: DataFrame, bucket, key: str = "event_type", value: str = "value"
) -> DataFrame:
    """Per-(key, bucket) cents sum ``(key, t, y)``: ``t`` is the
    ``bucket`` column (a day, an hour or an epoch index) and ``y`` the
    exact int64 sum of :func:`_cents`. One map-combinable hash agg."""
    return events.groupBy(F.col(key).alias("key"), bucket.alias("t")).agg(
        F.sum(_cents(value)).alias("y")
    )


def _epoch_day(ts: str):
    return F.datediff(F.to_date(ts), F.lit("1970-01-01"))


def _day_index(events: DataFrame, ts: str, key: str, value: str) -> DataFrame:
    """Daily cents against a 0-based per-key day index: ``(key, x, y)``.
    A small x keeps the regression sums exact, and puts each key's
    intercept at its own first day."""
    # renamed before the window, so the later per-key aggs and joins
    # reuse its partitioning instead of shuffling again
    daily = _bucket_cents(events, _epoch_day(ts), key, value).toDF(key, "d", "y")
    x = F.col("d") - F.min("d").over(Window.partitionBy(key))
    return daily.select(key, x.cast("long").alias("x"), "y")


def resample_ohlc(
    events: DataFrame,
    ts: str = "ts",
    key: str = "event_type",
    value: str = "value",
    tiebreak: str = "event_id",
    width: str = "1 hour",
) -> DataFrame:
    """Per-key bucketed OHLC rollup: open/close = value at the
    lowest/highest ``tiebreak`` in the bucket (deterministic first/last
    — arrival order is meaningless on a distributed scan), high/low =
    max/min, n = count. One hash aggregate; ``min_by``/``max_by`` keep
    the whole thing JVM-side (no window sort needed)."""
    return (
        events.groupBy(
            bucket_start(F.col(ts), width).alias("bucket"), F.col(key)
        )
        .agg(
            F.round(F.min_by(value, tiebreak), 2).alias("open"),
            F.round(F.max(value), 2).alias("high"),
            F.round(F.min(value), 2).alias("low"),
            F.round(F.max_by(value, tiebreak), 2).alias("close"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def _observed(
    events: DataFrame, ts: str, key: str, value: str, width: str
) -> DataFrame:
    # Aggregate in integer cents: the fixture values carry 2 decimals,
    # so a bucket average lands exactly on the .005 rounding boundary
    # whenever the cent-sum is odd — and float summation order (which
    # differs across engines/partitionings) would then decide the digit.
    # Cents are exactly representable doubles, so sum/avg are
    # order-independent and the rounded result is deterministic.
    cents = F.round(F.col(value) * 100, 0)
    return events.groupBy(
        bucket_start(F.col(ts), width).alias("bucket"), F.col(key)
    ).agg((F.round(F.avg(cents), 0) / 100).alias("v"))


def _spine(observed: DataFrame, key: str, step: str) -> DataFrame:
    """Dense (bucket × key) spine spanning the observed range. The
    sequence is generated once on a 1-row aggregate and exploded, then
    cross-joined with the distinct key set — both sides are tiny
    (span/step rows and |keys| rows), so Catalyst broadcasts them; the
    only real shuffle in a gap-fill is the final left join back to the
    observations."""
    bounds = observed.agg(
        F.min("bucket").alias("lo"), F.max("bucket").alias("hi")
    )
    buckets = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr(f"INTERVAL {step}"))
        ).alias("bucket")
    )
    keys = observed.select(key).distinct()
    return buckets.crossJoin(keys)


def gapfill_locf(
    events: DataFrame,
    ts: str = "ts",
    key: str = "event_type",
    value: str = "value",
    width: str = "6 hours",
    step: str = "6 hours",
) -> DataFrame:
    """Resample to ``width`` buckets per key, densify to a gap-free
    spine, and fill missing buckets with the last observation carried
    forward. Buckets before a key's first observation stay null.
    ``observed`` flags real vs filled rows."""
    obs = _observed(events, ts, key, value, width)
    dense = _spine(obs, key, step).join(obs, ["bucket", key], "left")
    w = (
        Window.partitionBy(key)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return dense.select(
        "bucket",
        key,
        F.last("v", ignorenulls=True).over(w).alias("value_filled"),
        F.col("v").isNotNull().cast("int").alias("observed"),
    )


def gapfill_interp(
    events: DataFrame,
    ts: str = "ts",
    key: str = "event_type",
    value: str = "value",
    width: str = "6 hours",
    step: str = "6 hours",
) -> DataFrame:
    """Like :func:`gapfill_locf` but missing buckets are linearly
    interpolated between the nearest observation on each side
    (time-weighted on the bucket epoch). Buckets outside a key's
    observed range (no neighbor on one side) stay null. Two window
    passes over the same partitioning — one sort, reused."""
    obs = _observed(events, ts, key, value, width)
    dense = _spine(obs, key, step).join(obs, ["bucket", key], "left")
    t = F.unix_timestamp("bucket")
    t_obs = F.when(F.col("v").isNotNull(), t)
    back = (
        Window.partitionBy(key)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    fwd = (
        Window.partitionBy(key)
        .orderBy("bucket")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    prev_v = F.last("v", ignorenulls=True).over(back)
    prev_t = F.last(t_obs, ignorenulls=True).over(back)
    next_v = F.first("v", ignorenulls=True).over(fwd)
    next_t = F.first(t_obs, ignorenulls=True).over(fwd)
    interp = F.when(F.col("v").isNotNull(), F.col("v")).otherwise(
        F.round(
            prev_v
            + (next_v - prev_v) * (t - prev_t) / (next_t - prev_t),
            4,
        )
    )
    return dense.select(
        "bucket",
        key,
        interp.alias("value_interp"),
        F.col("v").isNotNull().cast("int").alias("observed"),
    )


def moving_stats(
    events: DataFrame,
    ts: str = "ts",
    key: str = "event_type",
    value: str = "value",
    trailing: int = 7,
) -> DataFrame:
    """Daily totals per key with a trailing ``trailing``-day moving
    average and sample stddev (ROWS frame over the resampled series —
    the daily rollup is gap-free enough for the events fixture; for
    sparse keys compose with :func:`gapfill_locf` first). One hash agg
    + one per-key window sort."""
    daily = events.groupBy(
        F.to_date(ts).alias("day"), F.col(key)
    ).agg(F.round(F.sum(value), 2).alias("total"))
    w = (
        Window.partitionBy(key)
        .orderBy("day")
        .rowsBetween(-(trailing - 1), 0)
    )
    return daily.select(
        "day",
        key,
        "total",
        F.round(F.avg("total").over(w), 4).alias("moving_avg"),
        F.round(F.stddev_samp("total").over(w), 4).alias("moving_std"),
    )


def rate_of_change(
    events: DataFrame,
    ts: str = "ts",
    key: str = "user_id",
    value: str = "value",
    order_tiebreak: str = "event_id",
    id_col: str = "event_id",
) -> DataFrame:
    """Discrete derivative on an irregular axis: per entity, ordered by
    (ts, tiebreak), (value - prev value) / seconds since prev event.
    Rows with no predecessor or a zero time delta are dropped (the
    derivative is undefined). One per-entity window sort; no shuffle
    beyond the partitioning hash."""
    w = Window.partitionBy(key).orderBy(ts, order_tiebreak)
    dt = F.unix_timestamp(ts) - F.unix_timestamp(F.lag(ts).over(w))
    dv = F.col(value) - F.lag(value).over(w)
    return (
        events.select(
            F.col(id_col), F.col(key), (dv / dt).alias("_rate"), dt.alias("_dt")
        )
        .where(F.col("_dt") > 0)
        # floor(x*1e6+0.5)/1e6, not round(x, 6): both engines evaluate
        # the identical IEEE ops, whereas round() disagrees when the
        # quotient's binary value straddles a decimal half boundary
        # (observed once in 98k rows at sf0.1)
        .select(
            id_col,
            key,
            (F.floor(F.col("_rate") * 1e6 + F.lit(0.5)) / F.lit(1e6)).alias(
                "rate"
            ),
        )
    )


def ewma(
    events: DataFrame,
    ts: str = "ts",
    key: str = "event_type",
    value: str = "value",
    alpha: float = 0.3,
    lookback: int = 8,
) -> DataFrame:
    """Truncated exponentially-weighted moving average over the daily
    series per key: weights (1-alpha)^j for the trailing ``lookback``
    days, normalized by the weights actually present (so early rows
    use the lags they have — no warm-up NULLs). The truncation makes
    the operator a fixed-width lag combination: one per-key window
    sort, all arithmetic JVM-side, and — unlike the recursive
    formulation — directly expressible in ANSI SQL for the oracle.
    Residual weight beyond the lookback is (1-alpha)^lookback ≈ 4%%
    at the defaults — documented truncation, not an approximation bug."""
    daily = events.groupBy(F.to_date(ts).alias("day"), F.col(key)).agg(
        F.round(F.sum(value), 2).alias("total")
    )
    w = Window.partitionBy(key).orderBy("day")
    num = F.lit(0.0)
    den = F.lit(0.0)
    for j in range(lookback):
        weight = (1.0 - alpha) ** j
        lagged = F.lag("total", j).over(w) if j else F.col("total")
        num = num + F.when(lagged.isNotNull(), F.lit(weight) * lagged).otherwise(
            F.lit(0.0)
        )
        den = den + F.when(lagged.isNotNull(), F.lit(weight)).otherwise(F.lit(0.0))
    # tie-safe 6-dp quantization (rate_of_change idiom): the quotient
    # of a weight-blend over ugly (1-alpha)^j doubles is exactly the
    # round-half divergence class — floor(x*1e6+0.5)/1e6 on both sides
    return daily.select(
        "day",
        key,
        "total",
        (F.floor((num / den) * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias(
            "ewma"
        ),
    )


# ---------------------------------------------------------------------------
# Driver workloads + DuckDB oracles
# ---------------------------------------------------------------------------

ORACLE_OHLC = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket, event_type,
       round(arg_min(value, event_id), 2) AS open,
       round(max(value), 2) AS high,
       round(min(value), 2) AS low,
       round(arg_max(value, event_id), 2) AS close,
       count(*) AS n
FROM events GROUP BY 1, 2
"""

_ORACLE_DENSE = """
WITH obs AS (
  SELECT time_bucket(INTERVAL '6 hours', ts) AS bucket, event_type,
         round(avg(round(value * 100, 0)), 0) / 100 AS v
  FROM events GROUP BY 1, 2),
spine AS (
  SELECT unnest(generate_series((SELECT min(bucket) FROM obs),
                                (SELECT max(bucket) FROM obs),
                                INTERVAL '6 hours')) AS bucket),
keys AS (SELECT DISTINCT event_type FROM events),
dense AS (
  SELECT s.bucket, k.event_type, o.v
  FROM spine s CROSS JOIN keys k
  LEFT JOIN obs o ON o.bucket = s.bucket AND o.event_type = k.event_type)
"""

ORACLE_GAPFILL_LOCF = (
    _ORACLE_DENSE
    + """
SELECT bucket, event_type,
       last_value(v IGNORE NULLS) OVER (
         PARTITION BY event_type ORDER BY bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled,
       CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END AS observed
FROM dense
"""
)

ORACLE_GAPFILL_INTERP = (
    _ORACLE_DENSE
    + """
SELECT bucket, event_type,
       CASE WHEN v IS NOT NULL THEN v ELSE round(
         prev_v + (next_v - prev_v) * (t - prev_t) / (next_t - prev_t), 4)
       END AS value_interp,
       CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END AS observed
FROM (
  SELECT bucket, event_type, v,
         datediff('second', TIMESTAMP '1970-01-01', bucket) AS t,
         last_value(v IGNORE NULLS) OVER back AS prev_v,
         last_value(CASE WHEN v IS NOT NULL THEN
             datediff('second', TIMESTAMP '1970-01-01', bucket) END
             IGNORE NULLS) OVER back AS prev_t,
         first_value(v IGNORE NULLS) OVER fwd AS next_v,
         first_value(CASE WHEN v IS NOT NULL THEN
             datediff('second', TIMESTAMP '1970-01-01', bucket) END
             IGNORE NULLS) OVER fwd AS next_t
  FROM dense
  WINDOW back AS (PARTITION BY event_type ORDER BY bucket
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         fwd AS (PARTITION BY event_type ORDER BY bucket
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
"""
)

ORACLE_MOVING_STATS = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, event_type,
         round(sum(value), 2) AS total
  FROM events GROUP BY 1, 2)
SELECT day, event_type, total,
       round(avg(total) OVER w, 4) AS moving_avg,
       round(stddev_samp(total) OVER w, 4) AS moving_std
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY day
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
"""

def changepoint_cusum(
    events: DataFrame,
    ts: str = "ts",
    key: str = "event_type",
    value: str = "value",
) -> DataFrame:
    """Single change-point location per key via the CUSUM-argmax
    statistic — where :func:`cusum_alerts` flags WHEN the cumulative
    drift crosses a control band, this answers WHERE the level most
    plausibly shifted (the AMOC/binary-segmentation primitive): the
    day t maximizing |n·P_t − t·T| over daily integer-cent totals,
    where P_t is the running prefix and T the key's total. Multiplying
    the classic |P_t − t·T/n| through by n keeps the statistic EXACT
    int64 (n·P_t ≤ days · cent-total — headroom at any SF), and ties
    break (|S| DESC, day ASC). The last day is excluded (a "change
    after everything" is not a segmentation). Pre/post level readouts
    are floor-div cents.

    One (day, key) agg + two windows over the per-key daily frame +
    one key-sized join. Returns one row per key:
    ``(key, cp_day, s_scaled, pre_mean_cents, post_mean_cents)``.
    """
    daily = _bucket_cents(events, F.to_date(ts), key, value).toDF(key, "day", "x")
    w = Window.partitionBy(key).orderBy("day")
    d2 = daily.withColumn("t", F.row_number().over(w)).withColumn(
        "p", F.sum("x").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    tot = daily.groupBy(key).agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("tt")
    )
    scored = (
        d2.join(tot, key)
        .where(F.col("t") < F.col("n"))
        .withColumn("s", F.abs(F.col("n") * F.col("p") - F.col("t") * F.col("tt")))
    )
    w2 = Window.partitionBy(key).orderBy(F.desc("s"), F.asc("day"))
    return (
        scored.withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") == 1)
        .select(
            key,
            F.col("day").alias("cp_day"),
            F.col("s").alias("s_scaled"),
            F.expr("p div t").alias("pre_mean_cents"),
            F.expr("(tt - p) div (n - t)").alias("post_mean_cents"),
        )
        .orderBy(key)
    )


ORACLE_CHANGEPOINT = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, event_type,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS x
  FROM events GROUP BY 1, 2),
d2 AS (
  SELECT day, event_type, x,
         row_number() OVER w AS t,
         CAST(sum(x) OVER w AS BIGINT) AS p
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
tot AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS tt
  FROM daily GROUP BY 1),
scored AS (
  SELECT d2.event_type, day, t, p, n, tt, abs(n * p - t * tt) AS s
  FROM d2 JOIN tot USING (event_type) WHERE t < n)
SELECT event_type, day AS cp_day, s AS s_scaled,
       p // t AS pre_mean_cents,
       (tt - p) // (n - t) AS post_mean_cents
FROM (SELECT *, row_number() OVER (PARTITION BY event_type
          ORDER BY s DESC, day) AS rn FROM scored)
WHERE rn = 1 ORDER BY event_type"""


EWMA_FAST_ALPHA = 0.5
EWMA_SLOW_ALPHA = 0.125


def ewma_crossover(
    events: DataFrame,
    ts: str = "ts",
    key: str = "event_type",
    value: str = "value",
    fast_alpha: float = EWMA_FAST_ALPHA,
    slow_alpha: float = EWMA_SLOW_ALPHA,
    lookback: int = 8,
) -> DataFrame:
    """Fast/slow EWMA crossover signal (the MACD-family trend-change
    detector) on top of :func:`ewma`'s certified truncated-lag idiom:
    BOTH blends come out of ONE per-key window sort (two weight chains
    over the same lag set — no second exchange, no self-join), each
    quantized at 6 dp with the shared floor lift, and a crossover is a
    day whose sign(fast − slow) differs from the previous day's
    NONZERO sign — requiring prev ≠ 0 suppresses the day-1 warm-up
    artifact (with one lag both blends equal the value, sign is 0, and
    every key would otherwise "cross" on day 2). Sign compares the
    QUANTIZED values, so the signal is bit-portable.

    Daily totals are integer cents (per-row floor-quantized, summed as
    int64, scaled back) — the ``changepoint_cusum`` idiom — so the
    total is exact under ANY partial-aggregation order; a float
    ``round(sum(double), 2)`` landing near a .005 boundary could round
    differently between Spark and the oracle and flip a crossover row.

    Returns crossover days only: ``(day, key, fast, slow, direction)``
    with direction ∈ {−1, 0, 1} = the NEW side of the cross.
    """
    daily = _bucket_cents(events, F.to_date(ts), key, value).select(
        F.col("key").alias(key),
        F.col("t").alias("day"),
        (F.col("y") / F.lit(100.0)).alias("total"),
    )
    w = Window.partitionBy(key).orderBy("day")

    def blend(alpha: float):
        num = F.lit(0.0)
        den = F.lit(0.0)
        for j in range(lookback):
            weight = (1.0 - alpha) ** j
            lagged = F.lag("total", j).over(w) if j else F.col("total")
            num = num + F.when(
                lagged.isNotNull(), F.lit(weight) * lagged
            ).otherwise(F.lit(0.0))
            den = den + F.when(lagged.isNotNull(), F.lit(weight)).otherwise(
                F.lit(0.0)
            )
        return F.floor((num / den) * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    scored = daily.select(
        "day", key, blend(fast_alpha).alias("fast"), blend(slow_alpha).alias("slow")
    )
    sig = (
        F.when(F.col("fast") > F.col("slow"), 1)
        .when(F.col("fast") < F.col("slow"), -1)
        .otherwise(0)
    )
    w2 = Window.partitionBy(key).orderBy("day")
    return (
        scored.withColumn("s", sig)
        .withColumn("prev", F.lag("s").over(w2))
        .where(
            F.col("prev").isNotNull()
            & (F.col("prev") != 0)
            & (F.col("s") != F.col("prev"))
        )
        .select(
            "day", key, "fast", "slow", F.col("s").cast("long").alias("direction")
        )
        .orderBy(key, "day")
    )


def _ewma_crossover_oracle(
    fast_alpha: float = EWMA_FAST_ALPHA,
    slow_alpha: float = EWMA_SLOW_ALPHA,
    lookback: int = 8,
) -> str:
    def chain(alpha: float) -> tuple[str, str]:
        num, den = [], []
        for j in range(lookback):
            wgt = repr((1.0 - alpha) ** j)
            lag = "total" if j == 0 else f"lag(total, {j}) OVER w"
            num.append(
                f"CASE WHEN {lag} IS NOT NULL THEN {wgt} * {lag} ELSE 0.0 END"
            )
            den.append(f"CASE WHEN {lag} IS NOT NULL THEN {wgt} ELSE 0.0 END")
        return " + ".join(num), " + ".join(den)

    fn, fd = chain(fast_alpha)
    sn, sd = chain(slow_alpha)
    return f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, event_type,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           / 100.0 AS total
  FROM events GROUP BY 1, 2),
blend AS (
  SELECT day, event_type,
         floor(({fn}) / ({fd}) * 1000000 + 0.5) / 1000000.0 AS fast,
         floor(({sn}) / ({sd}) * 1000000 + 0.5) / 1000000.0 AS slow
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day)),
sig AS (
  SELECT day, event_type, fast, slow,
         CASE WHEN fast > slow THEN 1
              WHEN fast < slow THEN -1 ELSE 0 END AS s,
         lag(CASE WHEN fast > slow THEN 1
                  WHEN fast < slow THEN -1 ELSE 0 END)
           OVER (PARTITION BY event_type ORDER BY day) AS prev
  FROM blend)
SELECT day, event_type, fast, slow, CAST(s AS BIGINT) AS direction
FROM sig WHERE prev IS NOT NULL AND prev <> 0 AND s <> prev
ORDER BY event_type, day"""


ORACLE_EWMA_CROSSOVER = _ewma_crossover_oracle()


def _ewma_oracle(alpha: float = 0.3, lookback: int = 8) -> str:
    num, den = [], []
    for j in range(lookback):
        w = repr((1.0 - alpha) ** j)
        lag = "total" if j == 0 else f"lag(total, {j}) OVER w"
        num.append(f"CASE WHEN {lag} IS NOT NULL THEN {w} * {lag} ELSE 0.0 END")
        den.append(f"CASE WHEN {lag} IS NOT NULL THEN {w} ELSE 0.0 END")
    return f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, event_type,
         round(sum(value), 2) AS total
  FROM events GROUP BY 1, 2)
SELECT day, event_type, total,
       floor(({' + '.join(num)}) / ({' + '.join(den)})
             * 1000000 + 0.5) / 1000000.0 AS ewma
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY day)
"""


ORACLE_EWMA = _ewma_oracle()

ORACLE_RATE = """
WITH o AS (
  SELECT event_id, user_id, value, ts,
         lag(value) OVER w AS pv,
         datediff('second', lag(ts) OVER w, ts) AS dt
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT event_id, user_id,
       floor((value - pv) / dt * 1000000 + 0.5) / 1000000.0 AS rate
FROM o WHERE dt > 0
"""


def anomaly_zscore(
    events: DataFrame,
    ts: str = "ts",
    key: str = "event_type",
    value: str = "value",
    trailing: int = 20,
    threshold: float = 2.5,
) -> DataFrame:
    """Trailing-window z-score anomaly detection: each point scored
    against the mean/stddev of the ``trailing`` rows strictly BEFORE
    it (the scored point is excluded from its own baseline — an
    inclusive frame would let a large spike inflate its own mean/std
    and shrink its own z, self-masking exactly the anomalies being
    hunted), flagged when ``|z| >= threshold``. Only full windows are
    scored (the first ``trailing`` rows per key are warm-up). One
    per-key window sort; no second pass, no driver state.

    Values are lifted to integer cents before the moments (the
    ``moving_stats`` determinism trick): sums and sums-of-squares stay
    exactly representable, so the only cross-engine float work is the
    final division — the filter compares the 4-dp-rounded score, never
    a raw float.

    Returns ``(event_id, key, value_r, z)`` for anomalous rows.
    """
    w = (
        Window.partitionBy(key)
        .orderBy(ts, "event_id")
        .rowsBetween(-trailing, -1)
    )
    seq = Window.partitionBy(key).orderBy(ts, "event_id")
    cents = F.round(F.col(value) * 100, 0)
    scored = events.select(
        "event_id",
        key,
        F.col(value).alias("_v"),
        cents.alias("_c"),
        F.row_number().over(seq).alias("_rn"),
        F.avg(cents).over(w).alias("_mean"),
        F.stddev_samp(cents).over(w).alias("_std"),
    )
    z = F.round((F.col("_c") - F.col("_mean")) / F.col("_std"), 4)
    return (
        scored.where(
            (F.col("_rn") > trailing)
            & (F.col("_std") > 0)
            & (F.abs(z) >= threshold)
        )
        .select(
            "event_id", key, F.round("_v", 2).alias("value_r"), z.alias("z")
        )
    )


def _anomaly_oracle(trailing: int = 20, threshold: float = 2.5) -> str:
    return f"""
WITH s AS (
  SELECT event_id, event_type, value, round(value * 100, 0) AS c,
         row_number() OVER w AS rn,
         avg(round(value * 100, 0)) OVER (w ROWS BETWEEN {trailing} PRECEDING
                                          AND 1 PRECEDING) AS mean,
         stddev_samp(round(value * 100, 0)) OVER (w ROWS BETWEEN {trailing}
                                                  PRECEDING AND 1 PRECEDING) AS std
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id))
SELECT event_id, event_type, round(value, 2) AS value_r,
       round((c - mean) / std, 4) AS z
FROM s
WHERE rn > {trailing} AND std > 0
  AND abs(round((c - mean) / std, 4)) >= {threshold}
ORDER BY event_id"""


def value_histogram(
    events: DataFrame,
    key: str = "event_type",
    value: str = "value",
    lo: float = 0.0,
    width: float = 25.0,
) -> DataFrame:
    """Equi-width histogram per key (the width_bucket / profiling
    primitive): bucket = floor((value - lo) / width), with per-bucket
    count and value extrema. One map-side-combinable hash agg — the
    100 TB shape is as good as a histogram gets.
    """
    bucket = F.floor((F.col(value) - lo) / width).cast("long")
    return (
        events.groupBy(F.col(key), bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            # tie-safe 2-dp quantization: ~10% of events.value carries
            # full double precision, so engine-native round(x, 2) on
            # the raw extrema is the cross-engine round-half class —
            # floor(x*100+0.5)/100 evaluates identical IEEE ops
            (F.floor(F.min(value) * F.lit(100) + F.lit(0.5)) / F.lit(100.0)).alias(
                "lo_v"
            ),
            (F.floor(F.max(value) * F.lit(100) + F.lit(0.5)) / F.lit(100.0)).alias(
                "hi_v"
            ),
        )
        .orderBy(key, "bucket")
    )


ORACLE_HISTOGRAM = """
SELECT event_type, floor((value - 0.0) / 25.0)::BIGINT AS bucket,
       count(*) AS n,
       floor(min(value) * 100 + 0.5) / 100.0 AS lo_v,
       floor(max(value) * 100 + 0.5) / 100.0 AS hi_v
FROM events
GROUP BY event_type, bucket
ORDER BY event_type, bucket"""


def percentile_rollup(
    events: DataFrame, key: str = "event_type", value: str = "value"
) -> DataFrame:
    """Exact latency-style percentile rollup per key: discrete
    p50/p90/p99 (an actual observed value — `percentile_disc`, the
    SLO convention) plus continuous p95 and the sample count.

    One hash aggregate; Spark's sort-based `percentile_disc`/
    `percentile_cont` and DuckDB's `quantile_disc`/`quantile_cont`
    share the same index formula — verified bit-exact including
    even-n and duplicate-heavy boundary cases (`tests/test_timeseries.py`).
    At 100 TB exact per-key percentiles buffer each key's values on
    one task: fine for bounded key cardinality with ~1e8 rows/key;
    beyond that use the `approx_percentile` sketch (`sql_approx_agg`)
    — mergeable, bounded memory, but no longer oracle-exact.
    """
    pd = "percentile_disc({p}) WITHIN GROUP (ORDER BY {v})"
    return (
        events.groupBy(key)
        .agg(
            F.expr(pd.format(p=0.5, v=value)).alias("p50"),
            F.expr(pd.format(p=0.9, v=value)).alias("p90"),
            F.expr(pd.format(p=0.99, v=value)).alias("p99"),
            F.expr(
                f"percentile_cont(0.95) WITHIN GROUP (ORDER BY {value})"
            ).alias("p95_cont"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy(key)
    )


ORACLE_PERCENTILES = """
SELECT event_type,
       quantile_disc(value, 0.5) AS p50,
       quantile_disc(value, 0.9) AS p90,
       quantile_disc(value, 0.99) AS p99,
       quantile_cont(value, 0.95) AS p95_cont,
       CAST(count(*) AS BIGINT) AS n
FROM events
GROUP BY event_type
ORDER BY event_type"""


def time_weighted_avg(
    events: DataFrame,
    ts: str = "ts",
    key: str = "event_type",
    value: str = "value",
    tiebreak: str = "event_id",
    width: str = "1 day",
) -> DataFrame:
    """Time-weighted average per (key, bucket) — the TSDB aggregate for
    irregularly-sampled series (a reading that held for 6 hours must
    outweigh one that held for a minute; plain ``avg`` is wrong the
    moment sampling is irregular).

    LOCF weighting within the bucket: each observation covers the
    segment from its timestamp to the next observation of the same key
    (or the bucket end for the last one). Coverage therefore starts at
    each bucket's FIRST observation — the span from bucket_start to
    that first sample is unweighted, unlike TimescaleDB-style locf
    which carries the prior bucket's last point across the boundary;
    callers wanting boundary carry should gap-fill first
    (:func:`gapfill_locf`). Weights are integer
    MICROSECONDS and values integer mills, so the weighted sum is an
    int64 sum — order-free exact; per-bucket weights total ≤ the bucket
    width, so ``Σ dur_us·mills ≤ 8.64e10 · |value|·1e3`` never nears
    int64 overflow regardless of row count. Equal timestamps get zero
    duration except the last in ``tiebreak`` order (deterministic).

    One window pass partitioned by key (the lead lookup) + one hash
    aggregate — no global sort. Returns ``(bucket, key, w_us, twa)``.
    """
    w = Window.partitionBy(key).orderBy(ts, tiebreak)
    nxt = F.lead(ts).over(w)
    bucket = bucket_start(F.col(ts), width)
    bucket_end = bucket + F.expr(f"INTERVAL {width}")
    seg_end = F.least(F.coalesce(nxt, bucket_end), bucket_end)
    # NTZ-safe epoch micros (session tz is UTC — sessions.py convention);
    # only the DIFFERENCE is used, so any fixed offset cancels anyway
    dur_us = F.unix_micros(seg_end.cast("timestamp")) - F.unix_micros(
        F.col(ts).cast("timestamp")
    )
    qv = F.floor(F.col(value) * 1000 + F.lit(0.5)).cast("long")
    staged = events.select(
        bucket.alias("bucket"),
        F.col(key),
        dur_us.alias("w_us"),
        (dur_us * qv).alias("wq"),
    )
    agg = staged.groupBy("bucket", key).agg(
        F.sum("w_us").alias("w_us"), F.sum("wq").alias("swq")
    )
    # floor(x*1e6+0.5)/1e6, not round(x, 6): the rate_of_change
    # tie-safe idiom — both engines evaluate identical IEEE ops,
    # whereas round() disagrees when the quotient straddles a decimal
    # half boundary (the exact class that flipped ts_rate_of_change
    # once in 98k rows at sf0.1)
    q = F.col("swq") / (1000.0 * F.col("w_us"))
    twa = F.when(
        F.col("w_us") > 0,
        F.floor(q * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6),
    )
    return agg.select("bucket", key, "w_us", twa.alias("twa"))


ORACLE_TWA = """
WITH seg AS (
  SELECT time_bucket(INTERVAL '1 day', ts) AS bucket, event_type,
         epoch_us(least(coalesce(lead(ts) OVER (PARTITION BY event_type
                                                ORDER BY ts, event_id),
                        time_bucket(INTERVAL '1 day', ts) + INTERVAL '1 day'),
                  time_bucket(INTERVAL '1 day', ts) + INTERVAL '1 day'))
           - epoch_us(ts) AS w_us,
         floor(value * 1000 + 0.5)::BIGINT AS qv
  FROM events)
SELECT bucket, event_type, CAST(sum(w_us) AS BIGINT) AS w_us,
       CASE WHEN sum(w_us) > 0
            THEN floor(sum(w_us * qv) / (1000.0 * sum(w_us))
                       * 1000000 + 0.5) / 1000000.0 END AS twa
FROM seg GROUP BY bucket, event_type ORDER BY bucket, event_type"""


def downsample_m4(
    events: DataFrame,
    ts: str = "ts",
    key: str = "event_type",
    value: str = "value",
    tiebreak: str = "event_id",
    width: str = "6 hours",
) -> DataFrame:
    """M4 visualization downsampling: per (key, bucket) keep the four
    extremal points — first, last, min-value, max-value — the minimal
    point set that renders the same line/area at bucket-per-pixel
    resolution (M4, PVLDB 7(10)). Points serving multiple roles emit
    once (DISTINCT).

    Four rank windows over ONE (key, bucket) exchange; ranks are fully
    tie-broken (ts, tiebreak / value, ts, tiebreak) so the survivor
    set is deterministic and the oracle states the identical ranks. At
    100 TB the output is 4·keys·(span/width) rows — the whole point:
    render-size, not data-size.
    """
    w = Window.partitionBy("bucket", key)
    first = F.row_number().over(w.orderBy(ts, tiebreak))
    last = F.row_number().over(w.orderBy(F.desc(ts), F.desc(tiebreak)))
    vmin = F.row_number().over(w.orderBy(value, ts, tiebreak))
    vmax = F.row_number().over(w.orderBy(F.desc(value), F.desc(ts), F.desc(tiebreak)))
    staged = events.select(
        bucket_start(F.col(ts), width).alias("bucket"), key, ts, value, tiebreak
    )
    return (
        staged.withColumn("keep", (first == 1) | (last == 1) | (vmin == 1) | (vmax == 1))
        .where("keep")
        .select("bucket", key, ts, value)
        .distinct()
    )


ORACLE_M4 = """
WITH staged AS (
  SELECT time_bucket(INTERVAL '6 hours', ts) AS bucket, event_type, ts,
         value, event_id FROM events),
r AS (
  SELECT *,
    row_number() OVER (PARTITION BY bucket, event_type
                       ORDER BY ts, event_id) AS r_first,
    row_number() OVER (PARTITION BY bucket, event_type
                       ORDER BY ts DESC, event_id DESC) AS r_last,
    row_number() OVER (PARTITION BY bucket, event_type
                       ORDER BY value, ts, event_id) AS r_min,
    row_number() OVER (PARTITION BY bucket, event_type
                       ORDER BY value DESC, ts DESC, event_id DESC) AS r_max
  FROM staged)
SELECT DISTINCT bucket, event_type, ts, value
FROM r WHERE r_first = 1 OR r_last = 1 OR r_min = 1 OR r_max = 1
ORDER BY bucket, event_type, ts"""


def detect_gaps(
    events: DataFrame,
    ts: str = "ts",
    key: str = "event_type",
    tiebreak: str = "event_id",
    min_gap: str = "auto",
    factor: int = 10,
) -> DataFrame:
    """Sampling-gap detection — the TSDB health check that finds spans
    where a series went silent: per key (ordered by ``(ts, tiebreak)``),
    report every consecutive pair further apart than the threshold as
    ``(key, gap_start, gap_end, gap_us)``.

    ``min_gap="auto"`` (default) is scale-invariant: a gap is a delta
    exceeding ``factor`` × the key's MEDIAN sampling interval (exact
    ``percentile_disc`` — an observed int64, identical index formula on
    both engines; a fixed wall-clock threshold either floods sparse
    series or never fires on dense ones as data density scales). An
    explicit interval string (e.g. ``"1 hour"``) gives the fixed form.

    One per-key window sort (the lag lookup) plus, in auto mode, one
    tiny per-key median agg broadcast back; the comparison is pure
    int64. Output is gap-count-sized, not data-sized.
    """
    w = Window.partitionBy(key).orderBy(ts, tiebreak)
    prev = F.lag(ts).over(w)
    gap_us = F.unix_micros(F.col(ts).cast("timestamp")) - F.unix_micros(
        prev.cast("timestamp")
    )
    staged = events.select(
        F.col(key),
        prev.alias("gap_start"),
        F.col(ts).alias("gap_end"),
        gap_us.alias("gap_us"),
    )
    if min_gap == "auto":
        med = (
            staged.where(F.col("gap_us").isNotNull())
            .groupBy(key)
            .agg(
                F.expr(
                    "percentile_disc(0.5) WITHIN GROUP (ORDER BY gap_us)"
                ).alias("med_us")
            )
        )
        return (
            staged.join(F.broadcast(med), key)
            .where(F.col("gap_us") > factor * F.col("med_us"))
            .select(key, "gap_start", "gap_end", "gap_us")
        )
    # interval -> integer µs via a fixed-epoch round trip (plan-time
    # constant folded by Catalyst; avoids parsing the interval string)
    thresh = F.unix_micros(
        F.lit("1970-01-01 00:00:00").cast("timestamp")
        + F.expr(f"INTERVAL {min_gap}")
    )
    return staged.where(F.col("gap_us") > thresh)


ORACLE_GAPS = """
WITH d AS (
  SELECT event_type,
         lag(ts) OVER (PARTITION BY event_type ORDER BY ts, event_id)
           AS gap_start,
         ts AS gap_end,
         epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY event_type
                                               ORDER BY ts, event_id))
           AS gap_us
  FROM events),
m AS (SELECT event_type, CAST(quantile_disc(gap_us, 0.5) AS BIGINT) AS med_us
      FROM d WHERE gap_us IS NOT NULL GROUP BY event_type)
SELECT d.event_type, gap_start, gap_end, CAST(gap_us AS BIGINT) AS gap_us
FROM d JOIN m USING (event_type)
WHERE gap_us > 10 * med_us
ORDER BY event_type, gap_end"""


def cross_correlation(
    events: DataFrame,
    key_a: str = "click",
    key_b: str = "purchase",
    key: str = "event_type",
    ts: str = "ts",
    value: str = "value",
    max_lag: int = 7,
) -> DataFrame:
    """Lagged Pearson cross-correlation between two keys' daily series
    (does signal A lead signal B by L days?) — the co-movement
    diagnostic behind alerting and causal-ish dashboards.

    Daily totals are integer cents (per-row floor-quantized, summed as
    int64 — order-free exact); for each lag the join is a day equi-join
    on integer epoch-days (never an interval NLJ), and all five Pearson
    sums (Σx, Σy, Σxy, Σx², Σy²) are exact int64s, so the only float
    work is the final closed form — one expression, identical IEEE ops
    on both engines, floor-quantized at 6 dp. Returns
    ``(lag, n_days, r)`` where B is shifted ``lag`` days after A.

    Scale: the daily rollup is ONE map-combinable agg; the per-lag
    joins touch days×lags rows (render-sized, not data-sized).
    """
    daily = _bucket_cents(events, _epoch_day(ts), key, value).toDF(key, "d", "c")
    a = daily.where(F.col(key) == key_a).select("d", F.col("c").alias("ca"))
    b = daily.where(F.col(key) == key_b).select(
        F.col("d").alias("db"), F.col("c").alias("cb")
    )
    spark = events.sparkSession
    lags = spark.range(0, max_lag + 1).select(F.col("id").cast("int").alias("lag"))
    # tiny lag spine (the timeseries.py:104 convention) + day equi-join
    j = a.crossJoin(F.broadcast(lags)).join(
        b, F.col("db") == F.col("d") + F.col("lag")
    )
    agg = j.groupBy("lag").agg(
        F.count("*").alias("n_days"),
        F.sum("ca").alias("sx"),
        F.sum("cb").alias("sy"),
        F.sum(F.col("ca") * F.col("cb")).alias("sxy"),
        F.sum(F.col("ca") * F.col("ca")).alias("sxx"),
        F.sum(F.col("cb") * F.col("cb")).alias("syy"),
    )
    n = F.col("n_days")
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.sqrt((n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")) * F.sqrt(
        (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    r6 = F.floor(num / den * 1e6 + F.lit(0.5)) / 1e6
    return agg.select(
        "lag", "n_days", r6.alias("r")
    ).orderBy("lag")


def _crosscorr_oracle(
    key_a: str = "click", key_b: str = "purchase", max_lag: int = 7
) -> str:
    return f"""
WITH daily AS (
  SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
         event_type,
         CAST(sum(floor(value * 100 + 0.5)::BIGINT) AS BIGINT) AS c
  FROM events GROUP BY 1, 2),
a AS (SELECT d, c AS ca FROM daily WHERE event_type = '{key_a}'),
b AS (SELECT d AS db, c AS cb FROM daily WHERE event_type = '{key_b}'),
lags AS (SELECT CAST(unnest(range(0, {max_lag + 1})) AS INTEGER) AS lag),
j AS (SELECT lag, ca, cb FROM a CROSS JOIN lags JOIN b ON db = d + lag),
agg AS (
  SELECT lag, CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(ca) AS BIGINT) AS sx, CAST(sum(cb) AS BIGINT) AS sy,
         CAST(sum(ca * cb) AS BIGINT) AS sxy,
         CAST(sum(ca * ca) AS BIGINT) AS sxx,
         CAST(sum(cb * cb) AS BIGINT) AS syy
  FROM j GROUP BY lag)
SELECT lag, n_days,
       floor(CAST(n_days * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(n_days * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(n_days * syy - sy * sy AS DOUBLE)))
             * 1000000 + 0.5) / 1000000.0 AS r
FROM agg ORDER BY lag"""


def anomaly_mad(
    events: DataFrame,
    key: str = "event_type",
    value: str = "value",
    threshold: float = 3.0,
) -> DataFrame:
    """Robust anomaly detection via median / MAD (the TSDB alternative
    to :func:`anomaly_zscore` when the baseline itself is contaminated:
    mean/std have a 0% breakdown point — one huge spike drags the mean
    toward itself and masks its neighbors — while median/MAD tolerate
    up to 50% outliers). A point is anomalous when
    ``|x - median| > threshold * 1.4826 * MAD`` (1.4826 scales MAD to
    sigma-equivalent under normality).

    Determinism: values lift to integer cents (``floor(x*100+0.5)``),
    so the median is the average of two integers (dyadic-exact) and
    every |deviation| is a multiple of 0.5 — the flag compare is
    ``|dev|*10^4 > round(threshold*14826) * MAD``, all exactly
    representable doubles, no float rounding anywhere near the
    boundary. The reported robust z uses the tie-safe
    ``floor(x*1e4+0.5)/1e4`` idiom (both engines evaluate identical
    IEEE ops on exact operands).

    Plan: two hash aggregates (median, then MAD of deviations) over a
    handful of keys, broadcast back — the exact per-key median is a
    sort-based aggregate, the honest cost of exactness; the 100 TB
    path swaps ``median`` for ``approx_percentile(c, 0.5)`` and keeps
    everything else (SCALE.md). Returns flagged
    ``(event_id, key, value_r, rz)``.
    """
    thr = int(round(threshold * 14826))
    base = events.select("event_id", key, _cents(value).alias("_c"))
    med = base.groupBy(key).agg(F.median("_c").alias("_med"))
    j1 = base.join(F.broadcast(med), key)
    mad = j1.groupBy(key).agg(
        F.median(F.abs(F.col("_c") - F.col("_med"))).alias("_mad")
    )
    j2 = j1.join(F.broadcast(mad), key)
    dev = F.col("_c") - F.col("_med")
    rz = F.floor(
        dev / (F.lit(1.4826) * F.col("_mad")) * F.lit(1e4) + F.lit(0.5)
    ) / F.lit(1e4)
    return (
        j2.where(
            (F.col("_mad") > 0)
            & (F.abs(dev) * F.lit(10000) > F.lit(thr) * F.col("_mad"))
        )
        .select(
            "event_id",
            key,
            (F.col("_c") / F.lit(100.0)).alias("value_r"),
            rz.alias("rz"),
        )
    )


def _mad_oracle(key: str = "event_type", threshold: float = 3.0) -> str:
    thr = int(round(threshold * 14826))
    return f"""
WITH c AS (
  SELECT event_id, {key}, floor(value * 100 + 0.5) AS c FROM events),
m1 AS (SELECT {key}, median(c) AS med FROM c GROUP BY 1),
j1 AS (SELECT c.*, med FROM c JOIN m1 USING ({key})),
m2 AS (SELECT {key}, median(abs(c - med)) AS mad FROM j1 GROUP BY 1),
j2 AS (SELECT j1.*, mad FROM j1 JOIN m2 USING ({key}))
SELECT event_id, {key}, c / 100.0 AS value_r,
       floor((c - med) / (1.4826 * mad) * 10000 + 0.5) / 10000.0 AS rz
FROM j2
WHERE mad > 0 AND abs(c - med) * 10000 > {thr} * mad
ORDER BY event_id"""


def seasonal_anomaly(
    events: DataFrame,
    ts: str = "ts",
    key: str = "event_type",
    value: str = "value",
    factor: int = 3,
) -> DataFrame:
    """Seasonal-baseline anomaly detection: each point is compared to
    the mean of its own (key, hour-of-day) slot — the diurnal profile —
    and flagged when it exceeds ``factor`` times that slot baseline. A
    3 AM burst that would vanish against a whole-day average stands out
    against the 3 AM baseline; the flat-threshold ops (:func:`anomaly_zscore`,
    :func:`anomaly_mad`) can't see seasonality at all.

    Determinism: values lift to integer mills; the flag compare is the
    cross-multiplied ``mills * n_slot > factor * sum_slot`` — pure
    int64, no division at the boundary (safe while
    ``n_slot * max_mills < 2^63``; a 100 TB corpus with >1e11 rows per
    slot should divide first and compare the floor-quantized ratio,
    SCALE.md). The reported ratio uses the tie-safe floor idiom on
    identical exact operands.

    Plan: one map-combinable hash aggregate over |keys| * 24 slots,
    broadcast back into the scan — two passes over events, no window
    sort. Returns flagged ``(event_id, key, hod, value_r, ratio)``.
    """
    mills = F.floor(F.col(value) * 1000 + F.lit(0.5)).cast("long")
    hod = F.hour(F.col(ts)).cast("int")
    base = events.select(
        "event_id", key, hod.alias("hod"), mills.alias("_m")
    )
    prof = base.groupBy(key, "hod").agg(
        F.count("*").alias("_n"), F.sum("_m").alias("_s")
    )
    j = base.join(F.broadcast(prof), [key, "hod"])
    ratio = F.floor(
        (F.col("_m") * F.col("_n")).cast("double")
        / F.col("_s").cast("double")
        * F.lit(1e4)
        + F.lit(0.5)
    ) / F.lit(1e4)
    return (
        j.where(
            (F.col("_s") > 0)
            & (F.col("_m") * F.col("_n") > F.lit(factor) * F.col("_s"))
        )
        .select(
            "event_id",
            key,
            "hod",
            (F.col("_m") / F.lit(1000.0)).alias("value_r"),
            ratio.alias("ratio"),
        )
    )


def _seasonal_oracle(key: str = "event_type", factor: int = 3) -> str:
    return f"""
WITH b AS (
  SELECT event_id, {key}, CAST(hour(ts) AS INTEGER) AS hod,
         floor(value * 1000 + 0.5)::BIGINT AS m
  FROM events),
prof AS (
  SELECT {key}, hod, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(m) AS BIGINT) AS s
  FROM b GROUP BY 1, 2),
j AS (SELECT b.*, n, s FROM b JOIN prof USING ({key}, hod))
SELECT event_id, {key}, hod, m / 1000.0 AS value_r,
       floor(CAST(m * n AS DOUBLE) / CAST(s AS DOUBLE) * 10000 + 0.5)
         / 10000.0 AS ratio
FROM j
WHERE s > 0 AND m * n > {factor} * s
ORDER BY event_id"""


def level_shift(
    events: DataFrame,
    ts: str = "ts",
    key: str = "event_type",
    value: str = "value",
    w: int = 24,
    delta: float = 30.0,
) -> DataFrame:
    """Level-shift (changepoint) detection: at each point, compare the
    mean of the ``w`` observations strictly before it against the mean
    of the ``w`` starting at it; flag when the means differ by at least
    ``delta``. The two-sided-window test is the windowed-contrast
    changepoint detector; the cumulative-sum alternative with its
    max(0, ...) reset IS also scan-expressible — see
    :func:`cusum_alerts` for the prefix-sum/running-min flattening —
    and the two detect complementary shapes (sharp steps here,
    slow sustained drifts there).

    Determinism: integer-cents window SUMS (order-free exact), the flag
    compare is ``|post_sum - pre_sum| >= delta_cents * w`` in int64,
    and only full windows score (count = w on both sides). Reported
    means use the tie-safe floor idiom on exact operands.

    Plan: ONE window sort partitioned by key (both frames share it);
    no joins, no second pass. Returns flagged
    ``(event_id, key, pre_avg, post_avg, diff_c)``.
    """
    delta_c = int(round(delta * 100)) * w
    win = Window.partitionBy(key).orderBy(ts, "event_id")
    pre = win.rowsBetween(-w, -1)
    post = win.rowsBetween(0, w - 1)
    c = _cents(value)
    scored = events.select(
        "event_id",
        key,
        c.alias("_c"),
        F.sum(c).over(pre).alias("_ps"),
        F.count(c).over(pre).alias("_pn"),
        F.sum(c).over(post).alias("_qs"),
        F.count(c).over(post).alias("_qn"),
    )
    diff = F.col("_qs") - F.col("_ps")
    def _avg(s):
        return F.floor(
            s.cast("double") / F.lit(100.0 * w) * F.lit(1e4) + F.lit(0.5)
        ) / F.lit(1e4)
    return (
        scored.where(
            (F.col("_pn") == w)
            & (F.col("_qn") == w)
            & (F.abs(diff) >= F.lit(delta_c))
        )
        .select(
            "event_id",
            key,
            _avg(F.col("_ps")).alias("pre_avg"),
            _avg(F.col("_qs")).alias("post_avg"),
            diff.cast("long").alias("diff_c"),
        )
    )


def _level_shift_oracle(
    key: str = "event_type", w: int = 24, delta: float = 30.0
) -> str:
    delta_c = int(round(delta * 100)) * w
    return f"""
WITH c AS (
  SELECT event_id, {key}, ts,
         floor(value * 100 + 0.5)::BIGINT AS c
  FROM events),
s AS (
  SELECT event_id, {key},
         CAST(sum(c) OVER (win ROWS BETWEEN {w} PRECEDING AND 1 PRECEDING)
              AS BIGINT) AS ps,
         count(c) OVER (win ROWS BETWEEN {w} PRECEDING AND 1 PRECEDING) AS pn,
         CAST(sum(c) OVER (win ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING)
              AS BIGINT) AS qs,
         count(c) OVER (win ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS qn
  FROM c
  WINDOW win AS (PARTITION BY {key} ORDER BY ts, event_id))
SELECT event_id, {key},
       floor(CAST(ps AS DOUBLE) / {100.0 * w} * 10000 + 0.5) / 10000.0 AS pre_avg,
       floor(CAST(qs AS DOUBLE) / {100.0 * w} * 10000 + 0.5) / 10000.0 AS post_avg,
       qs - ps AS diff_c
FROM s
WHERE pn = {w} AND qn = {w} AND abs(qs - ps) >= {delta_c}
ORDER BY event_id"""


def linear_trend(
    events: DataFrame,
    ts: str = "ts",
    key: str = "event_type",
    value: str = "value",
) -> DataFrame:
    """Per-key linear trend (OLS fit of daily totals against the day
    index) — the TSDB "is this series growing and how fast" primitive:
    slope in value-units/day, intercept at the epoch-day origin of the
    key's own first day, and r² for fit quality.

    Closed form from exact sums: with x = day index (0-based per key)
    and y = daily cents totals, slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²);
    every Σ is an exact int64 (days are small ints, cents are exact),
    so both engines evaluate identical IEEE arithmetic on identical
    integers — the :func:`cross_correlation` discipline. Outputs are
    floor-quantized at 6 dp. r² is guarded for degenerate cases
    (single day, constant y) and those keys report NULL r².

    Plan: ONE map-combinable daily agg + ONE per-key agg of the five
    sums — no window sort, no join. Returns
    ``(key, n_days, slope, intercept, r2)``.
    """
    agg = _day_index(events, ts, key, value).groupBy(key).agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n_days")
    dx = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    dy = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    cov = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    slope_c = cov / dx  # cents per day
    intercept_c = (F.col("sy") - slope_c * F.col("sx")) / n.cast("double")

    def _r6(c):
        return F.floor(c * F.lit(1000000) + F.lit(0.5)) / F.lit(1000000.0)

    r2 = F.when((dx > 0) & (dy > 0), _r6(cov * cov / (dx * dy)))
    return agg.where(dx > 0).select(
        key,
        "n_days",
        _r6(slope_c / F.lit(100.0)).alias("slope"),
        _r6(intercept_c / F.lit(100.0)).alias("intercept"),
        r2.alias("r2"),
    ).orderBy(key)


ORACLE_LINEAR_TREND = """
WITH daily AS (
  SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
         event_type,
         CAST(sum(floor(value * 100 + 0.5)::BIGINT) AS BIGINT) AS y
  FROM events GROUP BY 1, 2),
staged AS (
  SELECT event_type,
         CAST(d - min(d) OVER (PARTITION BY event_type) AS BIGINT) AS x, y
  FROM daily),
agg AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM staged GROUP BY event_type)
SELECT event_type, n_days,
       floor(CAST(n_days * sxy - sx * sy AS DOUBLE)
             / CAST(n_days * sxx - sx * sx AS DOUBLE)
             / 100.0 * 1000000 + 0.5) / 1000000.0 AS slope,
       floor((sy - CAST(n_days * sxy - sx * sy AS DOUBLE)
                   / CAST(n_days * sxx - sx * sx AS DOUBLE) * sx)
             / CAST(n_days AS DOUBLE) / 100.0 * 1000000 + 0.5)
         / 1000000.0 AS intercept,
       CASE WHEN n_days * sxx - sx * sx > 0 AND n_days * syy - sy * sy > 0
            THEN floor(CAST(n_days * sxy - sx * sy AS DOUBLE)
                       * CAST(n_days * sxy - sx * sy AS DOUBLE)
                       / (CAST(n_days * sxx - sx * sx AS DOUBLE)
                          * CAST(n_days * syy - sy * sy AS DOUBLE))
                       * 1000000 + 0.5) / 1000000.0 END AS r2
FROM agg WHERE n_days * sxx - sx * sx > 0
ORDER BY event_type"""


def theil_sen(
    events: DataFrame,
    ts: str = "ts",
    key: str = "event_type",
    value: str = "value",
) -> DataFrame:
    """Per-key Theil–Sen robust trend over daily totals — the
    outlier-resistant companion of :func:`linear_trend`: slope is the
    MEDIAN of all pairwise slopes (y_j − y_i)/(x_j − x_i), so a few
    wild days cannot drag the fit (OLS has breakdown point 0, Theil–Sen
    ~29%); intercept is the median residual y − slope·x over the
    key's days.

    Determinism: every pairwise slope is ONE double division of exact
    int64 deltas (cents / days) — identical IEEE on both engines — and
    "median" is the LOWER median (the ⌈n/2⌉-th order statistic picked
    by a fully tie-broken ``row_number``), never the interpolated
    midpoint, so no (a+b)/2 vs a+(b−a)/2 ulp hazard exists. The slope
    is floor-quantized at 6 dp *before* the residual pass so both
    engines compute residuals from the same quantized coefficient.

    Scale: the pair join is per-key quadratic BY DESIGN (that is the
    estimator) but over the DAILY table — d days/key ⇒ d(d−1)/2
    metadata-scale pairs (a year is ~66k pairs), partitioned by key;
    events are touched once by the daily agg. For multi-year keys use
    the repeated-median or sampled-pairs variants (same frame, fewer
    pairs). Returns ``(key, n_days, n_pairs, slope, intercept)``.
    """
    staged = _day_index(events, ts, key, value)
    a = staged.select(key, F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = staged.select(key, F.col("x").alias("xb"), F.col("y").alias("yb"))
    slope_c = (F.col("yb") - F.col("ya")).cast("double") / (
        F.col("xb") - F.col("xa")
    ).cast("double")
    pairs = (
        a.join(b, key)
        .where(F.col("xa") < F.col("xb"))
        .select(key, slope_c.alias("_s"), "xa", "xb")
    )
    wk = Window.partitionBy(key)
    ranked = pairs.select(
        key,
        "_s",
        F.row_number().over(wk.orderBy("_s", "xa", "xb")).alias("_rn"),
        F.count(F.lit(1)).over(wk).alias("n_pairs"),
    )

    def _r6(c):
        return F.floor(c * F.lit(1000000) + F.lit(0.5)) / F.lit(1000000.0)

    med = ranked.where(
        F.col("_rn") == F.floor((F.col("n_pairs") + 1) / F.lit(2))
    ).select(key, "n_pairs", _r6(F.col("_s") / F.lit(100.0)).alias("slope"))
    resid = F.col("y") / F.lit(100.0) - F.col("slope") * F.col("x")
    res = staged.join(F.broadcast(med), key).select(
        key,
        "n_pairs",
        "slope",
        resid.alias("_r"),
        F.row_number().over(wk.orderBy(resid, "x")).alias("_rn"),
        F.count(F.lit(1)).over(wk).alias("n_days"),
    )
    return (
        res.where(F.col("_rn") == F.floor((F.col("n_days") + 1) / F.lit(2)))
        .select(key, "n_days", "n_pairs", "slope", _r6(F.col("_r")).alias("intercept"))
        .orderBy(key)
    )


ORACLE_THEIL_SEN = """
WITH daily AS (
  SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
         event_type,
         CAST(sum(floor(value * 100 + 0.5)::BIGINT) AS BIGINT) AS y
  FROM events GROUP BY 1, 2),
staged AS (
  SELECT event_type,
         CAST(d - min(d) OVER (PARTITION BY event_type) AS BIGINT) AS x, y
  FROM daily),
pairs AS (
  SELECT a.event_type,
         CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS s,
         a.x AS xa, b.x AS xb
  FROM staged a JOIN staged b USING (event_type)
  WHERE a.x < b.x),
ranked AS (
  SELECT event_type, s,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY s, xa, xb) AS rn,
         count(*) OVER (PARTITION BY event_type) AS np
  FROM pairs),
med AS (
  SELECT event_type, CAST(np AS BIGINT) AS n_pairs,
         floor(s / 100.0 * 1000000 + 0.5) / 1000000.0 AS slope
  FROM ranked WHERE rn = (np + 1) // 2),
res AS (
  SELECT st.event_type, med.n_pairs, med.slope,
         st.y / 100.0 - med.slope * st.x AS r,
         row_number() OVER (PARTITION BY st.event_type
                            ORDER BY st.y / 100.0 - med.slope * st.x,
                                     st.x) AS rn,
         count(*) OVER (PARTITION BY st.event_type) AS nd
  FROM staged st JOIN med USING (event_type))
SELECT event_type, CAST(nd AS BIGINT) AS n_days, n_pairs, slope,
       floor(r * 1000000 + 0.5) / 1000000.0 AS intercept
FROM res WHERE rn = (nd + 1) // 2
ORDER BY event_type"""


def cusum_alerts(
    events: DataFrame,
    ts: str = "ts",
    key: str = "event_type",
    value: str = "value",
    slack: float = 50.0,
    h: float = 200.0,
) -> DataFrame:
    """One-sided CUSUM changepoint alerts, computed EXACTLY with scan
    parallelism: the textbook recursion ``S_t = max(0, S_{t-1} + x_t -
    target - slack)`` looks per-row-stateful, but max-plus algebra
    flattens it — with ``P_t`` the prefix sum of the drifts,
    ``S_t = P_t - min(0, min_{j<=t} P_j)``, i.e. a running sum minus a
    running min, both ordinary window aggregates. (This also means the
    sequential-reset argument in :func:`level_shift`'s docstring
    applies only to detectors with data-dependent resets, not to CUSUM
    itself.)

    ``target`` is the per-key MEDIAN (robust; broadcast back like
    :func:`anomaly_mad`); drifts are integer HALF-cents (the median of
    ints is a multiple of 0.5, so 2x lifts everything to int64 —
    exact, order-free prefix math on both engines). A row is an alert
    when ``S_t >= h``; the reported statistic is the single exact
    int/int division ``S_hc / 200``.

    Plan: one tiny median agg broadcast back + ONE window sort per key
    carrying both running aggregates. Returns flagged
    ``(event_id, key, s)``.
    """
    slack_hc = int(round(slack * 200))
    h_hc = int(round(h * 200))
    base = events.select(
        "event_id", key, F.col(ts).alias("_ts"), _cents(value).alias("_c")
    )
    med = base.groupBy(key).agg(F.median("_c").alias("_med"))
    j = base.join(F.broadcast(med), key)
    d = (F.lit(2) * F.col("_c") - F.lit(2) * F.col("_med")).cast("long") - slack_hc
    w = (
        Window.partitionBy(key)
        .orderBy("_ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    p = F.sum(d).over(w)
    staged = j.select("event_id", key, "_ts", p.alias("_p"))
    mn = F.min("_p").over(
        Window.partitionBy(key)
        .orderBy("_ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    s_hc = F.col("_p") - F.least(F.lit(0).cast("long"), mn)
    return (
        staged.select("event_id", key, s_hc.alias("_s"))
        .where(F.col("_s") >= h_hc)
        .select(
            "event_id", key, (F.col("_s") / F.lit(200.0)).alias("s")
        )
    )


def _cusum_oracle(
    key: str = "event_type", slack: float = 50.0, h: float = 200.0
) -> str:
    slack_hc = int(round(slack * 200))
    h_hc = int(round(h * 200))
    return f"""
WITH c AS (
  SELECT event_id, {key}, ts, floor(value * 100 + 0.5) AS c FROM events),
m AS (SELECT {key}, median(c) AS med FROM c GROUP BY 1),
d AS (
  SELECT c.event_id, c.{key}, c.ts,
         CAST(2 * c.c - 2 * m.med AS BIGINT) - {slack_hc} AS d
  FROM c JOIN m USING ({key})),
p AS (
  SELECT event_id, {key},
         CAST(sum(d) OVER (PARTITION BY {key} ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS p,
         ts
  FROM d),
s AS (
  SELECT event_id, {key},
         p - least(CAST(0 AS BIGINT),
                   CAST(min(p) OVER (PARTITION BY {key} ORDER BY ts, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS BIGINT)) AS s_hc
  FROM p)
SELECT event_id, {key}, s_hc / 200.0 AS s
FROM s WHERE s_hc >= {h_hc}
ORDER BY event_id"""


def detrended_anomaly(
    events: DataFrame,
    ts: str = "ts",
    key: str = "event_type",
    value: str = "value",
    threshold: float = 2.0,
) -> DataFrame:
    """Trend-adjusted anomaly detection on daily totals: fit the exact
    per-key OLS trend (:func:`linear_trend`'s closed form), score each
    day's residual against the residual distribution, flag
    ``|z| >= threshold``. On a growing series a flat-baseline detector
    (:func:`anomaly_zscore`, :func:`anomaly_mad`) flags the whole
    recent half as "high"; detrending first asks the right question —
    "is this day off ITS OWN trend line".

    Determinism: the trend coefficients are the closed form over exact
    int64 sums (unrounded internally — identical IEEE on identical
    integers); each residual is ONE identical expression, immediately
    floor-quantized to integer deci-cents, so the residual moment sums
    are order-free int64 and the z compare happens on the 4-dp
    floor-quantized value (the :func:`anomaly_zscore` contract).

    Plan: daily agg → per-key five-sum agg (broadcast) → residual
    projection → per-key residual moments (broadcast) → flag. Two
    passes over the DAILY table (key-count-sized), one over events.
    Returns flagged ``(key, x, day_total, z)``.
    """
    staged = _day_index(events, ts, key, value)
    tr = staged.groupBy(key).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n = F.col("n")
    dx = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double") / dx
    intercept = (F.col("sy") - slope * F.col("sx")) / n.cast("double")
    j = staged.join(
        F.broadcast(
            tr.where(dx > 0).select(
                key, slope.alias("_b"), intercept.alias("_a")
            )
        ),
        key,
    )
    # residual in integer DECI-cents: one identical float expression,
    # quantized before any cross-row sum
    r = F.floor(
        (F.col("y").cast("double") - (F.col("_a") + F.col("_b") * F.col("x")))
        * F.lit(10)
        + F.lit(0.5)
    ).cast("long")
    rs = j.select(key, "x", "y", r.alias("_r"))
    mom = rs.groupBy(key).agg(
        F.count(F.lit(1)).alias("_m"),
        F.avg("_r").alias("_mean"),
        F.stddev_samp("_r").alias("_sd"),
    )
    scored = rs.join(F.broadcast(mom), key)
    z = F.floor(
        (F.col("_r") - F.col("_mean")) / F.col("_sd") * F.lit(1e4) + F.lit(0.5)
    ) / F.lit(1e4)
    return (
        scored.where(F.col("_sd") > 0)
        .select(
            key,
            "x",
            (F.col("y") / F.lit(100.0)).alias("day_total"),
            z.alias("z"),
        )
        .where(F.abs(F.col("z")) >= threshold)
        .orderBy(key, "x")
    )


def _detrended_oracle(key: str = "event_type", threshold: float = 2.0) -> str:
    return f"""
WITH daily AS (
  SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
         {key},
         CAST(sum(floor(value * 100 + 0.5)::BIGINT) AS BIGINT) AS y
  FROM events GROUP BY 1, 2),
staged AS (
  SELECT {key}, CAST(d - min(d) OVER (PARTITION BY {key}) AS BIGINT) AS x, y
  FROM daily),
tr AS (
  SELECT {key}, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM staged GROUP BY {key}),
co AS (
  SELECT {key},
         CAST(n * sxy - sx * sy AS DOUBLE)
           / CAST(n * sxx - sx * sx AS DOUBLE) AS b,
         (sy - CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) * sx)
           / CAST(n AS DOUBLE) AS a
  FROM tr WHERE n * sxx - sx * sx > 0),
rs AS (
  SELECT s.{key}, s.x, s.y,
         CAST(floor((CAST(s.y AS DOUBLE) - (co.a + co.b * s.x)) * 10 + 0.5)
              AS BIGINT) AS r
  FROM staged s JOIN co USING ({key})),
mom AS (
  SELECT {key}, avg(r) AS mean_r, stddev_samp(r) AS sd_r
  FROM rs GROUP BY {key})
SELECT rs.{key}, rs.x, rs.y / 100.0 AS day_total,
       floor((rs.r - mom.mean_r) / mom.sd_r * 10000 + 0.5) / 10000.0 AS z
FROM rs JOIN mom USING ({key})
WHERE mom.sd_r > 0
  AND abs(floor((rs.r - mom.mean_r) / mom.sd_r * 10000 + 0.5) / 10000.0)
        >= {threshold}
ORDER BY rs.{key}, rs.x"""


def _per_key_fit(
    series: DataFrame, fit, schema: str, min_len: int = 0
) -> DataFrame:
    """Strategy P: ``fit(key, ts, ys)`` runs once per key of a
    :func:`_bucket_cents` series in an Arrow-batched ``applyInPandas``
    kernel, over the t-ordered buckets ``ts`` and their cents ``ys``
    (Python ints), and returns the key's output rows. Keys with fewer
    than ``min_len`` buckets return none. The aggregation stays
    JVM-side; the kernel sees bucket-count-sized series."""
    import pandas as pd

    cols = [c.split()[0] for c in schema.split(",")]

    def run(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("t")
        ys = [int(v) for v in pdf["y"]]
        if len(ys) < min_len:
            return pd.DataFrame(columns=cols)
        rows = fit(pdf["key"].iloc[0], list(pdf["t"]), ys)
        return pd.DataFrame(rows, columns=cols)

    return series.groupBy("key").applyInPandas(run, schema)


def _holt(ys: list[int], a: int, b: int):
    """Holt's integer recursion from ``l₀ = y₀, b₀ = y₁ − y₀`` (weights
    ``a/10``, ``b/10``, floor division): yields ``(fc, l_t, b_t)`` for
    each step t ≥ 1, where ``fc = l_{t−1} + b_{t−1}`` is the forecast
    held before seeing y_t."""
    lvl, trd = ys[0], ys[1] - ys[0]
    for y in ys[1:]:
        fc = lvl + trd
        lt = (a * y + (10 - a) * (lvl + trd)) // 10
        trd = (b * (lt - lvl) + (10 - b) * trd) // 10
        lvl = lt
        yield fc, lvl, trd


def _fdiv(x: str, k: int) -> str:
    """DuckDB floor division of ``x`` by ``k > 0``: subtracting the
    nonnegative pmod first makes the truncating ``//`` exact, matching
    Python's ``//`` on negative numerators."""
    return f"(({x}) - ((({x}) % {k} + {k}) % {k})) // {k}"


def _holt_sql(
    alpha10: int, beta10: int, tail: str, h: int | None = None, min_n: int = 0
) -> str:
    """Oracle text for :func:`_holt`: the ``daily`` series and the
    ``hw(key, t, l, b)`` recursive CTE replaying the recursion,
    followed by ``tail``. With a holdout ``h`` the recursion runs over
    ``train``: keys with at least ``min_n`` days, minus their last
    ``h``."""
    a, b = int(alpha10), int(beta10)
    src = "daily" if h is None else "train"
    l_expr = _fdiv(f"{a}*d.y + {10 - a}*(hw.l + hw.b)", 10)
    b_expr = _fdiv(f"{b}*(s.lt - s.l) + {10 - b}*s.b", 10)
    holdout = "" if h is None else f"""
nn AS (SELECT key, count(*) AS n FROM daily GROUP BY key
       HAVING count(*) >= {min_n}),
train AS (SELECT d.key, d.t, d.y FROM daily d JOIN nn ON nn.key = d.key
          WHERE d.t <= nn.n - {h} - 1),"""
    return f"""
WITH RECURSIVE daily AS (
  SELECT key, CAST(row_number() OVER (PARTITION BY key ORDER BY day) - 1
              AS BIGINT) AS t, y
  FROM (SELECT event_type AS key, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
        FROM events GROUP BY 1, 2)),{holdout}
hw(key, t, l, b) AS (
  SELECT d0.key, CAST(0 AS BIGINT) AS t, d0.y AS l, d1.y - d0.y AS b
  FROM {src} d0 JOIN {src} d1 ON d1.key = d0.key AND d1.t = 1
  WHERE d0.t = 0
  UNION ALL
  SELECT s.key, s.t, s.lt AS l, CAST({b_expr} AS BIGINT) AS b FROM (
    SELECT hw.key AS key, d.t AS t, hw.l AS l, hw.b AS b,
           CAST({l_expr} AS BIGINT) AS lt
    FROM hw JOIN {src} d ON d.key = hw.key AND d.t = hw.t + 1) s){tail}"""


def holt_linear(events: DataFrame, alpha10: int = 3, beta10: int = 2) -> DataFrame:
    """Holt's linear (double exponential) smoothing per key — the
    level+trend forecaster. Unlike EWMA (a linear recurrence this repo
    flattens to a closed-form window), Holt's coupled level/trend
    recursion with per-step integer quantization has no scan-parallel
    closed form, so this is the canonical **strategy P** shape: the
    per-key daily series is small (days, not events), the sequential
    fit runs in an Arrow-batched ``applyInPandas`` kernel, and the
    heavy work (the daily aggregation) stays JVM-side.

    All arithmetic is integer cents with FLOOR division (Python
    ``//``), smoothing weights ``alpha10/10`` and ``beta10/10``:

        l_t = (alpha10·y_t + (10−alpha10)·(l+b)) // 10
        b_t = (beta10·(l_t − l) + (10−beta10)·b) // 10

    init l₀=y₀, b₀=y₁−y₀ (keys need ≥ 2 days). Integer state makes
    the fit bit-identical to the oracle's recursive-CTE replay — the
    floor-division idiom is pinned on both sides because DuckDB's
    ``//`` truncates toward zero while Python floors.

    Returns ``(key, n_days, level_cents, trend_cents,
    forecast3_cents)`` with forecast3 = level + 3·trend.
    """
    a, b = int(alpha10), int(beta10)

    def fit(key, _ts, ys):
        *_, (_, lvl, trd) = _holt(ys, a, b)
        return [[key, len(ys), lvl, trd, lvl + 3 * trd]]

    schema = ("key string, n_days long, level_cents long, trend_cents long, "
              "forecast3_cents long")
    return _per_key_fit(
        _bucket_cents(events, F.to_date("ts")), fit, schema, min_len=2
    ).orderBy("key")


def _holt_oracle(alpha10: int = 3, beta10: int = 2) -> str:
    return _holt_sql(alpha10, beta10, """,
last AS (SELECT key, max(t) AS tmax FROM daily GROUP BY key
         HAVING max(t) >= 1)
SELECT hw.key AS key, CAST(la.tmax + 1 AS BIGINT) AS n_days,
       CAST(hw.l AS BIGINT) AS level_cents,
       CAST(hw.b AS BIGINT) AS trend_cents,
       CAST(hw.l + 3 * hw.b AS BIGINT) AS forecast3_cents
FROM hw JOIN last la ON la.key = hw.key AND hw.t = la.tmax
ORDER BY key""")


def holt_residuals(
    events: DataFrame, alpha10: int = 3, beta10: int = 2
) -> DataFrame:
    """One-step-ahead residual diagnostics for :func:`holt_linear`:
    for every day t >= 1, the forecast the model held BEFORE seeing
    y_t (``fc_t = l_{t-1} + b_{t-1}``) and the error ``y_t − fc_t`` —
    the per-step trace a forecaster's health check reads (bias drift,
    variance bursts), where :func:`forecast_backtest` only scores a
    single holdout. Same strategy-P Arrow kernel and integer-cents
    recursion as the fitter; the oracle simply re-joins the recursive
    CTE's state at t−1 onto the observation at t. (t = 1 is always a
    zero residual: the init sets b₀ = y₁ − y₀.)

    Returns ``(key, t, y_cents, fc_cents, resid_cents)`` ordered by
    (key, t); keys need >= 2 days.
    """
    a, b = int(alpha10), int(beta10)

    def fit(key, _ts, ys):
        steps = zip(ys[1:], _holt(ys, a, b))
        return [
            [key, t, y, fc, y - fc] for t, (y, (fc, _, _)) in enumerate(steps, 1)
        ]

    schema = "key string, t long, y_cents long, fc_cents long, resid_cents long"
    return _per_key_fit(
        _bucket_cents(events, F.to_date("ts")), fit, schema, min_len=2
    ).orderBy("key", "t")


def _holt_residuals_oracle(alpha10: int = 3, beta10: int = 2) -> str:
    return _holt_sql(alpha10, beta10, """
SELECT hw.key AS key, d.t AS t, d.y AS y_cents,
       CAST(hw.l + hw.b AS BIGINT) AS fc_cents,
       CAST(d.y - (hw.l + hw.b) AS BIGINT) AS resid_cents
FROM hw JOIN daily d ON d.key = hw.key AND d.t = hw.t + 1
ORDER BY key, t""")


ORACLE_HOLT_RESIDUALS = _holt_residuals_oracle()


HW_PERIOD = 24


def holt_winters(
    events: DataFrame,
    alpha10: int = 3,
    beta10: int = 2,
    gamma10: int = 2,
    period: int = HW_PERIOD,
) -> DataFrame:
    """Additive Holt-Winters (triple exponential) smoothing per key
    over the hourly series — :func:`holt_linear` plus a seasonal
    component with period ``period`` observed buckets. Same
    **strategy P** shape: hourly aggregation stays JVM-side, the
    sequential fit (which has no scan-parallel closed form) runs in an
    Arrow-batched ``applyInPandas`` kernel over the per-key
    bucket-count-sized series.

    Integer-cents recursion, weights ``*/10``, Python floor division
    (the oracle uses the pmod-subtract idiom so DuckDB's truncating
    ``//`` matches):

        l_t = (α(y_t − s_{t−m}) + (10−α)(l+b)) // 10
        b_t = (β(l_t − l) + (10−β)b) // 10
        s_t = (γ(y_t − l − b) + (10−γ)s_{t−m}) // 10   [l, b pre-update]

    init: l₀ = Σ₁ⁿᵐ y // m, b₀ = (Σ₂ⁿᵈᵐ − Σ₁ˢᵗᵐ) // m², s_j = y_j − l₀
    for the first season; keys need ≥ 2·period observed buckets. The
    index is over OBSERVED buckets (gaps collapse — same contract as
    holt_linear's day index). The DuckDB oracle replays the identical
    recursion as a recursive CTE whose state row carries the
    period-length seasonal list, updating one slot per step.

    Returns ``(key, n_hours, level_cents, trend_cents, fc1_cents)``
    where fc1 = l + b + s[next phase].
    """
    hour = F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000")
    a, b10, g, m = int(alpha10), int(beta10), int(gamma10), int(period)

    def fit(key, _ts, ys):
        s1, s2 = sum(ys[:m]), sum(ys[m : 2 * m])
        lvl = s1 // m
        trd = (s2 - s1) // (m * m)
        sl = [y - lvl for y in ys[:m]]
        for t in range(m, len(ys)):
            p = t % m
            sm = sl[p]
            lt = (a * (ys[t] - sm) + (10 - a) * (lvl + trd)) // 10
            bt = (b10 * (lt - lvl) + (10 - b10) * trd) // 10
            st = (g * (ys[t] - lvl - trd) + (10 - g) * sm) // 10
            lvl, trd = lt, bt
            sl[p] = st
        return [[key, len(ys), lvl, trd, lvl + trd + sl[len(ys) % m]]]

    schema = ("key string, n_hours long, level_cents long, trend_cents long, "
              "fc1_cents long")
    return _per_key_fit(
        _bucket_cents(events, hour), fit, schema, min_len=2 * m
    ).orderBy("key")


def _holt_winters_oracle(
    alpha10: int = 3, beta10: int = 2, gamma10: int = 2, period: int = HW_PERIOD
) -> str:
    a, b, g, m = int(alpha10), int(beta10), int(gamma10), int(period)
    l_expr = _fdiv(f"{a}*(s.y - s.sm) + {10 - a}*(s.l + s.b)", 10)
    b_expr = _fdiv(f"{b}*(s2.lt - s2.l) + {10 - b}*s2.b", 10)
    s_expr = _fdiv(f"{g}*(s2.y - s2.l - s2.b) + {10 - g}*s2.sm", 10)
    return f"""
WITH RECURSIVE hourly AS (
  SELECT key, CAST(row_number() OVER (PARTITION BY key ORDER BY h) - 1
              AS BIGINT) AS t, y
  FROM (SELECT event_type AS key, epoch_us(ts) // 3600000000 AS h,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
        FROM events GROUP BY 1, 2)),
agg AS (
  SELECT key, list(y ORDER BY t) AS yl, CAST(count(*) AS BIGINT) AS n
  FROM hourly GROUP BY key HAVING count(*) >= {2 * m}),
init AS (
  SELECT key,
         CAST({m - 1} AS BIGINT) AS t,
         CAST({_fdiv("list_reduce(list_prepend(CAST(0 AS BIGINT), yl[1:" + str(m) + "]), (acc, x) -> acc + x)", m)} AS BIGINT) AS l0,
         CAST({_fdiv("list_reduce(list_prepend(CAST(0 AS BIGINT), yl[" + str(m + 1) + ":" + str(2 * m) + "]), (acc, x) -> acc + x) - list_reduce(list_prepend(CAST(0 AS BIGINT), yl[1:" + str(m) + "]), (acc, x) -> acc + x)", m * m)} AS BIGINT) AS b0,
         yl
  FROM agg),
hw(key, t, l, b, sl) AS (
  SELECT key, t, l0 AS l, b0 AS b,
         list_transform(range(1, {m + 1}), i -> yl[i] - l0) AS sl
  FROM init
  UNION ALL
  SELECT s2.key, s2.t, s2.lt AS l, CAST({b_expr} AS BIGINT) AS b,
         list_transform(range(1, {m + 1}),
             i -> CASE WHEN i = s2.p + 1
                       THEN CAST({s_expr} AS BIGINT)
                       ELSE s2.sl[CAST(i AS INTEGER)] END) AS sl
  FROM (
    SELECT s.*, CAST({l_expr} AS BIGINT) AS lt FROM (
      SELECT hw.key AS key, d.t AS t, d.y AS y, hw.l AS l, hw.b AS b,
             hw.sl AS sl, CAST(d.t % {m} AS INTEGER) AS p,
             hw.sl[CAST(d.t % {m} AS INTEGER) + 1] AS sm
      FROM hw JOIN hourly d ON d.key = hw.key AND d.t = hw.t + 1) s) s2),
last AS (SELECT key, n FROM agg)
SELECT hw.key AS key, la.n AS n_hours,
       CAST(hw.l AS BIGINT) AS level_cents,
       CAST(hw.b AS BIGINT) AS trend_cents,
       CAST(hw.l + hw.b + hw.sl[CAST(la.n % {m} AS INTEGER) + 1] AS BIGINT)
         AS fc1_cents
FROM hw JOIN last la ON la.key = hw.key AND hw.t = la.n - 1
ORDER BY key"""


ORACLE_HOLT_WINTERS = _holt_winters_oracle()


BACKTEST_HORIZON = 7


def forecast_backtest(
    events: DataFrame,
    horizon: int = BACKTEST_HORIZON,
    alpha10: int = 3,
    beta10: int = 2,
) -> DataFrame:
    """Holdout backtest of the Holt linear forecaster: per key, fit
    :func:`holt_linear`'s integer recursion on all but the last
    ``horizon`` days, forecast ``level + i·trend`` for the held-out
    days, and report the absolute-error profile — the eval loop that
    decides whether a forecaster is deployable, run as one job over
    every key.

    Same strategy-P shape and integer-cents exactness contract as the
    fitter (keys need ≥ ``horizon + 2`` days; smaller keys are
    dropped). Returns ``(key, n_train, n_test, sum_abs_err_cents,
    mae_cents)`` with ``mae = sum DIV n_test`` (int64 floor).
    """
    a, b, h = int(alpha10), int(beta10), int(horizon)

    def fit(key, _ts, ys):
        n = len(ys)
        *_, (_, lvl, trd) = _holt(ys[: n - h], a, b)
        sae = sum(abs(lvl + (i + 1) * trd - ys[n - h + i]) for i in range(h))
        return [[key, n - h, h, sae, sae // h]]

    schema = ("key string, n_train long, n_test long, "
              "sum_abs_err_cents long, mae_cents long")
    return _per_key_fit(
        _bucket_cents(events, F.to_date("ts")), fit, schema, min_len=h + 2
    ).orderBy("key")


def _backtest_oracle(
    horizon: int = BACKTEST_HORIZON, alpha10: int = 3, beta10: int = 2
) -> str:
    h = int(horizon)
    return _holt_sql(alpha10, beta10, f""",
fitted AS (
  SELECT hw.key, hw.l, hw.b
  FROM hw JOIN nn ON nn.key = hw.key
  WHERE hw.t = nn.n - {h} - 1),
err AS (
  SELECT f.key, abs(f.l + (d.t - (nn.n - {h} - 1)) * f.b - d.y) AS ae
  FROM fitted f
  JOIN nn ON nn.key = f.key
  JOIN daily d ON d.key = f.key AND d.t >= nn.n - {h})
SELECT e.key, CAST(nn.n - {h} AS BIGINT) AS n_train,
       CAST({h} AS BIGINT) AS n_test,
       CAST(sum(e.ae) AS BIGINT) AS sum_abs_err_cents,
       CAST(sum(e.ae) // {h} AS BIGINT) AS mae_cents
FROM err e JOIN nn ON nn.key = e.key
GROUP BY e.key, nn.n ORDER BY e.key""", h, h + 2)


PERIOD_MAX_LAG = 10


def dominant_period(events: DataFrame, max_lag: int = PERIOD_MAX_LAG) -> DataFrame:
    """Dominant period per key: the lag in 1..max_lag with the highest
    daily-series autocorrelation — the detector that tells a
    forecaster (e.g. :func:`forecast_model_select`'s seasonal-naive
    branch) WHICH season to use instead of assuming weekly.

    Exactness: per-(key, lag) Pearson moments are exact int64 sums of
    integer cents over day equi-joins (epoch-day keys, the
    cross_correlation shape — never an interval NLJ); only the closed
    form is float, one identical IEEE expression floor-quantized at 6
    dp; the argmax breaks ties by smaller lag. Keys need > max_lag
    observed days; degenerate (zero-variance) lags are skipped by the
    positivity guard.

    Plan: ONE map-combinable daily agg → lag-spine broadcast + day
    equi-join → per-(key, lag) moment agg (|keys|·max_lag rows) →
    an output-sized argmax window. Returns ``(key, best_lag, acf)``.
    """
    scored = acf_profile(events, max_lag)
    w = Window.partitionBy("key").orderBy(F.desc("acf"), F.asc("lag"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("key", F.col("lag").alias("best_lag"), "acf")
        .orderBy("key")
    )


def acf_profile(events: DataFrame, max_lag: int = PERIOD_MAX_LAG) -> DataFrame:
    """Per-key autocorrelation profile at lags 1..max_lag over the
    daily series — the full correlogram :func:`dominant_period` takes
    its argmax from, exposed as its own table because the SHAPE is the
    diagnostic (slow decay = trend, comb = seasonality, flat = noise).
    Same exactness contract: exact int64 Pearson moments per
    (key, lag), one IEEE closed form floor-quantized at 6 dp;
    zero-variance lags are dropped by the positivity guard.

    Returns ``(key, lag, n_pairs, acf)`` ordered by (key, lag).
    """
    daily = _bucket_cents(
        events, F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000")
    )
    lags = events.sparkSession.range(1, max_lag + 1).select(F.col("id").alias("lag"))
    a = daily.select("key", "t", F.col("y").alias("x"))
    b = daily.select(F.col("key").alias("kb"), F.col("t").alias("tb"), "y")
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, (a.key == b.kb) & (b.tb == a.t + F.col("lag")))
    )
    m = pairs.groupBy("key", "lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    r = F.floor(
        num / F.sqrt(vx.cast("double") * vy.cast("double")) * F.lit(1000000)
        + F.lit(0.5)
    ) / F.lit(1000000.0)
    return (
        m.where((vx > 0) & (vy > 0))
        .select(
            "key",
            F.col("lag").cast("long").alias("lag"),
            F.col("n").cast("long").alias("n_pairs"),
            r.alias("acf"),
        )
        .orderBy("key", "lag")
    )


_ACF_SCORED_SQL = f"""
WITH daily AS (
  SELECT event_type AS key, epoch_us(ts) // 86400000000 AS t,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS c
  FROM events GROUP BY 1, 2),
lags AS (SELECT unnest(range(1, {PERIOD_MAX_LAG + 1})) AS lag),
m AS (
  SELECT a.key, l.lag,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(a.c) AS BIGINT) AS sx,
         CAST(sum(b.c) AS BIGINT) AS sy,
         CAST(sum(a.c * b.c) AS BIGINT) AS sxy,
         CAST(sum(a.c * a.c) AS BIGINT) AS sxx,
         CAST(sum(b.c * b.c) AS BIGINT) AS syy
  FROM daily a CROSS JOIN lags l
  JOIN daily b ON b.key = a.key AND b.t = a.t + l.lag
  GROUP BY a.key, l.lag),
scored AS (
  SELECT key, CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_pairs,
         floor((n * sxy - sx * sy)
               / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                      * CAST(n * syy - sy * sy AS DOUBLE))
               * 1000000 + 0.5) / 1000000.0 AS acf
  FROM m
  WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0)"""

ORACLE_ACF_PROFILE = (
    _ACF_SCORED_SQL
    + "\nSELECT key, lag, n_pairs, acf FROM scored ORDER BY key, lag"
)

ORACLE_DOMINANT_PERIOD = (
    _ACF_SCORED_SQL
    + """
SELECT key, lag AS best_lag, acf FROM (
  SELECT key, lag, acf,
         row_number() OVER (PARTITION BY key
             ORDER BY acf DESC, lag ASC) AS rn
  FROM scored)
WHERE rn = 1 ORDER BY key"""
)


def forecast_model_select(
    events: DataFrame,
    horizon: int = BACKTEST_HORIZON,
    alpha10: int = 3,
    beta10: int = 2,
) -> DataFrame:
    """Forecaster model selection as dataflow: per key, the holdout
    MAE of three candidate forecasters — last-value naive, seasonal
    naive (weekly, ŷ_t = y_{t−7}), and the Holt linear fit — plus the
    deterministic winner (min MAE; ties resolved by the fixed CASE
    order holt < naive < snaive, which is also alphabetical). The
    backtest loop that picks WHICH forecaster serves each series,
    where :func:`forecast_backtest` scores only one.

    Same strategy-P Arrow-kernel shape and integer-cents exactness as
    the other sequential fits; keys need ≥ horizon + 7 observed days
    (the seasonal naive must reach 7 back from every test day).

    Returns ``(key, n_train, mae_naive, mae_snaive, mae_holt,
    winner)`` — MAEs in cents, ``sum|err| DIV horizon``.
    """
    a, b, h = int(alpha10), int(beta10), int(horizon)

    def fit(key, _ts, ys):
        train, test = ys[:-h], ys[-h:]
        n_tr = len(train)
        *_, (_, lvl, trd) = _holt(train, a, b)
        mae_h = sum(
            abs(test[i] - (lvl + (i + 1) * trd)) for i in range(h)
        ) // h
        mae_n = sum(abs(test[i] - train[-1]) for i in range(h)) // h
        mae_s = sum(
            abs(ys[n_tr + i] - ys[n_tr + i - 7]) for i in range(h)
        ) // h
        if mae_h <= mae_n and mae_h <= mae_s:
            win = "holt"
        elif mae_n <= mae_s:
            win = "naive"
        else:
            win = "snaive"
        return [[key, n_tr, mae_n, mae_s, mae_h, win]]

    schema = ("key string, n_train long, mae_naive long, mae_snaive long,"
              " mae_holt long, winner string")
    return _per_key_fit(
        _bucket_cents(events, F.to_date("ts")), fit, schema, min_len=h + 7
    ).orderBy("key")


def _model_select_oracle(
    horizon: int = BACKTEST_HORIZON, alpha10: int = 3, beta10: int = 2
) -> str:
    h = int(horizon)
    return _holt_sql(alpha10, beta10, f""",
fitted AS (
  SELECT hw.key, hw.l, hw.b
  FROM hw JOIN nn ON nn.key = hw.key
  WHERE hw.t = nn.n - {h} - 1),
lastv AS (
  SELECT tr.key, tr.y AS yl FROM train tr JOIN nn ON nn.key = tr.key
  WHERE tr.t = nn.n - {h} - 1),
err AS (
  SELECT d.key,
         abs(d.y - lv.yl) AS ae_n,
         abs(d.y - d7.y) AS ae_s,
         abs(d.y - (f.l + (d.t - (nn.n - {h} - 1)) * f.b)) AS ae_h
  FROM daily d
  JOIN nn ON nn.key = d.key AND d.t >= nn.n - {h}
  JOIN lastv lv ON lv.key = d.key
  JOIN fitted f ON f.key = d.key
  JOIN daily d7 ON d7.key = d.key AND d7.t = d.t - 7),
mae AS (
  SELECT key,
         CAST(sum(ae_n) // {h} AS BIGINT) AS mae_naive,
         CAST(sum(ae_s) // {h} AS BIGINT) AS mae_snaive,
         CAST(sum(ae_h) // {h} AS BIGINT) AS mae_holt
  FROM err GROUP BY key)
SELECT m.key, CAST(nn.n - {h} AS BIGINT) AS n_train,
       m.mae_naive, m.mae_snaive, m.mae_holt,
       CASE WHEN m.mae_holt <= m.mae_naive AND m.mae_holt <= m.mae_snaive
            THEN 'holt'
            WHEN m.mae_naive <= m.mae_snaive THEN 'naive'
            ELSE 'snaive' END AS winner
FROM mae m JOIN nn ON nn.key = m.key
ORDER BY m.key""", h, h + 7)


ORACLE_MODEL_SELECT = _model_select_oracle()


LTTB_K = 10


def downsample_lttb(events: DataFrame, k: int = LTTB_K) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling per key — the
    perceptual plot-downsampler (M4's sibling: M4 preserves min/max
    envelopes, LTTB preserves visual shape). Like :func:`holt_linear`
    the selection is sequential (each bucket's pick depends on the
    previous pick), so it runs as a strategy-P Arrow kernel over the
    day-sized per-key series while the daily aggregation stays
    JVM-side.

    Exactness: x = day index, y = integer cents; triangle areas are
    compared via the cross-product form scaled by the next bucket's
    point count (``|(px−ax)(sy−ay·n) − (py−ay)(sx−ax·n)|``) so no
    division ever happens — pure int64, ties broken toward the
    earlier point. First/last points are always kept; series with
    ≤ k points pass through unchanged; the final interior bucket uses
    the last point as its forward anchor (standard LTTB).

    Returns ``(key, day, y_cents)`` of the selected points.
    """
    kk = int(k)

    def pick(key, days, ys):
        n = len(ys)
        if n <= kk:
            return [[key, d, y] for d, y in zip(days, ys)]
        buckets: list[list[int]] = [[] for _ in range(kk - 2)]
        for t in range(1, n - 1):
            buckets[(t - 1) * (kk - 2) // (n - 2)].append(t)
        sel = [0]
        ax, ay = 0, ys[0]
        for b in range(kk - 2):
            if b < kk - 3:
                nxt = buckets[b + 1]
                sx = sum(nxt)
                sy = sum(ys[t] for t in nxt)
                cnt = len(nxt)
            else:
                sx, sy, cnt = n - 1, ys[n - 1], 1
            best_t, best_a = -1, -1
            for t in buckets[b]:
                a2 = abs(
                    (t - ax) * (sy - ay * cnt) - (ys[t] - ay) * (sx - ax * cnt)
                )
                if a2 > best_a:
                    best_t, best_a = t, a2
            sel.append(best_t)
            ax, ay = best_t, ys[best_t]
        sel.append(n - 1)
        return [[key, days[t], ys[t]] for t in sel]

    schema = "key string, day date, y_cents long"
    return _per_key_fit(
        _bucket_cents(events, F.to_date("ts")), pick, schema
    ).orderBy("key", "day")


def _lttb_oracle(k: int = LTTB_K) -> str:
    kk = int(k)

    def a2(px: str, py: str) -> str:
        # area×2×cnt vs anchor s=(s.x, s.y) and forward point C sums
        return (
            f"abs(({px} - s.x) * (c.sy - s.y * c.cnt)"
            f" - ({py} - s.y) * (c.sx - s.x * c.cnt))"
        )

    return f"""
WITH RECURSIVE daily AS (
  SELECT key, CAST(row_number() OVER (PARTITION BY key ORDER BY day) - 1
              AS BIGINT) AS t, day, y
  FROM (SELECT event_type AS key, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
        FROM events GROUP BY 1, 2)),
nn AS (SELECT key, count(*) AS n FROM daily GROUP BY key),
interior AS (
  SELECT d.key, d.t, d.day, d.y,
         (d.t - 1) * {kk - 2} // (nn.n - 2) AS b
  FROM daily d JOIN nn ON nn.key = d.key
  WHERE d.t >= 1 AND d.t <= nn.n - 2 AND nn.n > {kk}),
avgs AS (
  SELECT key, b, CAST(sum(t) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(count(*) AS BIGINT) AS cnt
  FROM interior GROUP BY key, b),
lastp AS (
  SELECT d.key, d.t AS sx, d.y AS sy, CAST(1 AS BIGINT) AS cnt
  FROM daily d JOIN nn ON nn.key = d.key
  WHERE d.t = nn.n - 1 AND nn.n > {kk}),
canchor AS (
  SELECT key, b - 1 AS b, sx, sy, cnt FROM avgs WHERE b >= 1
  UNION ALL
  SELECT key, CAST({kk - 3} AS BIGINT) AS b, sx, sy, cnt FROM lastp),
sel(key, b, t, x, y) AS (
  SELECT d.key, CAST(-1 AS BIGINT) AS b, d.t, d.t AS x, d.y
  FROM daily d JOIN nn ON nn.key = d.key WHERE d.t = 0 AND nn.n > {kk}
  UNION ALL
  SELECT p.key, p.b, p.t, p.t AS x, p.y
  FROM sel s
  JOIN interior p ON p.key = s.key AND p.b = s.b + 1
  JOIN canchor c ON c.key = p.key AND c.b = p.b
  WHERE NOT EXISTS (
    SELECT 1 FROM interior q
    WHERE q.key = p.key AND q.b = p.b
      AND ({a2('q.t', 'q.y')} > {a2('p.t', 'p.y')}
           OR ({a2('q.t', 'q.y')} = {a2('p.t', 'p.y')} AND q.t < p.t))))
SELECT key, day, y_cents FROM (
  SELECT d.key, d.day, d.y AS y_cents
  FROM daily d JOIN nn ON nn.key = d.key WHERE nn.n <= {kk}
  UNION ALL
  SELECT s.key, d.day, s.y AS y_cents
  FROM sel s JOIN daily d ON d.key = s.key AND d.t = s.t
  UNION ALL
  SELECT d.key, d.day, d.y AS y_cents
  FROM daily d JOIN nn ON nn.key = d.key
  WHERE d.t = nn.n - 1 AND nn.n > {kk}
) u ORDER BY key, day"""


ANOMALY_CONSENSUS_VOTES = 2


def anomaly_consensus(events: DataFrame) -> DataFrame:
    """Ensemble anomaly detection: an event counts as anomalous when
    >= 2 of the three registered detectors flag it — the trailing
    z-score (:func:`anomaly_zscore`), the robust MAD rule
    (:func:`anomaly_mad`), and the hour-of-day seasonal baseline
    (:func:`seasonal_anomaly`). Each detector has a blind spot (the
    z-score chases trends, MAD ignores seasonality, the seasonal rule
    misses within-slot bursts); the vote keeps only events two
    independent lenses agree on — the same ensemble rule as the dedup
    consensus, applied to monitoring.

    Pure composition of already-oracle-checked detectors: three
    branches over the same scan, one vote groupBy. Returns
    ``(event_id, event_type, n_methods)`` ordered by event_id.
    """
    z = anomaly_zscore(events).select("event_id", "event_type")
    m = anomaly_mad(events).select("event_id", "event_type")
    s = seasonal_anomaly(events).select("event_id", "event_type")
    return (
        z.unionByName(m)
        .unionByName(s)
        .groupBy("event_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n_methods"))
        .where(F.col("n_methods") >= ANOMALY_CONSENSUS_VOTES)
        .orderBy("event_id")
    )


def _anomaly_consensus_oracle() -> str:
    return f"""
WITH votes AS (
  SELECT event_id, event_type FROM ({_anomaly_oracle()}) z
  UNION ALL SELECT event_id, event_type FROM ({_mad_oracle()}) m
  UNION ALL SELECT event_id, event_type FROM ({_seasonal_oracle()}) s)
SELECT event_id, event_type, CAST(count(*) AS BIGINT) AS n_methods
FROM votes GROUP BY event_id, event_type
HAVING count(*) >= {ANOMALY_CONSENSUS_VOTES}
ORDER BY event_id"""


def seasonal_strength(events: DataFrame) -> DataFrame:
    """Strength of the hour-of-day seasonality per key, as the ANOVA
    variance-explained ratio (eta²): ``SS_between(hour) / SS_total``
    over integer-cent values — 0 = no daily pattern, →1 = value
    determined by hour alone. The quantitative companion to
    :func:`seasonal_anomaly` (which flags rows against the hourly
    baseline but never says how seasonal the key IS), and the
    diagnostic that decides whether a forecast needs a seasonal term
    at all.

    Exactness: per-(key, hour) count/sum/sum-of-squares are exact
    int64 moments of cent-quantized values; the between-group term
    uses per-hour ``(S_h²) DIV n_h`` — integer floor-division (one
    deterministic unit of slack per hour, identical on both engines)
    so the 24-term sum never becomes an order-dependent float sum.
    Only the final ratio is float: one identical IEEE division of
    exactly-summed int64s, floor-quantized at 6 dp. ``peak_hour`` is
    the deterministic argmax of the integer hourly mean (mills, hod
    tiebreak). Int64 headroom: ``n·Σcents²`` — fine to ~10⁶ rows/key
    at cents ≤ 5·10⁴; pre-scale cents→dimes past that.

    Plan: ONE map-combinable groupBy(key, hour) over the scan (24
    rows/key), then key-level re-aggregation and a 24-row window for
    the argmax — everything after the first shuffle is output-sized.

    Returns ``(key, n, seasonal_strength, peak_hour)`` by key.
    """
    c = events.select(
        F.col("event_type").alias("key"),
        F.expr(
            "(unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000) % 24"
        ).alias("hod"),
        _cents("value").alias("cents"),
    )
    hf = c.groupBy("key", "hod").agg(
        F.count(F.lit(1)).alias("n_h"),
        F.sum("cents").alias("s_h"),
        F.sum(F.col("cents") * F.col("cents")).alias("q_h"),
    )
    kf = hf.groupBy("key").agg(
        F.sum("n_h").alias("n"),
        F.sum("s_h").alias("s"),
        F.sum("q_h").alias("q"),
        F.sum(F.expr("(s_h * s_h) DIV n_h")).alias("t"),
    )
    w = Window.partitionBy("key").orderBy(
        F.desc(F.expr("(1000 * s_h) DIV n_h")), F.asc("hod")
    )
    peak = (
        hf.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") == 1)
        .select("key", F.col("hod").alias("peak_hour"))
    )
    num = F.col("n") * F.col("t") - F.col("s") * F.col("s")
    den = F.col("n") * F.col("q") - F.col("s") * F.col("s")
    strength = F.when(
        den > 0,
        F.floor(num / den.cast("double") * F.lit(1000000) + F.lit(0.5))
        / F.lit(1000000.0),
    )
    return (
        kf.join(peak, "key")
        .select("key", "n", strength.alias("seasonal_strength"), "peak_hour")
        .orderBy("key")
    )


ORACLE_SEASONAL_STRENGTH = """
WITH c AS (
  SELECT event_type AS key,
         (epoch_us(ts) // 3600000000) % 24 AS hod,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events),
hf AS (
  SELECT key, hod, CAST(count(*) AS BIGINT) AS n_h,
         CAST(sum(cents) AS BIGINT) AS s_h,
         CAST(sum(cents * cents) AS BIGINT) AS q_h
  FROM c GROUP BY key, hod),
kf AS (
  SELECT key, CAST(sum(n_h) AS BIGINT) AS n, CAST(sum(s_h) AS BIGINT) AS s,
         CAST(sum(q_h) AS BIGINT) AS q,
         CAST(sum((s_h * s_h) // n_h) AS BIGINT) AS t
  FROM hf GROUP BY key),
peak AS (
  SELECT key, hod AS peak_hour FROM (
    SELECT key, hod, row_number() OVER (PARTITION BY key
           ORDER BY (1000 * s_h) // n_h DESC, hod) AS r
    FROM hf)
  WHERE r = 1)
SELECT kf.key, kf.n,
       CASE WHEN kf.n * kf.q - kf.s * kf.s > 0
            THEN floor((kf.n * kf.t - kf.s * kf.s)
                 / CAST(kf.n * kf.q - kf.s * kf.s AS DOUBLE)
                 * 1000000 + 0.5) / 1000000.0 END AS seasonal_strength,
       peak.peak_hour
FROM kf JOIN peak USING (key) ORDER BY key"""


def sax_symbols(events: DataFrame, alphabet: str = "abcd") -> DataFrame:
    """Quantile-SAX symbolization: each key's daily series becomes a
    short symbol string (one char per day, alphabet = within-key
    value quartiles via ``ntile``) — the symbolic fingerprint used
    for motif discovery, symbolic indexing, and cheap series
    similarity. This is the QUANTILE variant (classic SAX cuts a
    z-normalized Gaussian; quantile cuts need no float normalization,
    so the string is integer-deterministic and engine-exact).

    Two windows per key partition (value-order ntile, day-order
    string agg) on one exchange. Returns ``(key, n_days, sax)``.
    """
    sym = _bucket_cents(events, F.to_date("ts")).select(
        "key",
        "t",
        F.expr(f"substring('{alphabet}', ntile({len(alphabet)}) OVER "
               f"(PARTITION BY key ORDER BY y, t), 1)").alias("s"),
    )
    return (
        sym.groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.expr("listagg(s, '') WITHIN GROUP (ORDER BY t)").alias("sax"),
        )
        .orderBy("key")
    )


ORACLE_SAX = """
WITH daily AS (
  SELECT event_type AS key, CAST(ts AS DATE) AS day,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1, 2),
sym AS (
  SELECT key, day,
         substring('abcd', ntile(4) OVER (PARTITION BY key ORDER BY y, day), 1)
           AS s
  FROM daily)
SELECT key, CAST(count(*) AS BIGINT) AS n_days,
       string_agg(s, '' ORDER BY day) AS sax
FROM sym GROUP BY key ORDER BY key"""


STL_HALF = 3  # centered trend window = 2*half + 1 = 7 days


def stl_decompose(
    events: DataFrame,
    ts: str = "ts",
    key: str = "event_type",
    value: str = "value",
    half: int = STL_HALF,
) -> DataFrame:
    """STL-style trend/seasonal/residual decomposition of the per-key
    daily series, kept EXACT: trend = centered (2·half+1)-row moving
    window (full windows only — edge days carry no decomposition, the
    classic STL boundary rule), seasonality = day-of-week profile of
    the detrended series, residual = what's left. Instead of the
    loess/float pipeline, every component is carried as an exact
    integer in a documented unit so both engines agree bit-for-bit:

    - ``c_cents``      daily total, cents
    - ``trend_sum``    Σ of the (2·half+1)-row window, cents
    - ``detr``         (2·half+1)·c − trend_sum  (×W cents; W = window)
    - ``seas_num/seas_den``  Σ detr / count over the (key, dow) slot —
      the seasonal component as an exact rational in ×W cents
    - ``resid_scaled`` detr·seas_den − seas_num  (×W·seas_den cents)

    Plan: one map-combinable daily agg, one centered window on the
    per-key day partitioning, one ≤(keys·7)-row slot agg broadcast
    back. dow is Sunday=0 on both engines (Spark ``dayofweek − 1`` ↔
    DuckDB ``dayofweek``).

    Returns ``(key, day, dow, c_cents, trend_sum, detr, seas_num,
    seas_den, resid_scaled)`` for full-window days.
    """
    width = 2 * half + 1
    daily = _bucket_cents(events, F.to_date(ts), key, value).toDF(
        "key", "day", "c_cents"
    )
    w = (
        Window.partitionBy("key")
        .orderBy("day")
        .rowsBetween(-half, half)
    )
    gated = (
        daily.select(
            "key",
            "day",
            "c_cents",
            F.sum("c_cents").over(w).alias("trend_sum"),
            F.count("*").over(w).alias("_nw"),
        )
        .where(F.col("_nw") == width)
        .select(
            "key",
            "day",
            (F.dayofweek("day") - 1).cast("long").alias("dow"),
            "c_cents",
            "trend_sum",
            (F.lit(width) * F.col("c_cents") - F.col("trend_sum")).alias(
                "detr"
            ),
        )
    )
    slots = gated.groupBy("key", "dow").agg(
        F.sum("detr").alias("seas_num"),
        F.count("*").cast("long").alias("seas_den"),
    )
    return gated.join(F.broadcast(slots), ["key", "dow"]).select(
        "key",
        "day",
        "dow",
        "c_cents",
        "trend_sum",
        "detr",
        "seas_num",
        "seas_den",
        (
            F.col("detr") * F.col("seas_den") - F.col("seas_num")
        ).alias("resid_scaled"),
    )


def _stl_oracle(key: str = "event_type", half: int = STL_HALF) -> str:
    width = 2 * half + 1
    return f"""
WITH daily AS (
  SELECT {key} AS key, CAST(ts AS DATE) AS day,
         CAST(sum(floor(value * 100 + 0.5)::BIGINT) AS BIGINT) AS c_cents
  FROM events GROUP BY 1, 2),
win AS (
  SELECT key, day, c_cents,
         CAST(sum(c_cents) OVER w AS BIGINT) AS trend_sum,
         count(*) OVER w AS nw
  FROM daily
  WINDOW w AS (PARTITION BY key ORDER BY day
               ROWS BETWEEN {half} PRECEDING AND {half} FOLLOWING)),
gated AS (
  SELECT key, day, CAST(dayofweek(day) AS BIGINT) AS dow, c_cents,
         trend_sum,
         {width} * c_cents - trend_sum AS detr
  FROM win WHERE nw = {width}),
slots AS (
  SELECT key, dow, CAST(sum(detr) AS BIGINT) AS seas_num,
         CAST(count(*) AS BIGINT) AS seas_den
  FROM gated GROUP BY key, dow)
SELECT g.key, g.day, g.dow, g.c_cents, g.trend_sum,
       CAST(g.detr AS BIGINT) AS detr, s.seas_num, s.seas_den,
       CAST(g.detr * s.seas_den - s.seas_num AS BIGINT) AS resid_scaled
FROM gated g JOIN slots s USING (key, dow)
ORDER BY key, day"""


ORACLE_STL = _stl_oracle()


def mann_kendall(
    events: DataFrame,
    ts: str = "ts",
    key: str = "event_type",
    value: str = "value",
) -> DataFrame:
    """Per-key Mann–Kendall monotonic-trend test over daily totals —
    the nonparametric sibling of :func:`theil_sen` (same pair frame,
    rank statistic instead of median slope): ``S = Σ_{i<j}
    sign(y_j − y_i)`` counts concordant minus discordant day pairs, so
    the statistic depends only on the ORDER of values — immune to
    outlier magnitude and to any monotone transform of y.

    Everything up to the final z is EXACT int64: S is a sum of signs,
    and the tie-corrected variance is carried as ``var18 = 18·Var(S) =
    n(n−1)(2n+5) − Σ_g t_g(t_g−1)(2t_g+5)`` (the classic correction
    over tie groups g), an integer on both engines. The normalized z
    uses the continuity correction ``(S − sign(S)) / sqrt(var18/18)``:
    one IEEE division plus one IEEE sqrt (correctly rounded by the
    754 spec, hence engine-identical), then the module's tie-safe
    6 dp floor-quantization before the 1.96 trend-call comparison.

    Scale: like Theil–Sen, the pair join is per-key quadratic over the
    DAILY table by design (d days ⇒ d(d−1)/2 metadata-scale pairs,
    partitioned by key). The daily table feeds FOUR consumers (both
    pair sides, the tie groups, the day count), so it is
    ``localCheckpoint``-ed — the graph module's reuse idiom — and the
    raw events are genuinely scanned once, not once per consumer.
    Returns ``(key, n_days, s_stat, var18, z, trend)``.
    """
    # key × day sized, so a bare localCheckpoint rather than materialize()
    daily = (
        _bucket_cents(events, _epoch_day(ts), key, value)
        .toDF(key, "d", "y")
        .localCheckpoint()
    )
    a = daily.select(key, F.col("d").alias("da"), F.col("y").alias("ya"))
    b = daily.select(key, F.col("d").alias("db"), F.col("y").alias("yb"))
    s = (
        a.join(b, key)
        .where(F.col("da") < F.col("db"))
        .groupBy(key)
        .agg(F.sum(F.signum(F.col("yb") - F.col("ya")).cast("long")).alias("s_stat"))
    )
    n = daily.groupBy(key).agg(F.count(F.lit(1)).alias("n_days"))
    t = F.col("t")
    ties = (
        daily.groupBy(key, "y")
        .agg(F.count(F.lit(1)).alias("t"))
        .where(t > 1)
        .groupBy(key)
        .agg(F.sum(t * (t - 1) * (2 * t + 5)).alias("tie18"))
    )
    nn = F.col("n_days")
    var18 = (
        nn * (nn - 1) * (2 * nn + 5) - F.coalesce(F.col("tie18"), F.lit(0))
    ).alias("var18")
    staged = (
        n.join(s, key).join(ties, key, "left").select(key, "n_days", "s_stat", var18)
    )
    zc = (F.col("s_stat") - F.signum(F.col("s_stat")).cast("long")).cast(
        "double"
    ) / F.sqrt(F.col("var18") / F.lit(18.0))
    z6 = F.floor(zc * F.lit(1000000) + F.lit(0.5)) / F.lit(1000000.0)
    return (
        staged.where(F.col("var18") > 0)
        .select(
            key,
            "n_days",
            "s_stat",
            "var18",
            z6.alias("z"),
            F.when(z6 > 1.96, F.lit("increasing"))
            .when(z6 < -1.96, F.lit("decreasing"))
            .otherwise(F.lit("no_trend"))
            .alias("trend"),
        )
        .orderBy(key)
    )


ORACLE_MANN_KENDALL = """
WITH daily AS (
  SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
         event_type,
         CAST(sum(floor(value * 100 + 0.5)::BIGINT) AS BIGINT) AS y
  FROM events GROUP BY 1, 2),
s AS (
  SELECT a.event_type,
         CAST(sum(CAST(sign(b.y - a.y) AS BIGINT)) AS BIGINT) AS s_stat
  FROM daily a JOIN daily b USING (event_type)
  WHERE a.d < b.d GROUP BY 1),
n AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
  FROM daily GROUP BY 1),
ties AS (
  SELECT event_type,
         CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie18
  FROM (SELECT event_type, y, count(*) AS t
        FROM daily GROUP BY 1, 2) g
  WHERE t > 1 GROUP BY 1),
staged AS (
  SELECT n.event_type, n.n_days, s.s_stat,
         CAST(n.n_days * (n.n_days - 1) * (2 * n.n_days + 5)
              - coalesce(ties.tie18, 0) AS BIGINT) AS var18
  FROM n JOIN s USING (event_type)
  LEFT JOIN ties USING (event_type)),
z AS (
  SELECT event_type, n_days, s_stat, var18,
         floor(CAST(s_stat - CAST(sign(s_stat) AS BIGINT) AS DOUBLE)
               / sqrt(var18 / 18.0) * 1000000 + 0.5) / 1000000.0 AS z
  FROM staged WHERE var18 > 0)
SELECT event_type, n_days, s_stat, var18, z,
       CASE WHEN z > 1.96 THEN 'increasing'
            WHEN z < -1.96 THEN 'decreasing'
            ELSE 'no_trend' END AS trend
FROM z ORDER BY event_type"""


def ar1_forecast(
    events: DataFrame,
    ts: str = "ts",
    key: str = "event_type",
    value: str = "value",
) -> DataFrame:
    """Per-key AR(1) fit + one-step forecast over daily MEAN cents —
    the autoregressive entry in the forecaster family (alongside
    :func:`holt_linear`'s exponential smoothing and
    :func:`linear_trend`'s time regression): regress each day on the
    previous day, ``y_t = a + b·y_{t−1}``, via closed-form OLS on the
    lag pairs.

    Determinism & headroom: the regression inputs are daily mean
    cents ``ym = sum_cents div n_rows`` (integral division; Spark's
    ``div`` and DuckDB's ``//`` BOTH truncate toward zero — verified
    on negatives, e.g. ``-7 // 2 = -3`` in DuckDB — so the two
    engines agree on all inputs, no floor/pmod workaround needed).
    Means are
    bounded by the VALUE DOMAIN, not the row count, so the OLS moment
    sums (``n·Σxy − Σx·Σy`` etc.) stay exact int64 at any scale
    factor — ym ≤ ~6e4 ⇒ n·Σxy ≤ ~3e12 for a decade of days. The
    slope is ONE double division of exact ints, floor-quantized at
    6 dp BEFORE the intercept/forecast pass (the :func:`theil_sen`
    protocol), so both engines derive downstream numbers from the
    same quantized coefficient.

    Scale: one daily agg (map-side combinable) + a lag window + a
    5-value agg per key; nothing quadratic. Returns ``(key, n_pairs,
    slope, intercept, forecast)`` with intercept/forecast in dollars.
    """
    daily = (
        events.groupBy(_epoch_day(ts).alias("d"), F.col(key))
        .agg(F.sum(_cents(value)).alias("yc"), F.count(F.lit(1)).alias("cnt"))
        .select(key, "d", F.expr("yc div cnt").alias("ym"))
    )
    w = Window.partitionBy(key).orderBy("d")
    lagged = daily.select(
        key, "d", "ym", F.lag("ym").over(w).alias("yp")
    ).where(F.col("yp").isNotNull())
    agg = lagged.groupBy(key).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("yp").alias("sx"),
        F.sum("ym").alias("sy"),
        F.sum(F.col("yp") * F.col("yp")).alias("sxx"),
        F.sum(F.col("yp") * F.col("ym")).alias("sxy"),
        F.max_by("ym", "d").alias("last_ym"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope6 = F.floor(num / den * F.lit(1000000) + F.lit(0.5)) / F.lit(1000000.0)
    staged = agg.where(
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") > 0
    ).select(key, "n", "sx", "sy", "last_ym", slope6.alias("slope"))
    icept = (F.col("sy") - F.col("slope") * F.col("sx")) / (
        F.col("n") * F.lit(100.0)
    )
    icept6 = F.floor(icept * F.lit(1000000) + F.lit(0.5)) / F.lit(1000000.0)
    fc = icept6 + F.col("slope") * (F.col("last_ym") / F.lit(100.0))
    return staged.select(
        key,
        F.col("n").alias("n_pairs"),
        "slope",
        icept6.alias("intercept"),
        (F.floor(fc * F.lit(1000000) + F.lit(0.5)) / F.lit(1000000.0)).alias(
            "forecast"
        ),
    ).orderBy(key)


ORACLE_AR1 = """
WITH daily AS (
  SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
         event_type,
         CAST(sum(floor(value * 100 + 0.5)::BIGINT)
              // count(*) AS BIGINT) AS ym
  FROM events GROUP BY 1, 2),
lagged AS (
  SELECT event_type, d, ym,
         lag(ym) OVER (PARTITION BY event_type ORDER BY d) AS yp
  FROM daily),
agg AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(yp) AS BIGINT) AS sx,
         CAST(sum(ym) AS BIGINT) AS sy,
         CAST(sum(yp * yp) AS BIGINT) AS sxx,
         CAST(sum(yp * ym) AS BIGINT) AS sxy,
         CAST(arg_max(ym, d) AS BIGINT) AS last_ym
  FROM lagged WHERE yp IS NOT NULL GROUP BY 1),
sloped AS (
  SELECT event_type, n, sx, sy, last_ym,
         floor(CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000 + 0.5)
           / 1000000.0 AS slope
  FROM agg WHERE n * sxx - sx * sx > 0),
icepts AS (
  SELECT event_type, n AS n_pairs, slope,
         floor((sy - slope * sx) / (n * 100.0) * 1000000 + 0.5)
           / 1000000.0 AS intercept,
         last_ym
  FROM sloped)
SELECT event_type, n_pairs, slope, intercept,
       floor((intercept + slope * (last_ym / 100.0)) * 1000000 + 0.5)
         / 1000000.0 AS forecast
FROM icepts ORDER BY event_type"""


def winsorized_mean(
    events: DataFrame, key: str = "event_type", value: str = "value"
) -> DataFrame:
    """Winsorized mean per key — the robust rollup between the plain
    mean (breakdown 0) and the median (discards magnitude): clamp
    every observation into the exact [p10, p90] order-statistic band,
    then average. A handful of wild points move the result by at most
    the band edge, so dashboards stop jumping when one bad scrape
    lands.

    Exactness: observations are integer cents; the band edges are
    ``percentile_disc`` values (actual observed cents — the
    cross-engine-verified convention of :func:`percentile_rollup`);
    the clamped sum is an int64 sum; the mean is ONE integer floor
    division into micro-dollar units. Two passes (band agg, clamped
    agg) with the 5-row band table broadcast back — both
    map-combinable. Returns ``(key, n, lo_cents, hi_cents,
    win_mean_micro, raw_mean_micro)``.
    """
    staged = events.select(F.col(key), _cents(value).alias("c"))
    # Spark's percentile_disc returns DOUBLE even over longs; the
    # value is an actual observed cent amount, so the cast is exact
    band = staged.groupBy(key).agg(
        F.expr("percentile_disc(0.1) WITHIN GROUP (ORDER BY c)")
        .cast("long")
        .alias("lo"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY c)")
        .cast("long")
        .alias("hi"),
    )
    clamped = F.least(F.greatest(F.col("c"), F.col("lo")), F.col("hi"))
    return (
        staged.join(F.broadcast(band), key)
        .groupBy(key)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("lo").alias("lo_cents"),
            F.max("hi").alias("hi_cents"),
            F.sum(clamped).alias("_ws"),
            F.sum("c").alias("_rs"),
        )
        .select(
            key,
            "n",
            "lo_cents",
            "hi_cents",
            F.expr("_ws * 10000 div n").alias("win_mean_micro"),
            F.expr("_rs * 10000 div n").alias("raw_mean_micro"),
        )
        .orderBy(key)
    )


ORACLE_WINSORIZED = """
WITH staged AS (
  SELECT event_type, floor(value * 100 + 0.5)::BIGINT AS c FROM events),
band AS (
  SELECT event_type,
         quantile_disc(c, 0.1) AS lo, quantile_disc(c, 0.9) AS hi
  FROM staged GROUP BY event_type)
SELECT s.event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(min(b.lo) AS BIGINT) AS lo_cents,
       CAST(max(b.hi) AS BIGINT) AS hi_cents,
       CAST(sum(least(greatest(s.c, b.lo), b.hi)) * 10000
            // count(*) AS BIGINT) AS win_mean_micro,
       CAST(sum(s.c) * 10000 // count(*) AS BIGINT) AS raw_mean_micro
FROM staged s JOIN band b USING (event_type)
GROUP BY s.event_type ORDER BY s.event_type"""


def anomaly_episodes(
    events: DataFrame,
    ts: str = "ts",
    key: str = "event_type",
    value: str = "value",
    threshold: float = 3.0,
) -> DataFrame:
    """Anomaly EPISODE grouping — what an alerting system actually
    pages on: individual :func:`anomaly_mad` flags are bursty, so
    adjacent flagged hours collapse into one episode (gaps-and-islands
    over the distinct flagged hour index) with its span and event
    count. One page per incident instead of one per sample — the
    alert-fatigue fix, built as a composition of two certified
    idioms (the MAD detector + the islands grouping).

    Hour indexes are integer ``epoch_us div 3600e6`` on both engines;
    everything downstream is integer window/agg arithmetic. Returns
    ``(key, start_h, end_h, n_hours, n_events)`` ordered by
    (key, start_h).
    """
    flagged = anomaly_mad(events, key=key, value=value, threshold=threshold)
    fe = (
        events.join(flagged.select("event_id"), "event_id")
        .select(
            F.col(key),
            # session tz is UTC so NTZ -> timestamp -> unix_micros
            # equals DuckDB's epoch_us over the naive value (the
            # workloads.py gate-normalization identity)
            F.expr(
                f"unix_micros(cast({ts} as timestamp)) div 3600000000"
            ).alias("h"),
        )
    )
    hours = fe.groupBy(key, "h").agg(F.count(F.lit(1)).alias("n_ev"))
    wd = Window.partitionBy(key).orderBy("h")
    runs = hours.select(
        key, "h", "n_ev", (F.col("h") - F.row_number().over(wd)).alias("rk")
    )
    return (
        runs.groupBy(key, "rk")
        .agg(
            F.min("h").alias("start_h"),
            F.max("h").alias("end_h"),
            F.count(F.lit(1)).alias("n_hours"),
            F.sum("n_ev").alias("n_events"),
        )
        .select(key, "start_h", "end_h", "n_hours", "n_events")
        .orderBy(key, "start_h")
    )


def _episodes_oracle(key: str = "event_type", threshold: float = 3.0) -> str:
    thr = int(round(threshold * 14826))
    return f"""
WITH c AS (
  SELECT event_id, {key}, ts, floor(value * 100 + 0.5) AS c FROM events),
m1 AS (SELECT {key}, median(c) AS med FROM c GROUP BY 1),
j1 AS (SELECT c.*, med FROM c JOIN m1 USING ({key})),
m2 AS (SELECT {key}, median(abs(c - med)) AS mad FROM j1 GROUP BY 1),
j2 AS (SELECT j1.*, mad FROM j1 JOIN m2 USING ({key})),
fl AS (
  SELECT {key}, epoch_us(ts) // 3600000000 AS h FROM j2
  WHERE mad > 0 AND abs(c - med) * 10000 > {thr} * mad),
hours AS (
  SELECT {key}, h, CAST(count(*) AS BIGINT) AS n_ev
  FROM fl GROUP BY 1, 2),
runs AS (
  SELECT {key}, h, n_ev,
         h - row_number() OVER (PARTITION BY {key} ORDER BY h) AS rk
  FROM hours)
SELECT {key}, CAST(min(h) AS BIGINT) AS start_h,
       CAST(max(h) AS BIGINT) AS end_h,
       CAST(count(*) AS BIGINT) AS n_hours,
       CAST(sum(n_ev) AS BIGINT) AS n_events
FROM runs GROUP BY {key}, rk
ORDER BY {key}, start_h"""


ORACLE_EPISODES = _episodes_oracle()


def percentile_bands_daily(
    events: DataFrame, ts: str = "ts", key: str = "event_type", value: str = "value"
) -> DataFrame:
    """Daily p50/p95 bands per key — :func:`percentile_rollup` given a
    time axis (the latency-dashboard shape: a band per day instead of
    one number per key, so drift in the TAIL is visible before the
    median moves). Exact ``percentile_disc`` over integer cents, the
    module's cross-engine-verified convention; one hash aggregate per
    (key, day).

    Returns ``(key, day_epoch, n, p50_cents, p95_cents)`` under a
    total order.
    """
    return (
        events.select(
            F.col(key), _epoch_day(ts).alias("day_epoch"), _cents(value).alias("c")
        )
        .groupBy(key, "day_epoch")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY c)")
            .cast("long")
            .alias("p50_cents"),
            F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY c)")
            .cast("long")
            .alias("p95_cents"),
        )
        .orderBy(key, "day_epoch")
    )


ORACLE_PCT_BANDS = """
SELECT event_type,
       CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS INTEGER)
         AS day_epoch,
       CAST(count(*) AS BIGINT) AS n,
       CAST(quantile_disc(floor(value * 100 + 0.5)::BIGINT, 0.5) AS BIGINT)
         AS p50_cents,
       CAST(quantile_disc(floor(value * 100 + 0.5)::BIGINT, 0.95) AS BIGINT)
         AS p95_cents
FROM events GROUP BY 1, 2 ORDER BY event_type, day_epoch"""


DTW_INF = 1_000_000_000_000_000  # 1e15: >> any path cost, no overflow

# The exact DP is O(n·m) per pair; above DTW_MAX_EXACT_LEN the auto
# wrapper compresses each series to DTW_PAA_TARGET segments first
# (Piecewise Aggregate Approximation — sax_symbols' front half), which
# bounds every pair at O(target²) regardless of raw length. The
# threshold is BASELINE.md's "DTW/MP strategy switch" measurement: the
# nested-fold DP stays sub-second per pair to ~512-point series and
# grows quadratically past it.
DTW_MAX_EXACT_LEN = 512
DTW_PAA_TARGET = 128

# The DP as nested higher-order folds: the outer aggregate walks series
# A carrying the previous DP row, the inner one walks series B
# appending cost + min(up, left, diag).
_DTW_DP = f"""
        element_at(
          aggregate(
            sa,
            concat(array(0L), transform(sb, x -> {DTW_INF}L)),
            (prev, ai) -> aggregate(
              sb,
              array({DTW_INF}L),
              (acc, bj) -> concat(
                acc,
                array(
                  abs(ai - bj) + least(
                    element_at(prev, size(acc) + 1),
                    element_at(acc, size(acc)),
                    element_at(prev, size(acc)))))),
            row -> row),
          -1)
        """


def _paa_expr(col: str, k: int) -> str:
    """JVM-side PAA of an int64 array column to ``k`` segments: segment
    b covers [b·n div k, (b+1)·n div k) (the equal-width integer
    partition; first n%k segments get the extra element), value =
    floor mean — integer-exact, so PAA'd series stay bit-stable.
    Series already ≤ k points pass through unchanged."""
    seg_len = f"((b + 1) * size({col}) div {k} - b * size({col}) div {k})"
    return f"""
      CASE WHEN size({col}) <= {k} THEN {col} ELSE
        transform(sequence(0, {k - 1}), b ->
          aggregate(
            slice({col}, b * size({col}) div {k} + 1, {seg_len}),
            0L, (acc, v) -> acc + v)
          div greatest({seg_len}, 1L))
      END"""


def _sql_paa(col: str, k: int) -> str:
    """DuckDB mirror of :func:`_paa_expr` (list_slice is 1-based with
    inclusive end; the fold prepends its 0 seed — list_reduce has no
    init parameter)."""
    seg_len = f"((b + 1) * len({col}) // {k} - b * len({col}) // {k})"
    return f"""
      CASE WHEN len({col}) <= {k} THEN {col} ELSE
        list_transform(range(0, {k}), b ->
          list_reduce(
            list_prepend(0::BIGINT,
              list_slice({col}, b * len({col}) // {k} + 1,
                         (b + 1) * len({col}) // {k})),
            (acc, v) -> acc + v)
          // greatest({seg_len}, 1))
      END"""


def _dtw_bucket_col(bucket: str):
    """Series granularity for the DTW family: ``day`` is the rollup
    :func:`dtw_distances` certifies; ``hour`` is the long-series regime
    that actually exercises the PAA switch (30 days × 24 h = 720
    points > DTW_MAX_EXACT_LEN on the test corpus)."""
    if bucket == "day":
        return F.to_date("ts")
    if bucket == "hour":
        return F.date_trunc("hour", F.col("ts"))
    raise ValueError(f"unknown dtw bucket {bucket!r}")


def _dtw(events: DataFrame, bucket: str, k: int | None) -> DataFrame:
    """The DTW every public form runs: per-key ``bucket`` series of
    cents, PAA-compressed to ``k`` segments when ``k`` is given, and
    every key pair (key_a < key_b; the |keys|-row side broadcast)
    through the one :data:`_DTW_DP` expression. Series are ordered by
    ``sort_array`` over (t, y) structs — deterministic under any
    partitioning, no window. ``n_a``/``n_b`` are the raw lengths."""
    ordered = F.sort_array(F.collect_list(F.struct("t", "y")))
    raw = _bucket_cents(events, _dtw_bucket_col(bucket)).groupBy("key").agg(
        F.transform(ordered, lambda p: p["y"]).alias("raw")
    )
    s = F.col("raw") if k is None else F.expr(_paa_expr("raw", k))
    series = raw.select("key", F.size("raw").cast("long"), s)
    a = series.toDF("key_a", "n_a", "sa")
    b = series.toDF("key_b", "n_b", "sb")
    dtw = F.expr(_DTW_DP).cast("long").alias("dtw_cents")
    return (
        a.join(F.broadcast(b), F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b", "n_a", "n_b", dtw)
        .orderBy("key_a", "key_b")
    )


def dtw_distances(events: DataFrame) -> DataFrame:
    """Exact dynamic time warping distance between every pair of
    event-type daily series — THE classic time-series similarity
    measure (alignment-elastic, unlike lock-step L2/correlation): the
    minimum total |a_i − b_j| cost over monotone alignments, via the
    full O(n·m) DP.

    Engine shape: the DP runs entirely JVM-side as nested
    higher-order folds (:data:`_DTW_DP`), so the whole matrix
    evaluates inside codegen'd expression machinery with no UDF and no
    Python. Costs are integer cents, so every cell (and the result) is
    exact int64 — bit-identical to the DuckDB oracle's identical
    ``list_reduce`` nesting. Series are day-count-sized; the pair
    table is |event_types|² — dim-sized. The fold-append row
    construction copies the growing row each step, so the EFFECTIVE
    per-pair cost is O(n·m²) (measured: sub-second at 512 points,
    minutes past ~2k): fine for daily/monthly rollups; long raw series
    go through :func:`dtw_distances_auto`, which switches to the
    PAA-compressed form past ``DTW_MAX_EXACT_LEN``.

    Returns ``(key_a, key_b, n_a, n_b, dtw_cents)`` for key_a < key_b,
    ordered by (key_a, key_b).
    """
    return _dtw(events, "day", None)


def dtw_distances_paa(
    events: DataFrame, k: int = DTW_PAA_TARGET, bucket: str = "day"
) -> DataFrame:
    """DTW over PAA-compressed series — the bounded-cost form of
    :func:`dtw_distances` for long series: each series folds to ≤ ``k``
    integer segment means (floor means, exact int64) before the SAME
    DP, so per-pair cost is O(k²) no matter how long the raw series
    runs. ``n_a``/``n_b`` report the ORIGINAL lengths (the compression
    is the point; hiding it would misreport the input).

    Returns ``(key_a, key_b, n_a, n_b, dtw_cents)`` ordered by
    (key_a, key_b) — dtw_cents here is the distance between the PAA
    sketches (an approximation of the raw-series DTW, standard
    PAA-DTW semantics; it lower-bounds raw DTW·(n/k) under the usual
    GEMINI framing)."""
    return _dtw(events, bucket, k)


def pick_dtw_strategy(
    events: DataFrame,
    max_exact_len: int = DTW_MAX_EXACT_LEN,
    bucket: str = "day",
) -> tuple[str, int]:
    """Strategy probe for :func:`dtw_distances_auto` — the dtw
    analogue of ``candidates.pick_strategy``: ONE dim-sized
    aggregation (max per-key bucket count, a bounded 1-row collect)
    decides exact vs PAA. Returns ``(strategy, max_len)``."""
    max_len = (
        events.select(
            F.col("event_type").alias("key"),
            _dtw_bucket_col(bucket).alias("day"),
        )
        .distinct()
        .groupBy("key")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
        or 0
    )
    return ("exact" if max_len <= max_exact_len else "paa"), int(max_len)


def dtw_distances_auto(
    events: DataFrame,
    max_exact_len: int = DTW_MAX_EXACT_LEN,
    k: int = DTW_PAA_TARGET,
    bucket: str = "day",
) -> DataFrame:
    """Automatic strategy switch: exact DP while every series fits
    ``max_exact_len``, PAA-compressed DP beyond it — mirroring the CP
    engine's ``pick_strategy`` dispatch. Both branches are certified
    paths (``ts_dtw`` / ``ts_dtw_paa`` oracle workloads — the latter
    runs THIS function on hourly series, so the gate certifies probe +
    dispatch + PAA + DP end-to-end); the threshold crossing itself is
    pinned by a unit test on both sides."""
    strategy, _ = pick_dtw_strategy(events, max_exact_len, bucket)
    return _dtw(events, bucket, k if strategy == "paa" else None)


# DuckDB's list_reduce seeds the fold with the FIRST element (no init
# parameter), so the DP-row accumulator rides as a prepended list and
# series A's elements enter as singletons; the inner fold smuggles
# `ai` into its elements as [bj, ai] pairs (outer lambda capture of
# `prev` is supported, mirrored here for belt-and-braces portability).
_DTW_DP_SQL = f"""CAST(list_reduce(
         list_prepend(
           list_prepend(0::BIGINT,
                        list_transform(sb, x -> {DTW_INF}::BIGINT)),
           list_transform(sa, x -> [x])),
         (prev, ai_l) -> list_reduce(
             list_prepend([{DTW_INF}::BIGINT],
                          list_transform(sb, bj -> [bj, ai_l[1]])),
             (acc, bj_l) -> list_append(acc,
                abs(bj_l[2] - bj_l[1]) + least(
                  prev[len(acc) + 1],
                  acc[len(acc)],
                  prev[len(acc)]))))[len(sb) + 1] AS BIGINT) AS dtw_cents
FROM pairs
ORDER BY key_a, key_b"""

ORACLE_DTW = f"""
WITH daily AS (
  SELECT event_type AS key, CAST(ts AS DATE) AS day,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS c
  FROM events GROUP BY 1, 2),
series AS (
  SELECT key, list(c ORDER BY day) AS s FROM daily GROUP BY key),
pairs AS (
  SELECT a.key AS key_a, b.key AS key_b, a.s AS sa, b.s AS sb
  FROM series a JOIN series b ON a.key < b.key)
SELECT key_a, key_b,
       CAST(len(sa) AS BIGINT) AS n_a, CAST(len(sb) AS BIGINT) AS n_b,
       {_DTW_DP_SQL}"""


# The oracle mirrors the AUTO dispatch, not just the PAA form: the
# probe is global (max series length vs DTW_MAX_EXACT_LEN), so below
# the threshold every series passes through raw (the exact DP — what
# sf0.001's ~180-point hourly series hit) and above it each series
# PAA-compresses — same decision the Spark side makes.
ORACLE_DTW_PAA = f"""
WITH daily AS (
  SELECT event_type AS key, date_trunc('hour', ts) AS day,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS c
  FROM events GROUP BY 1, 2),
series_raw AS (
  SELECT key, list(c ORDER BY day) AS raw FROM daily GROUP BY key),
series AS (
  SELECT key, raw,
         CASE WHEN (SELECT max(len(raw)) FROM series_raw)
                   <= {DTW_MAX_EXACT_LEN}
              THEN raw
              ELSE {_sql_paa('raw', DTW_PAA_TARGET)} END AS s
  FROM series_raw),
pairs AS (
  SELECT a.key AS key_a, b.key AS key_b, a.s AS sa, b.s AS sb,
         len(a.raw) AS ra, len(b.raw) AS rb
  FROM series a JOIN series b ON a.key < b.key)
SELECT key_a, key_b,
       CAST(ra AS BIGINT) AS n_a, CAST(rb AS BIGINT) AS n_b,
       {_DTW_DP_SQL}"""


# the certified holt-residual recursion as a composable fragment
# (DuckDB allows a WITH RECURSIVE inside a derived table)
_HOLT_RESID_SQL = (
    "SELECT key, t, resid_cents AS e FROM ("
    + _holt_residuals_oracle()
    + ") hr"
)

LB_LAGS = 5
# chi-square 95th percentile at df = LB_LAGS — the fixed decision
# threshold (df adjustment for fitted params is the caller's concern;
# documented, not silently applied)
LB_CRIT_MICRO = 11_070_498  # 11.070498 in 1e-6 units


def ljung_box(events: DataFrame, h: int = LB_LAGS) -> DataFrame:
    """Ljung–Box residual-whiteness test over :func:`holt_linear`'s
    one-step residuals — the model-diagnostic that closes the
    forecasting loop (:func:`holt_residuals` shows the trace; this
    says whether what's left is noise): per key,
    ``Q = n(n+2) Σ_{k=1..h} r_k² / (n−k)`` with r_k the lag-k
    autocorrelation of the residuals, compared against the fixed
    χ²₀.₉₅(h) critical value.

    Exactness: the autocovariance numerators and denominator are
    exact int64 built from integer-cents sums
    (``A_k = n²·Σe_t e_{t+k} − n·S·(H_k+T_k) + (n−k)·S²``,
    ``D = n²·Σe² − n·S²``), so the only float work is h fixed-order
    divisions and the final Q — rounded to 6 dp, the repo's float
    idiom. Plan: ONE window pass (h leads over (key, t)) and ONE
    groupBy(key); everything after is per-key scalar arithmetic.

    Returns ``(key, n, q_stat, white_noise)`` ordered by key; keys
    need n > h residuals.
    """
    r = holt_residuals(events).select(
        "key", "t", F.col("resid_cents").alias("e")
    )
    w = Window.partitionBy("key").orderBy("t")
    proj = [F.col("key"), F.col("e")]
    for k in range(1, h + 1):
        proj.append(F.lead("e", k).over(w).alias(f"e{k}"))
    lagged = r.select(*proj)
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum("e").alias("s"),
        F.sum(F.expr("e * e")).alias("ss"),
    ]
    for k in range(1, h + 1):
        aggs.append(F.sum(F.expr(f"e * e{k}")).alias(f"p{k}"))
        aggs.append(
            F.sum(F.when(F.col(f"e{k}").isNotNull(), F.col("e"))).alias(
                f"h{k}"
            )
        )
        aggs.append(F.sum(f"e{k}").alias(f"t{k}"))
    g = lagged.groupBy("key").agg(*aggs).where(F.col("n") > h)
    d = F.expr("n * n * ss - n * s * s").cast("double")
    q = None
    for k in range(1, h + 1):
        ak = F.expr(
            f"n * n * p{k} - n * s * (h{k} + t{k}) + (n - {k}) * s * s"
        ).cast("double")
        rk2 = (ak / d) * (ak / d)
        term = rk2 / (F.col("n") - F.lit(k)).cast("double")
        q = term if q is None else q + term
    q = F.round(F.col("n").cast("double") * (F.col("n") + 2) * q, 6)
    return g.select(
        "key",
        "n",
        q.alias("q_stat"),
        (q < F.lit(LB_CRIT_MICRO / 1e6)).alias("white_noise"),
    ).orderBy("key")


def _ljung_box_oracle(h: int = LB_LAGS) -> str:
    # holt residuals come from the certified recursive-CTE oracle
    # fragment; whiteness statistics mirror the integer closed forms
    leads = ", ".join(
        f"lead(e, {k}) OVER (PARTITION BY key ORDER BY t) AS e{k}"
        for k in range(1, h + 1)
    )
    aggs = ", ".join(
        f"CAST(sum(e * e{k}) AS BIGINT) AS p{k}, "
        f"CAST(sum(CASE WHEN e{k} IS NOT NULL THEN e END) AS BIGINT) AS h{k}, "
        f"CAST(sum(e{k}) AS BIGINT) AS t{k}"
        for k in range(1, h + 1)
    )
    terms = " + ".join(
        f"pow(CAST(n * n * p{k} - n * s * (h{k} + t{k}) "
        f"+ (n - {k}) * s * s AS DOUBLE) "
        f"/ CAST(n * n * ss - n * s * s AS DOUBLE), 2) / (n - {k})"
        for k in range(1, h + 1)
    )
    return f"""
WITH resid AS ({_HOLT_RESID_SQL}),
lagged AS (SELECT key, e, {leads} FROM resid),
g AS (
  SELECT key, CAST(count(*) AS BIGINT) AS n, CAST(sum(e) AS BIGINT) AS s,
         CAST(sum(e * e) AS BIGINT) AS ss, {aggs}
  FROM lagged GROUP BY key)
SELECT key, n,
       round(n * (n + 2) * ({terms}), 6) AS q_stat,
       round(n * (n + 2) * ({terms}), 6) < {LB_CRIT_MICRO / 1e6}
         AS white_noise
FROM g WHERE n > {h} ORDER BY key"""


# Banded matrix profile: subsequence length, neighbor band, series
# cap, and discord count. The band bounds the pair join at
# O(n · band); the cap bounds the ordered-window frame (the repo's
# bounded-frame convention — this is a per-series diagnostic, sharded
# by key in production, not a corpus-wide sort).
MP_M = 8
MP_BAND = 128
MP_CAP = 2048
MP_TOP = 10


def matrix_profile_discords(
    events: DataFrame,
    m: int = MP_M,
    band: int = MP_BAND,
    cap: int = MP_CAP,
    top: int = MP_TOP,
) -> DataFrame:
    """Banded matrix profile over the event-value series → top
    discords (Yeh et al. 2016's profile restricted to a ±``band``
    neighbor horizon): for every length-``m`` window, the squared-L2
    distance to its nearest non-trivial neighbor (|i−j| ≥ m, the
    standard exclusion zone) within the band; windows whose nearest
    neighbor is FARTHEST are the discords — the strongest
    subsequence-anomaly signal a TSDB offers (novel shapes, not just
    novel levels, which is what the z-score/MAD family sees).

    Exactness: values lift to integer cents once, so every distance is
    an exact int64 — no float summation anywhere. Plan: windows build
    from ONE ordered frame over the capped series (``cap`` rows,
    bounded); the pair join is (bucket, neighbor-bucket) EQUI on
    ``i DIV band`` fanned to the 3 adjacent buckets — O(n·band) pairs
    by construction, never all-pairs; nearest neighbor and the discord
    head are two dim-sized window ranks.

    Returns ``(i, nn_j, nn_d2)`` for the ``top`` discords, ordered
    (nn_d2 desc, i asc)."""
    s = events.where(F.col("event_id") < cap).select(
        F.col("event_id").alias("i"), _cents("value").alias("c")
    )
    return _mp_from_series(s, m, band, top)


def _mp_from_series(
    s: DataFrame, m: int, band: int, top: int
) -> DataFrame:
    """Banded matrix-profile core over a prepared ``(i, c)`` integer
    series — shared by the capped-exact and PAA paths, with
    :func:`_mp_oracle` as its DuckDB text."""
    w = Window.orderBy("i").rowsBetween(0, m - 1)
    win = (
        s.select("i", F.collect_list("c").over(w).alias("w"))
        .where(F.size("w") == m)
    )
    a = win.select(
        F.col("i"),
        F.col("w").alias("wa"),
        F.explode(
            F.array(
                F.expr(f"i DIV {band} - 1"),
                F.expr(f"i DIV {band}"),
                F.expr(f"i DIV {band} + 1"),
            )
        ).alias("bk"),
    )
    b = win.select(
        F.col("i").alias("j"),
        F.col("w").alias("wb"),
        F.expr(f"i DIV {band}").alias("bk"),
    )
    d2 = F.expr(
        "aggregate(zip_with(wa, wb, (x, y) -> (x - y) * (x - y)), "
        "0L, (acc, v) -> acc + v)"
    )
    pairs = (
        a.join(b, "bk")
        .where(
            (F.abs(F.col("i") - F.col("j")) >= m)
            & (F.abs(F.col("i") - F.col("j")) <= band)
        )
        .select("i", "j", d2.alias("d2"))
    )
    nn = Window.partitionBy("i").orderBy(F.asc("d2"), F.asc("j"))
    profile = (
        pairs.withColumn("rn", F.row_number().over(nn))
        .where(F.col("rn") == 1)
        .select("i", F.col("j").alias("nn_j"), F.col("d2").alias("nn_d2"))
    )
    return profile.orderBy(F.desc("nn_d2"), F.asc("i")).limit(top)


def matrix_profile_discords_paa(
    events: DataFrame,
    factor: int,
    m: int = MP_M,
    band: int = MP_BAND,
    top: int = MP_TOP,
) -> DataFrame:
    """Matrix profile over the PAA-compressed FULL series — the
    long-series form of :func:`matrix_profile_discords`: instead of
    truncating at ``cap`` (the exact path's bound, which silently
    ignores everything past it), every ``factor`` consecutive points
    fold to their floor-mean cent value (integer-exact), the banded
    profile runs on the ≤ n/factor compressed series, and discord
    indices ``i`` are PAA-space (raw position ≈ i·factor). Coarse
    shapes survive PAA (its point: GEMINI-style lower-bound
    preservation); sub-``factor``-width spikes do not — the exact
    path exists for those.

    One extra map-combinable pre-aggregation; everything downstream
    is the identical certified core."""
    s = events.select(
        F.expr(f"event_id DIV {factor}").alias("i"),
        _cents("value").alias("c"),
    ).groupBy("i").agg(
        F.expr("sum(c) div count(*)").alias("c")
    )
    return _mp_from_series(s, m, band, top)


def matrix_profile_discords_auto(
    events: DataFrame,
    m: int = MP_M,
    band: int = MP_BAND,
    cap: int = MP_CAP,
    top: int = MP_TOP,
) -> tuple[DataFrame, str, int]:
    """Automatic strategy switch for the matrix profile (r06 verdict
    item 8, mirroring ``pick_strategy``): ONE bounded probe (max
    event_id) decides — series within ``cap`` run the exact banded
    profile; longer series PAA-compress by ``factor =
    ceil(n/cap)`` so the WHOLE series is covered at the same bounded
    cost instead of being truncated at ``cap``. Returns
    ``(profile_df, strategy, factor)`` — strategy in
    {"exact", "paa"}, factor 1 on the exact path."""
    mx = events.agg(F.max("event_id")).collect()[0][0]
    n = int(mx) + 1 if mx is not None else 0
    if n <= cap:
        return matrix_profile_discords(events, m, band, cap, top), "exact", 1
    factor = (n + cap - 1) // cap
    return (
        matrix_profile_discords_paa(events, factor, m, band, top),
        "paa",
        factor,
    )


def _mp_oracle(s_cte: str) -> str:
    """Matrix-profile oracle over the CTEs ``s_cte`` ending in the
    ``(i, c)`` series ``s`` — the text twin of :func:`_mp_from_series`."""
    return f"""
WITH {s_cte},
win AS (
  SELECT i, w FROM (
    SELECT i, list(c) OVER (ORDER BY i
        ROWS BETWEEN CURRENT ROW AND {MP_M - 1} FOLLOWING) AS w
    FROM s)
  WHERE len(w) = {MP_M}),
pairs AS (
  SELECT a.i, b.i AS j,
         list_reduce(list_prepend(0::BIGINT, list_transform(
             range(1, {MP_M + 1}),
             k -> (a.w[k] - b.w[k]) * (a.w[k] - b.w[k]))),
           (acc, v) -> acc + v) AS d2
  FROM win a JOIN win b
    ON b.i BETWEEN a.i - {MP_BAND} AND a.i + {MP_BAND}
   AND abs(a.i - b.i) >= {MP_M}),
profile AS (
  SELECT i, j AS nn_j, d2 AS nn_d2,
         row_number() OVER (PARTITION BY i ORDER BY d2, j) AS rn
  FROM pairs)
SELECT i, nn_j, CAST(nn_d2 AS BIGINT) AS nn_d2
FROM profile WHERE rn = 1
ORDER BY nn_d2 DESC, i LIMIT {MP_TOP}"""


# Auto-switch oracle: fac is computed from the data exactly as the
# Spark probe computes it (ceil(n / cap)); at fac = 1 the compression
# CTE is the identity and this degenerates to the exact uncapped
# profile — the same answer the Spark exact branch gives when the
# series fits, so ONE oracle covers both sides of the switch.
ORACLE_MATRIX_PROFILE_PAA = _mp_oracle(f"""f AS (
  SELECT CAST((max(event_id) + {MP_CAP}) // {MP_CAP} AS BIGINT) AS fac
  FROM events),
s AS (
  SELECT i, CAST(sum(c) // count(*) AS BIGINT) AS c FROM (
    SELECT event_id // fac AS i,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
    FROM events, f)
  GROUP BY i)""")

ORACLE_MATRIX_PROFILE = _mp_oracle(f"""s AS (
  SELECT event_id AS i, CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
  FROM events WHERE event_id < {MP_CAP})""")


def timeseries_workloads():
    from query_refinement_dsit_databases_2021_spark.workloads import (
        Workload,
        register_views,
    )

    def _w(name: str, oracle: str, build: Callable[[DataFrame], DataFrame]):
        def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
            register_views(spark, sf_dir)
            return build(spark.table("events"))

        return Workload(name, fn, oracle)

    return [
        _w("ts_resample_ohlc", ORACLE_OHLC, resample_ohlc),
        _w("ts_gapfill_locf", ORACLE_GAPFILL_LOCF, gapfill_locf),
        _w("ts_gapfill_interp", ORACLE_GAPFILL_INTERP, gapfill_interp),
        _w("ts_moving_stats", ORACLE_MOVING_STATS, moving_stats),
        _w("ts_ewma", ORACLE_EWMA, ewma),
        _w("ts_ewma_crossover", ORACLE_EWMA_CROSSOVER, ewma_crossover),
        _w("ts_changepoint", ORACLE_CHANGEPOINT, changepoint_cusum),
        _w("ts_rate_of_change", ORACLE_RATE, rate_of_change),
        _w("ts_anomaly_zscore", _anomaly_oracle(), anomaly_zscore),
        _w("ts_histogram", ORACLE_HISTOGRAM, value_histogram),
        _w("ts_percentiles", ORACLE_PERCENTILES, percentile_rollup),
        _w("ts_time_weighted_avg", ORACLE_TWA, time_weighted_avg),
        _w("ts_downsample_m4", ORACLE_M4, downsample_m4),
        _w("ts_gaps", ORACLE_GAPS, detect_gaps),
        _w("ts_cross_corr", _crosscorr_oracle(), cross_correlation),
        # autocorrelation = cross-correlation of a series with itself:
        # lag 0 pins r = 1.0 (a free self-check), lags >= 1 give the
        # ACF — the seasonality/persistence diagnostic
        _w(
            "ts_acf",
            _crosscorr_oracle(key_a="click", key_b="click"),
            lambda ev: cross_correlation(ev, key_a="click", key_b="click"),
        ),
        _w("ts_linear_trend", ORACLE_LINEAR_TREND, linear_trend),
        _w("ts_theil_sen", ORACLE_THEIL_SEN, theil_sen),
        _w("ts_cusum", _cusum_oracle(), cusum_alerts),
        _w("ts_detrended_anomaly", _detrended_oracle(), detrended_anomaly),
        _w("ts_anomaly_mad", _mad_oracle(), anomaly_mad),
        _w("ts_seasonal_anomaly", _seasonal_oracle(), seasonal_anomaly),
        _w("ts_level_shift", _level_shift_oracle(), level_shift),
        _w("ts_holt_linear", _holt_oracle(), holt_linear),
        _w("ts_downsample_lttb", _lttb_oracle(), downsample_lttb),
        _w("ts_forecast_backtest", _backtest_oracle(), forecast_backtest),
        _w("ts_sax_symbols", ORACLE_SAX, sax_symbols),
        _w("ts_seasonal_strength", ORACLE_SEASONAL_STRENGTH, seasonal_strength),
        _w("ts_holt_winters", ORACLE_HOLT_WINTERS, holt_winters),
        _w("ts_holt_residuals", ORACLE_HOLT_RESIDUALS, holt_residuals),
        _w("ts_anomaly_consensus", _anomaly_consensus_oracle(), anomaly_consensus),
        _w("ts_forecast_model_select", ORACLE_MODEL_SELECT, forecast_model_select),
        _w("ts_dominant_period", ORACLE_DOMINANT_PERIOD, dominant_period),
        _w("ts_acf_profile", ORACLE_ACF_PROFILE, acf_profile),
        _w("ts_matrix_profile", ORACLE_MATRIX_PROFILE, matrix_profile_discords),
        # the events series (10k/100k rows) exceeds MP_CAP, so auto
        # provably takes the PAA branch: full-series coverage at
        # bounded cost; oracle computes the identical dynamic factor
        _w(
            "ts_matrix_profile_paa",
            ORACLE_MATRIX_PROFILE_PAA,
            lambda ev: matrix_profile_discords_auto(ev)[0],
        ),
        _w("ts_ljung_box", _ljung_box_oracle(), ljung_box),
        _w("ts_dtw", ORACLE_DTW, dtw_distances),
        # hourly series run 720 points > DTW_MAX_EXACT_LEN, so the
        # auto dispatcher provably takes the PAA branch here — the
        # gate certifies probe + switch + compression + DP together
        _w(
            "ts_dtw_paa",
            ORACLE_DTW_PAA,
            lambda ev: dtw_distances_auto(ev, bucket="hour"),
        ),
        _w(
            "ts_stl_decompose",
            ORACLE_STL,
            lambda ev: stl_decompose(ev).orderBy("key", "day"),
        ),
        _w("ts_mann_kendall", ORACLE_MANN_KENDALL, mann_kendall),
        _w("ts_ar1_forecast", ORACLE_AR1, ar1_forecast),
        _w("ts_winsorized_mean", ORACLE_WINSORIZED, winsorized_mean),
        _w("ts_anomaly_episodes", ORACLE_EPISODES, anomaly_episodes),
        _w("ts_percentile_bands", ORACLE_PCT_BANDS, percentile_bands_daily),
    ]
