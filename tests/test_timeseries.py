"""Unit tests for the TSDB operator family (operators/timeseries.py)
on a hand-checkable event fixture: semantics of deterministic OHLC,
LOCF vs linear-interp gap-fill (including range edges), moving-window
stats, and irregular-axis rate of change."""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
    gapfill_interp,
    gapfill_locf,
    moving_stats,
    rate_of_change,
    resample_ohlc,
)


def _ts(day, hour, minute=0):
    return datetime(2024, 3, day, hour, minute)


@pytest.fixture(scope="module")
def tiny_events(spark):
    # two keys; key "a" has observations in 6h-buckets 00:00 and 18:00
    # of day 1 (gap at 06:00/12:00); key "b" only in bucket 06:00
    rows = [
        # event_id, ts, user_id, event_type, value
        (1, _ts(1, 0, 5), 1, "a", 10.0),
        (2, _ts(1, 1, 0), 1, "a", 20.0),
        (3, _ts(1, 19, 0), 2, "a", 50.0),
        (4, _ts(1, 7, 0), 1, "b", 8.0),
        (5, _ts(1, 7, 30), 1, "b", 4.0),
    ]
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )


def test_resample_ohlc_deterministic_first_last(spark, tiny_events):
    rows = {
        (r["bucket"], r["event_type"]): r
        for r in resample_ohlc(tiny_events, width="6 hours").collect()
    }
    a0 = rows[(_ts(1, 0), "a")]
    # open = value at lowest event_id, close = at highest; high/low/n
    assert (a0["open"], a0["high"], a0["low"], a0["close"], a0["n"]) == (
        10.0, 20.0, 10.0, 20.0, 2,
    )
    b = rows[(_ts(1, 6), "b")]
    assert (b["open"], b["close"], b["n"]) == (8.0, 4.0, 2)


def test_gapfill_locf_fills_gaps_not_leading_nulls(spark, tiny_events):
    out = {
        (r["bucket"], r["event_type"]): (r["value_filled"], r["observed"])
        for r in gapfill_locf(tiny_events).collect()
    }
    # spine spans 00:00..18:00 for BOTH keys (4 buckets x 2 keys)
    assert len(out) == 8
    # key a: observed 00:00 (avg 15) and 18:00 (50); 06:00/12:00 carry 15
    assert out[(_ts(1, 0), "a")] == (15.0, 1)
    assert out[(_ts(1, 6), "a")] == (15.0, 0)
    assert out[(_ts(1, 12), "a")] == (15.0, 0)
    assert out[(_ts(1, 18), "a")] == (50.0, 1)
    # key b: nothing before 06:00 -> leading bucket stays null
    assert out[(_ts(1, 0), "b")] == (None, 0)
    assert out[(_ts(1, 6), "b")] == (6.0, 1)
    assert out[(_ts(1, 12), "b")] == (6.0, 0)


def test_gapfill_interp_time_weighted(spark, tiny_events):
    out = {
        (r["bucket"], r["event_type"]): (r["value_interp"], r["observed"])
        for r in gapfill_interp(tiny_events).collect()
    }
    # key a: 15 @00:00 -> 50 @18:00; 06:00 = 15 + 35*(1/3), 12:00 = +2/3
    assert out[(_ts(1, 0), "a")] == (15.0, 1)
    assert out[(_ts(1, 6), "a")] == (pytest.approx(26.6667, abs=1e-4), 0)
    assert out[(_ts(1, 12), "a")] == (pytest.approx(38.3333, abs=1e-4), 0)
    assert out[(_ts(1, 18), "a")] == (50.0, 1)
    # key b: single observation -> no neighbor pair outside it
    assert out[(_ts(1, 0), "b")] == (None, 0)
    assert out[(_ts(1, 6), "b")] == (6.0, 1)
    assert out[(_ts(1, 12), "b")] == (None, 0)


def test_moving_stats_trailing_frame(spark):
    rows = [
        (i, datetime(2024, 3, 1 + i), 1, "a", float(v))
        for i, v in enumerate([10, 20, 40, 10])
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    out = sorted(
        moving_stats(df, trailing=2).collect(), key=lambda r: r["day"]
    )
    assert [r["total"] for r in out] == [10.0, 20.0, 40.0, 10.0]
    assert [r["moving_avg"] for r in out] == [10.0, 15.0, 30.0, 25.0]
    # sample stddev over the 2-row frame; first frame has n=1 -> null
    assert out[0]["moving_std"] is None
    assert out[1]["moving_std"] == pytest.approx(7.0711, abs=1e-4)


def test_ewma_truncated_weights(spark):
    rows = [
        (i, datetime(2024, 3, 1 + i), 1, "a", float(v))
        for i, v in enumerate([10, 20, 30])
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    from query_refinement_dsit_databases_2021_spark.operators.timeseries import ewma

    out = sorted(ewma(df, alpha=0.5, lookback=2).collect(), key=lambda r: r["day"])
    # day0: only itself -> 10; day1: (20 + 0.5*10)/1.5; day2: (30 + 0.5*20)/1.5
    assert [r["ewma"] for r in out] == [
        10.0,
        pytest.approx(16.666667, abs=1e-6),
        pytest.approx(26.666667, abs=1e-6),
    ]


def test_rate_of_change_irregular_axis(spark):
    rows = [
        (1, datetime(2024, 3, 1, 0, 0, 0), 7, "a", 10.0),
        (2, datetime(2024, 3, 1, 0, 0, 10), 7, "a", 15.0),  # +5 over 10s
        (3, datetime(2024, 3, 1, 0, 0, 10), 7, "a", 99.0),  # dt=0 -> dropped
        (4, datetime(2024, 3, 1, 0, 1, 10), 7, "a", 39.0),  # -60 over 60s
        (5, datetime(2024, 3, 1, 0, 0, 30), 8, "a", 1.0),  # other entity, first
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    out = {r["event_id"]: r["rate"] for r in rate_of_change(df).collect()}
    assert out == {2: 0.5, 4: -1.0}


def test_anomaly_zscore_flags_spike(spark):
    from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
        anomaly_zscore,
    )

    # 20 quiet points then a spike: with trailing=20 only row 21 has a
    # full PRECEDING window; the spike is excluded from its own
    # baseline (exclusive frame), so it cannot self-mask
    rows = [(i, _ts(1, 0, i), 1, "a", 10.0 + (i % 2)) for i in range(1, 21)]
    rows.append((21, _ts(1, 0, 21), 1, "a", 500.0))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    out = anomaly_zscore(df).collect()
    assert [r.event_id for r in out] == [21]
    assert out[0].z > 2.5 and out[0].value_r == 500.0
    # the exclusive baseline is the quiet alternation (std 50 cents,
    # mean 1050): z = (50000 - 1050) / 50 -> enormous, far beyond what
    # an inclusive frame (spike inflating its own std) would yield
    assert out[0].z > 100
    # warm-up rows are never flagged even if extreme
    assert anomaly_zscore(df.where("event_id <= 20")).count() == 0


def test_value_histogram_buckets(spark, tiny_events):
    from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
        value_histogram,
    )

    got = {
        (r.event_type, r.bucket): (r.n, r.lo_v, r.hi_v)
        for r in value_histogram(tiny_events).collect()
    }
    # a: 10, 20 -> bucket 0; 50 -> bucket 2.  b: 8, 4 -> bucket 0.
    assert got == {
        ("a", 0): (2, 10.0, 20.0),
        ("a", 2): (1, 50.0, 50.0),
        ("b", 0): (2, 4.0, 8.0),
    }


def test_percentile_rollup_boundary_cases(spark):
    # even-n and duplicate-heavy sets: pins the disc/cont index
    # formulas the DuckDB oracle must share (see percentile_rollup doc)
    from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
        percentile_rollup,
    )

    rows = [("a", v) for v in [1.0, 2.0, 3.0, 4.0]]
    rows += [("b", v) for v in [1.0, 1.0, 1.0, 2.0, 2.0, 9.0]]
    df = spark.createDataFrame(rows, "event_type string, value double")
    got = {r["event_type"]: r for r in percentile_rollup(df).collect()}
    assert (got["a"]["p50"], got["a"]["p90"], got["a"]["p99"]) == (2.0, 4.0, 4.0)
    assert got["a"]["p95_cont"] == pytest.approx(3.85)
    assert (got["b"]["p50"], got["b"]["p90"], got["b"]["p99"]) == (1.0, 9.0, 9.0)
    assert got["b"]["p95_cont"] == pytest.approx(7.25)
    assert got["a"]["n"] == 4 and got["b"]["n"] == 6


def test_time_weighted_avg_hand_checked(spark):
    """Irregular sampling: value 10 held 18h, value 2 held 6h (to the
    bucket end) -> TWA 8.0 while the naive avg is 6.0; equal-ts runs
    give all weight to the last row in tiebreak order."""
    from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
        time_weighted_avg,
    )

    rows = [
        (1, "2021-01-01 00:00:00", "a", 10.0),
        (2, "2021-01-01 18:00:00", "a", 2.0),
        # key b: duplicate timestamps — earlier tiebreak gets 0 weight
        (3, "2021-01-02 00:00:00", "b", 100.0),
        (4, "2021-01-02 00:00:00", "b", 4.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    got = {
        (str(r["bucket"]), r["event_type"]): (r["w_us"], r["twa"])
        for r in time_weighted_avg(df).collect()
    }
    day_us = 24 * 3600 * 1_000_000
    assert got[("2021-01-01 00:00:00", "a")] == (day_us, 8.0)
    assert got[("2021-01-02 00:00:00", "b")] == (day_us, 4.0)


def test_downsample_m4_keeps_extremes(spark):
    from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
        downsample_m4,
    )

    rows = [
        (i, f"2021-01-01 00:{i:02d}:00", "a", v)
        for i, v in enumerate([5.0, 1.0, 9.0, 3.0, 7.0])
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    pts = {
        (str(r["ts"]), r["value"]) for r in downsample_m4(df).collect()
    }
    # first (5.0), last (7.0), min (1.0), max (9.0) — NOT the middle 3.0
    assert pts == {
        ("2021-01-01 00:00:00", 5.0),
        ("2021-01-01 00:04:00", 7.0),
        ("2021-01-01 00:01:00", 1.0),
        ("2021-01-01 00:02:00", 9.0),
    }


def test_detect_gaps_finds_known_gap(spark):
    from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
        detect_gaps,
    )

    rows = [
        (1, _ts(1, 0), 1, "a", 1.0),
        (2, _ts(1, 0, 30), 1, "a", 1.0),
        (3, _ts(1, 3), 1, "a", 1.0),      # 2.5 h gap after row 2
        (4, _ts(1, 3, 20), 1, "a", 1.0),
        (5, _ts(1, 0), 1, "b", 1.0),      # other key: no gap
        (6, _ts(1, 0, 45), 1, "b", 1.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    got = detect_gaps(df, min_gap="1 hour").collect()
    assert len(got) == 1
    g = got[0]
    assert g["event_type"] == "a"
    assert g["gap_start"] == _ts(1, 0, 30) and g["gap_end"] == _ts(1, 3)
    assert g["gap_us"] == 2 * 3600 * 1_000_000 + 1800 * 1_000_000


def test_cross_correlation_detects_shifted_copy(spark):
    from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
        cross_correlation,
    )

    # b's daily series is a's shifted one day later -> r ~ 1.0 at lag 1
    rows = []
    eid = 0
    for d in range(12):
        v = float(10 + (d * 13) % 7)  # non-constant
        rows.append((eid, _ts(1 + d, 6), 1, "a", v)); eid += 1
        rows.append((eid, _ts(2 + d, 6), 1, "b", v)); eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    out = {r["lag"]: (r["n_days"], r["r"]) for r in
           cross_correlation(df, key_a="a", key_b="b", max_lag=3).collect()}
    n1, r1 = out[1]
    assert n1 == 12 and r1 >= 0.999999
    # other lags see a permuted pairing -> strictly smaller correlation
    assert out[0][1] < r1 and out[2][1] < r1


def test_anomaly_mad_flags_spike_not_masked(spark):
    # 40 baseline points at 10.0 plus TWO huge spikes: the spikes
    # inflate mean/std enough that z-score-style detection weakens,
    # but median/MAD (50% breakdown) still flag both cleanly
    rows = [(i, datetime(2024, 3, 1, 0, i), 1, "a", 10.0 + (0.02 * (i % 5)))
            for i in range(40)]
    rows += [(100, datetime(2024, 3, 1, 2, 0), 1, "a", 500.0),
             (101, datetime(2024, 3, 1, 2, 1), 1, "a", 480.0)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    from query_refinement_dsit_databases_2021_spark.operators.timeseries import anomaly_mad

    out = anomaly_mad(df).collect()
    assert sorted(r["event_id"] for r in out) == [100, 101]
    # robust z of the 500 spike is enormous and positive
    assert all(r["rz"] > 100 for r in out)


def test_anomaly_mad_zero_mad_guard(spark):
    # constant series: MAD = 0 -> nothing flagged (no divide, no flood)
    rows = [(i, datetime(2024, 3, 1, 0, i), 1, "a", 7.0) for i in range(10)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    from query_refinement_dsit_databases_2021_spark.operators.timeseries import anomaly_mad

    assert anomaly_mad(df).count() == 0


def test_seasonal_anomaly_uses_slot_baseline(spark):
    # hour 3 baseline is ~2.0 except one 100.0 burst; hour 12 runs at
    # 100.0 constantly. A flat threshold would flag all of hour 12;
    # the seasonal op flags only the out-of-profile 3 AM burst.
    rows = []
    eid = 0
    for day in range(1, 11):
        rows.append((eid, datetime(2024, 3, day, 3, 0), 1, "a", 2.0)); eid += 1
        rows.append((eid, datetime(2024, 3, day, 12, 0), 1, "a", 100.0)); eid += 1
    rows.append((900, datetime(2024, 3, 15, 3, 0), 1, "a", 100.0))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    from query_refinement_dsit_databases_2021_spark.operators.timeseries import seasonal_anomaly

    out = seasonal_anomaly(df).collect()
    assert [r["event_id"] for r in out] == [900]
    assert out[0]["hod"] == 3 and out[0]["ratio"] > 3


def test_level_shift_detects_step(spark):
    # 30 points at 10.0 then 30 points at 80.0: the contrast windows
    # straddling the step (and only those) fire; full-window guard
    # keeps the series edges silent
    rows = [(i, datetime(2024, 3, 1, 0, i), 1, "a", 10.0) for i in range(30)]
    rows += [(30 + i, datetime(2024, 3, 1, 1, i), 1, "a", 80.0) for i in range(30)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    from query_refinement_dsit_databases_2021_spark.operators.timeseries import level_shift

    out = level_shift(df, w=10, delta=30.0).collect()
    ids = sorted(r["event_id"] for r in out)
    # the exact-step row sees pre=10s, post=80s -> diff 70; windows
    # fully inside either level never fire
    assert 30 in ids
    assert all(10 <= i <= 49 for i in ids)
    step = next(r for r in out if r["event_id"] == 30)
    assert (step["pre_avg"], step["post_avg"]) == (10.0, 80.0)
    assert step["diff_c"] == 70000


def test_acf_lag_zero_is_one(spark):
    # registry form: autocorrelation via cross_correlation with the
    # same key on both sides — lag 0 must be exactly 1.0
    from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
        cross_correlation,
    )

    rows = [
        (i, datetime(2024, 3, 1 + i % 20, i % 24), 1, "a", float(1 + (i * 7) % 13))
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    out = {r["lag"]: r["r"] for r in cross_correlation(df, key_a="a", key_b="a", max_lag=3).collect()}
    assert out[0] == 1.0
    assert all(-1.0 <= v <= 1.0 for v in out.values())


def test_linear_trend_recovers_known_slope(spark):
    from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
        linear_trend,
    )

    # key 'up': exactly 2.0/day growth (one event per day) -> slope 2,
    # r2 = 1; key 'flat': constant -> slope 0, r2 NULL (dy = 0)
    rows = []
    for d in range(10):
        rows.append((d, datetime(2024, 3, 1 + d, 12), 1, "up", 10.0 + 2.0 * d))
        rows.append((100 + d, datetime(2024, 3, 1 + d, 12), 1, "flat", 7.0))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    out = {r["event_type"]: r for r in linear_trend(df).collect()}
    up = out["up"]
    assert (up["n_days"], up["slope"], up["intercept"], up["r2"]) == (10, 2.0, 10.0, 1.0)
    flat = out["flat"]
    assert (flat["slope"], flat["intercept"], flat["r2"]) == (0.0, 7.0, None)


def test_cusum_flattening_matches_sequential_reference(spark):
    # the prefix-sum/running-min identity must equal the textbook
    # sequential recursion S_t = max(0, S_{t-1} + d_t) exactly
    import numpy as np

    from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
        cusum_alerts,
    )

    from datetime import timedelta

    t0 = datetime(2024, 3, 1)
    rng = [(i, t0 + timedelta(minutes=i), 1, "a",
            float(10 + (i * 37) % 23)) for i in range(120)]
    # inject a sustained upward drift in the middle
    rng = [
        (i, t, u, k, v + (40.0 if 60 <= i < 90 else 0.0))
        for (i, t, u, k, v) in rng
    ]
    df = spark.createDataFrame(
        rng, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    slack, h = 15.0, 30.0
    got = {r["event_id"]: r["s"] for r in cusum_alerts(df, slack=slack, h=h).collect()}
    # sequential reference in half-cents
    c = np.floor(np.array([v for *_ , v in rng]) * 100 + 0.5)
    med = np.median(c)
    want = {}
    s = 0
    for i, ci in enumerate(c):
        d = int(2 * ci - 2 * med) - round(slack * 200)
        s = max(0, s + d)
        if s >= round(h * 200):
            want[i] = s / 200.0
    assert got == want and len(want) > 0


def test_detrended_anomaly_ignores_pure_trend(spark):
    from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
        detrended_anomaly,
    )

    # 30 days of clean 5.0/day growth with ONE day spiked far off the
    # line: a flat-baseline z-score would flag the whole recent half;
    # the detrended detector must flag exactly the spiked day
    rows = [
        (i, datetime(2024, 3, 1, 0, 0) + __import__("datetime").timedelta(days=i),
         1, "a", 100.0 + 5.0 * i + (400.0 if i == 20 else 0.0))
        for i in range(30)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    out = detrended_anomaly(df, threshold=2.0).collect()
    assert [r["x"] for r in out] == [20]
    assert out[0]["z"] > 2.0


def test_theil_sen_resists_outlier_where_ols_breaks(spark):
    from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
        linear_trend,
        theil_sen,
    )

    # 'clean': exact y = 10 + 2d; 'robust': exact y = 5 + d except one
    # wild final day -- Theil-Sen must report the uncontaminated slope
    # EXACTLY while OLS is dragged far off it
    rows = []
    for d in range(10):
        rows.append((d, datetime(2024, 3, 1 + d, 12), 1, "clean", 10.0 + 2.0 * d))
        y = 5.0 + d if d < 9 else 1000.0
        rows.append((100 + d, datetime(2024, 3, 1 + d, 12), 1, "robust", y))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    ts_out = {r["event_type"]: r for r in theil_sen(df).collect()}
    clean = ts_out["clean"]
    assert (clean["n_days"], clean["n_pairs"]) == (10, 45)
    assert (clean["slope"], clean["intercept"]) == (2.0, 10.0)
    robust = ts_out["robust"]
    assert (robust["slope"], robust["intercept"]) == (1.0, 5.0)
    ols = {r["event_type"]: r for r in linear_trend(df).collect()}
    assert ols["robust"]["slope"] > 20  # the breakdown Theil-Sen avoids


def test_holt_linear_matches_sequential_reference(spark):
    from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
        holt_linear,
    )

    # two keys: one rising, one FALLING (negative trend exercises the
    # floor-division-on-negatives contract); one single-day key that
    # must be dropped (needs >= 2 points)
    rows = []
    up = [10.0, 12.0, 15.0, 14.0, 20.0]
    down = [50.0, 40.0, 28.0, 15.0]
    for i, v in enumerate(up):
        rows.append((datetime(2024, 3, 1 + i, 9), "up", v))
    for i, v in enumerate(down):
        rows.append((datetime(2024, 3, 1 + i, 9), "down", v))
    rows.append((datetime(2024, 3, 1, 9), "lonely", 7.0))
    df = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    got = {
        r["key"]: (r["n_days"], r["level_cents"], r["trend_cents"],
                   r["forecast3_cents"])
        for r in holt_linear(df).collect()
    }

    def ref(vals, a=3, b=2):
        ys = [round(v * 100) for v in vals]
        lvl, trd = ys[0], ys[1] - ys[0]
        for y in ys[1:]:
            lt = (a * y + (10 - a) * (lvl + trd)) // 10
            trd = (b * (lt - lvl) + (10 - b) * trd) // 10
            lvl = lt
        return (len(ys), lvl, trd, lvl + 3 * trd)

    assert set(got) == {"up", "down"}
    assert got["up"] == ref(up)
    assert got["down"] == ref(down)
    assert got["down"][2] < 0  # the negative-trend case really happened


def test_lateness_profile_hand_built(spark):
    from query_refinement_dsit_databases_2021_spark.streaming.windows import (
        lateness_profile,
    )

    # user 1: arrival order 1,2,3 with event times 100s, 90s, 110s ->
    # event 2 is 10s late; user 2: monotone -> never late
    rows = [
        (1, datetime(2024, 3, 1, 0, 1, 40), 1, "click", 0.0, "{}"),
        (2, datetime(2024, 3, 1, 0, 1, 30), 1, "click", 0.0, "{}"),
        (3, datetime(2024, 3, 1, 0, 1, 50), 1, "click", 0.0, "{}"),
        (4, datetime(2024, 3, 1, 0, 0, 10), 2, "view", 0.0, "{}"),
        (5, datetime(2024, 3, 1, 0, 0, 20), 2, "view", 0.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, "
              "value double, props string"
    )
    got = {
        r["event_type"]: (r["n"], r["n_late"], r["max_late_us"], r["sum_late_us"])
        for r in lateness_profile(df).collect()
    }
    assert got == {"click": (3, 1, 10_000_000, 10_000_000),
                   "view": (2, 0, 0, 0)}


def test_lttb_selects_shape_extremes_and_passthrough(spark):
    from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
        downsample_lttb,
    )

    # 30-day sawtooth with one huge spike at day 17: LTTB must keep
    # the spike; first/last always kept; a short series passes through
    from datetime import timedelta

    rows = []
    base = datetime(2024, 3, 1, 9)
    for i in range(30):
        v = 10.0 + (i % 5)
        if i == 17:
            v = 500.0
        rows.append((base + timedelta(days=i), "long", v))
    for i in range(4):
        rows.append((base + timedelta(days=i), "short", float(i)))
    df = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    out = downsample_lttb(df, k=8).collect()
    long_days = [(r["day"] - base.date()).days for r in out if r["key"] == "long"]
    short_days = [(r["day"] - base.date()).days for r in out if r["key"] == "short"]
    assert len(long_days) == 8
    assert long_days[0] == 0 and long_days[-1] == 29
    assert 17 in long_days  # the spike survives downsampling
    assert short_days == [0, 1, 2, 3]  # <= k passes through

    # cross-check the full selection against an independent sequential
    # reference (indexed arithmetic, no pandas)
    ys = [1000 + (i % 5) * 100 if i != 17 else 50000 for i in range(30)]
    k, n = 8, 30
    buckets = [[] for _ in range(k - 2)]
    for t in range(1, n - 1):
        buckets[(t - 1) * (k - 2) // (n - 2)].append(t)
    sel, ax, ay = [0], 0, ys[0]
    for b in range(k - 2):
        if b < k - 3:
            nxt = buckets[b + 1]
            sx, sy, cnt = sum(nxt), sum(ys[t] for t in nxt), len(nxt)
        else:
            sx, sy, cnt = n - 1, ys[n - 1], 1
        best_t, best_a = -1, -1
        for t in buckets[b]:
            a2 = abs((t - ax) * (sy - ay * cnt) - (ys[t] - ay) * (sx - ax * cnt))
            if a2 > best_a:
                best_t, best_a = t, a2
        sel.append(best_t)
        ax, ay = best_t, ys[best_t]
    sel.append(n - 1)
    assert long_days == sel


def test_forecast_backtest_matches_manual_holdout(spark):
    from datetime import timedelta

    from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
        forecast_backtest,
    )

    base = datetime(2024, 3, 1, 9)
    vals = [10.0, 12.0, 11.0, 15.0, 14.0, 18.0, 17.0, 20.0, 19.0, 23.0,
            22.0, 25.0]
    rows = [(base + timedelta(days=i), "k", v) for i, v in enumerate(vals)]
    rows += [(base + timedelta(days=i), "tiny", 5.0) for i in range(4)]
    df = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    out = forecast_backtest(df, horizon=3).collect()
    got = {r["key"]: (r["n_train"], r["n_test"], r["sum_abs_err_cents"],
                      r["mae_cents"]) for r in out}
    assert "tiny" not in got  # < horizon+2 days -> dropped

    ys = [round(v * 100) for v in vals]
    train = ys[:-3]
    lvl, trd = train[0], train[1] - train[0]
    for y in train[1:]:
        lt = (3 * y + 7 * (lvl + trd)) // 10
        trd = (2 * (lt - lvl) + 8 * trd) // 10
        lvl = lt
    sae = sum(abs(lvl + (i + 1) * trd - ys[-3 + i]) for i in range(3))
    assert got["k"] == (9, 3, sae, sae // 3)


def test_sax_symbols_quartile_mapping(spark):
    from datetime import timedelta

    from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
        sax_symbols,
    )

    base = datetime(2024, 3, 1, 9)
    # 8 days with values 1..8 -> quartiles ab ab cd cd in VALUE order;
    # day order equals value order here, so sax = 'aabbccdd'
    rows = [(base + timedelta(days=i), "inc", float(i + 1)) for i in range(8)]
    # and a series where day order differs from value order:
    # days 0..3 values 4,3,2,1 -> symbols by value rank: d c b a
    rows += [(base + timedelta(days=i), "dec", float(4 - i)) for i in range(4)]
    df = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    got = {r["key"]: (r["n_days"], r["sax"]) for r in sax_symbols(df).collect()}
    assert got == {"inc": (8, "aabbccdd"), "dec": (4, "dcba")}


def test_seasonal_strength_pure_and_flat(spark):
    from datetime import datetime, timedelta

    from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
        seasonal_strength,
    )

    base = datetime(2024, 1, 1)
    rows = []
    eid = 0
    for day in range(3):
        for hod in range(24):
            ts = base + timedelta(days=day, hours=hod)
            # "pure": value fully determined by hour -> strength 1.0
            rows.append((eid, ts, 1, "pure", float(hod), "")); eid += 1
            # "flat": constant -> zero total variance -> NULL strength
            rows.append((eid, ts, 1, "flat", 7.0, "")); eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    out = {r["key"]: r for r in seasonal_strength(df).collect()}
    assert out["pure"]["seasonal_strength"] == 1.0
    assert out["pure"]["peak_hour"] == 23
    assert out["pure"]["n"] == 72
    assert out["flat"]["seasonal_strength"] is None
    assert out["flat"]["peak_hour"] == 0


def test_holt_winters_tracks_pure_seasonal_series(spark):
    from datetime import datetime, timedelta

    from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
        holt_winters,
    )

    # a perfectly periodic hourly series (period 24, zero trend): after
    # convergence the forecast for the next hour must equal that
    # hour-of-day's value and the trend must stay ~0
    base = datetime(2024, 1, 1)
    rows = []
    eid = 0
    for day in range(6):
        for hod in range(24):
            rows.append(
                (eid, base + timedelta(days=day, hours=hod), 1, "p",
                 float(10 + hod), "")
            )
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    r = holt_winters(df).collect()[0]
    assert r["n_hours"] == 144
    # next index is 144 -> phase 0 -> hour-of-day 0 -> value 10.00
    assert abs(r["fc1_cents"] - 1000) <= 30
    assert abs(r["trend_cents"]) <= 5


def test_holt_winters_needs_two_seasons(spark):
    from datetime import datetime, timedelta

    from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
        holt_winters,
    )

    base = datetime(2024, 1, 1)
    rows = [
        (i, base + timedelta(hours=i), 1, "p", 5.0, "") for i in range(30)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    assert holt_winters(df).count() == 0  # 30 < 2*24 observed buckets


def test_holt_residuals_trace_properties(spark):
    from datetime import datetime, timedelta

    from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
        holt_linear,
        holt_residuals,
    )

    base = datetime(2024, 1, 1)
    vals = [10.0, 12.0, 9.0, 15.0, 11.0, 14.0, 13.0, 16.0]
    rows = [
        (i, base + timedelta(days=i), 1, "k", v, "")
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    trace = holt_residuals(df).collect()
    assert [r["t"] for r in trace] == list(range(1, len(vals)))
    # t=1 residual is structurally zero (init peeks at y1)
    assert trace[0]["resid_cents"] == 0
    # identity: resid = y - fc on every row
    assert all(
        r["resid_cents"] == r["y_cents"] - r["fc_cents"] for r in trace
    )
    # sequential python replay of the shared recursion gives the same
    # final state the fitter reports
    fit = holt_linear(df).collect()[0]
    ys = [int(v * 100) for v in vals]
    lvl, trd = ys[0], ys[1] - ys[0]
    for y in ys[1:]:
        lt = (3 * y + 7 * (lvl + trd)) // 10
        trd = (2 * (lt - lvl) + 8 * trd) // 10
        lvl = lt
    assert (fit["level_cents"], fit["trend_cents"]) == (lvl, trd)


def test_anomaly_consensus_subset_of_each_method(spark):
    from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
        anomaly_consensus,
        anomaly_mad,
        anomaly_zscore,
        seasonal_anomaly,
    )
    from query_refinement_dsit_databases_2021_spark.workloads import register_views

    register_views(spark, "/root/testdata/sf0.001")
    ev = spark.table("events")
    cons = {r["event_id"]: r["n_methods"] for r in anomaly_consensus(ev).collect()}
    assert cons, "consensus should flag something on the real corpus"
    assert all(2 <= v <= 3 for v in cons.values())
    sets = [
        {r["event_id"] for r in fn(ev).collect()}
        for fn in (anomaly_zscore, anomaly_mad, seasonal_anomaly)
    ]
    for eid, votes in cons.items():
        assert sum(eid in s for s in sets) == votes


def test_model_select_prefers_right_forecaster(spark):
    from datetime import datetime, timedelta

    from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
        forecast_model_select,
    )

    base = datetime(2024, 1, 1)
    rows, eid = [], 0
    # key "trend": clean linear ramp -> holt should win
    # key "weekly": strong period-7 pattern, no trend -> snaive wins
    for d in range(28):
        rows.append((eid, base + timedelta(days=d), 1, "trend",
                     float(10 + 5 * d), "")); eid += 1
        rows.append((eid, base + timedelta(days=d), 1, "weekly",
                     float(100 if d % 7 == 0 else 10), "")); eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    out = {r["key"]: r for r in forecast_model_select(df).collect()}
    assert out["trend"]["winner"] == "holt"
    assert out["trend"]["mae_holt"] <= out["trend"]["mae_naive"]
    assert out["weekly"]["winner"] == "snaive"
    assert out["weekly"]["mae_snaive"] == 0


def test_dominant_period_finds_planted_cycle(spark):
    from datetime import datetime, timedelta

    from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
        dominant_period,
    )

    base = datetime(2024, 1, 1)
    rows, eid = [], 0
    for d in range(40):
        # period-5 sawtooth with small per-day jitter from d itself
        v = float(100 * (d % 5) + 10)
        rows.append((eid, base + timedelta(days=d), 1, "p5", v, "")); eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    out = {r["key"]: r for r in dominant_period(df).collect()}
    assert out["p5"]["best_lag"] == 5
    assert out["p5"]["acf"] > 0.99


def test_acf_profile_shape_matches_argmax(spark):
    from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
        acf_profile,
        dominant_period,
    )
    from query_refinement_dsit_databases_2021_spark.workloads import register_views

    register_views(spark, "/root/testdata/sf0.001")
    ev = spark.table("events")
    prof = acf_profile(ev).collect()
    best = {r["key"]: (r["best_lag"], r["acf"]) for r in dominant_period(ev).collect()}
    by_key = {}
    for r in prof:
        by_key.setdefault(r["key"], []).append((r["acf"], -r["lag"], r["lag"]))
    for key, (blag, bacf) in best.items():
        top = max(by_key[key])
        assert (top[2], top[0]) == (blag, bacf)


def test_stl_decompose_identities_and_periodic_residual(spark):
    """STL exactness contract on a constructed series: (1) the exact
    identities 7*c == trend_sum + detr and detr*seas_den == seas_num +
    resid_scaled hold on every row; (2) edge days (incomplete centered
    window) are absent; (3) a perfectly weekly-periodic series has
    zero residual on interior days once the trend window spans whole
    periods."""
    from datetime import datetime

    from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
        STL_HALF,
        stl_decompose,
    )

    # 28 days, value = weekday profile (period 7) -> constant 7-day sums
    rows = [
        (i, datetime(2024, 1, 1 + i), 1, "a", float(10 + (i % 7)))
        for i in range(28)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    out = stl_decompose(df).collect()
    width = 2 * STL_HALF + 1
    days = sorted(r["day"].day for r in out)
    # 28 days, half=3 gated -> days 4..25 of January
    assert days[0] == 1 + STL_HALF and days[-1] == 28 - STL_HALF
    for r in out:
        assert width * r["c_cents"] == r["trend_sum"] + r["detr"]
        assert (
            r["detr"] * r["seas_den"] == r["seas_num"] + r["resid_scaled"]
        )
        # perfect weekly periodicity: the 7-day centered sum is constant,
        # the detrended value depends only on dow -> residual exactly 0
        assert r["resid_scaled"] == 0, r


def test_mann_kendall_direction_ties_and_constant(spark):
    from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
        mann_kendall,
    )

    # 'up': strictly increasing (S = 45, no ties); 'down': strictly
    # decreasing (S = -45); 'tied': [1, 1, 2] exercises the tie
    # correction by hand; 'flat': all ties -> var18 = 0 -> excluded
    rows = []
    for d in range(10):
        rows.append((d, datetime(2024, 3, 1 + d, 12), 1, "up", float(d)))
        rows.append((20 + d, datetime(2024, 3, 1 + d, 12), 1, "down", float(-d)))
        rows.append((40 + d, datetime(2024, 3, 1 + d, 12), 1, "flat", 7.0))
    for d, v in enumerate([1.0, 1.0, 2.0]):
        rows.append((60 + d, datetime(2024, 3, 1 + d, 12), 1, "tied", v))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    out = {r["event_type"]: r for r in mann_kendall(df).collect()}
    assert "flat" not in out  # zero variance: no trend call possible
    up = out["up"]
    # n=10: var18 = 10*9*25 = 2250; z = 44/sqrt(125) = 3.935479...
    assert (up["s_stat"], up["var18"], up["trend"]) == (45, 2250, "increasing")
    assert up["z"] == 3.935480
    down = out["down"]
    assert (down["s_stat"], down["trend"]) == (-45, "decreasing")
    assert down["z"] == -up["z"]
    tied = out["tied"]
    # n=3: 3*2*11 = 66, one tie group t=2 -> 18; S = 0+1+1 = 2
    # z = (2-1)/sqrt(48/18) = 0.612372...
    assert (tied["s_stat"], tied["var18"], tied["trend"]) == (2, 48, "no_trend")
    assert tied["z"] == 0.612372


def test_ar1_recovers_exact_recurrence(spark):
    from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
        ar1_forecast,
    )

    # 'geo': y_t = 50 + 2*y_{t-1} cents exactly (100, 250, 550, 1150)
    # -> OLS must recover slope=2, intercept=$0.50, forecast $23.50;
    # 'flat': constant series -> zero lag-variance -> excluded
    vals = [1.00, 2.50, 5.50, 11.50]
    rows = [
        (d, datetime(2024, 3, 1 + d, 12), 1, "geo", v) for d, v in enumerate(vals)
    ] + [(10 + d, datetime(2024, 3, 1 + d, 12), 1, "flat", 3.0) for d in range(4)]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    out = {r["event_type"]: r for r in ar1_forecast(df).collect()}
    assert "flat" not in out
    geo = out["geo"]
    assert geo["n_pairs"] == 3
    assert (geo["slope"], geo["intercept"], geo["forecast"]) == (2.0, 0.5, 23.5)


def test_winsorized_mean_tames_outlier(spark):
    from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
        winsorized_mean,
    )

    # 19 values of 10.00 plus one wild 10000.00: raw mean ~ 509.5,
    # winsorized mean clamps the spike to the p90 (=1000 cents) ->
    # (19*1000 + 1000)/20 = 1000 cents = 10.00 exactly
    rows = [
        (i, datetime(2024, 3, 1, 12, i), 1, "a", 10.0) for i in range(19)
    ] + [(99, datetime(2024, 3, 1, 12, 59), 1, "a", 10000.0)]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    r = winsorized_mean(df).collect()[0]
    assert (r["n"], r["lo_cents"], r["hi_cents"]) == (20, 1000, 1000)
    assert r["win_mean_micro"] == 10_000_000  # $10 in micro-dollars
    assert r["raw_mean_micro"] == (19 * 1000 + 1_000_000) * 10000 // 20


def test_anomaly_episodes_group_adjacent_hours(spark):
    from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
        anomaly_episodes,
    )

    # 40 quiet points spread across hours 0..3, plus spikes in hours
    # 1 and 2 (adjacent -> ONE episode) and hour 9 (its own episode)
    rows = [
        (i, datetime(2024, 3, 1, i % 4, (7 * i) % 60), 1, "a", 10.0 + (i % 3))
        for i in range(40)
    ]
    rows += [
        (100, datetime(2024, 3, 1, 1, 30), 1, "a", 900.0),
        (101, datetime(2024, 3, 1, 2, 10), 1, "a", 910.0),
        (102, datetime(2024, 3, 1, 2, 40), 1, "a", 920.0),
        (103, datetime(2024, 3, 1, 9, 5), 1, "a", 930.0),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    eps = anomaly_episodes(df).collect()
    assert len(eps) == 2
    first, second = eps
    assert first["end_h"] - first["start_h"] == 1  # hours 1+2 fused
    assert (first["n_hours"], first["n_events"]) == (2, 3)
    assert (second["n_hours"], second["n_events"]) == (1, 1)


def test_percentile_bands_daily_exact(spark):
    from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
        percentile_bands_daily,
    )

    # day 1: values 1..20 -> p50 = 10.00 (disc), p95 = 19.00
    rows = [
        (i, datetime(2024, 3, 1, 0, i), 1, "a", float(i + 1))
        for i in range(20)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    r = percentile_bands_daily(df).collect()[0]
    assert (r["n"], r["p50_cents"], r["p95_cents"]) == (20, 1000, 1900)


def test_ewma_crossover_detects_trend_flip(spark):
    """A series that trends up then collapses produces exactly one
    downward cross (fast EWMA reacts first); a monotone key produces
    none. Hand-constructed daily values, one event per day."""
    from datetime import datetime

    from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
        ewma_crossover,
    )

    rows = []
    # key 'flip': rises 10..60 then drops to 1s -> one down-cross
    vals = [10.0, 20.0, 30.0, 40.0, 50.0, 60.0, 1.0, 1.0, 1.0, 1.0]
    for i, v in enumerate(vals):
        rows.append((i, datetime(2024, 1, 1 + i), 1, "flip", v))
    # key 'mono': strictly rising -> fast stays above slow, no cross
    for i in range(10):
        rows.append((100 + i, datetime(2024, 1, 1 + i), 1, "mono", 10.0 * (i + 1)))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    got = [(r["event_type"], r["day"].isoformat(), r["direction"])
           for r in ewma_crossover(df).collect()]
    assert all(k == "flip" for k, _, _ in got), got
    downs = [g for g in got if g[2] == -1]
    assert len(downs) == 1 and downs[0][1] == "2024-01-07", got


def test_changepoint_cusum_locates_level_shift(spark):
    """A series that jumps 10 -> 50 on day 6 puts the argmax of
    |n*P_t - t*T| exactly at day 5 (the last pre-shift day); pre/post
    floor-div means recover the two levels."""
    from datetime import datetime

    from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
        changepoint_cusum,
    )

    rows = []
    for i in range(10):
        v = 10.0 if i < 5 else 50.0
        rows.append((i, datetime(2024, 3, 1 + i), 1, "shift", v))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    row = changepoint_cusum(df).collect()[0]
    assert row["cp_day"].isoformat() == "2024-03-05"
    assert row["pre_mean_cents"] == 1000
    assert row["post_mean_cents"] == 5000


def test_matrix_profile_finds_planted_discord(spark):
    """A perfectly period-8 series has an exact twin for every window
    (nn_d2 = 0 everywhere); corrupting positions 100-103 makes exactly
    the windows overlapping the spike unable to find a close neighbor.
    The top discord must overlap the corruption, and a clean window's
    profile entry must be 0."""
    from datetime import datetime, timedelta

    from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
        matrix_profile_discords,
    )

    t0 = datetime(2024, 1, 1)
    rows = []
    for i in range(512):
        v = 10.0 + (i % 8)
        if 100 <= i <= 103:
            v = 99.0
        rows.append((i, t0 + timedelta(minutes=i), 1, "click", v, "{}"))
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    got = matrix_profile_discords(events, m=8, band=64, cap=512, top=5).collect()
    assert len(got) == 5
    top = got[0]
    # top discord window overlaps the corrupted span [100, 103]
    assert top["i"] <= 103 and top["i"] + 7 >= 100, top
    assert top["nn_d2"] > 0
    # every reported discord here overlaps the spike (the rest of the
    # series is exactly periodic, nn_d2 = 0, so it can't outrank them)
    for r in got:
        assert r["i"] <= 103 and r["i"] + 7 >= 100, r


def test_ljung_box_matches_python_reference(spark):
    """Q and the whiteness flag recomputed in plain Python from the
    (already certified) holt residuals must agree with the in-engine
    statistic to the same 6 dp on the sf0.001 events."""
    from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
        LB_CRIT_MICRO,
        LB_LAGS,
        holt_residuals,
        ljung_box,
    )
    from query_refinement_dsit_databases_2021_spark.workloads import (
        register_views,
    )

    register_views(spark, "/root/testdata/sf0.001")
    events = spark.table("events")
    per_key: dict[str, list[int]] = {}
    for r in holt_residuals(events).orderBy("key", "t").collect():
        per_key.setdefault(r["key"], []).append(int(r["resid_cents"]))

    want = {}
    for key, es in per_key.items():
        n = len(es)
        if n <= LB_LAGS:
            continue
        s, ss = sum(es), sum(x * x for x in es)
        d = n * n * ss - n * s * s
        q = 0.0
        for k in range(1, LB_LAGS + 1):
            p = sum(es[t] * es[t + k] for t in range(n - k))
            hd = sum(es[: n - k])
            tl = sum(es[k:])
            a = n * n * p - n * s * (hd + tl) + (n - k) * s * s
            q += (a / d) ** 2 / (n - k)
        q = round(n * (n + 2) * q, 6)
        want[key] = (n, q, q < LB_CRIT_MICRO / 1e6)

    got = {
        r["key"]: (r["n"], r["q_stat"], r["white_noise"])
        for r in ljung_box(events).collect()
    }
    assert got == want, (got, want)
    assert got  # non-empty


def test_dtw_matches_python_dp(spark):
    """The nested-fold DTW must equal a plain-Python DP on hand
    series, including the alignment-elastic case where lock-step L2
    would overpenalize a shifted copy."""
    from datetime import datetime, timedelta

    from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
        dtw_distances,
    )

    def dtw_ref(a, b):
        inf = float("inf")
        prev = [0] + [inf] * len(b)
        for ai in a:
            cur = [inf]
            for j, bj in enumerate(b, start=1):
                cur.append(abs(ai - bj) + min(prev[j], cur[j - 1], prev[j - 1]))
            prev = cur
        return prev[-1]

    t0 = datetime(2024, 1, 1)
    rows = []
    series = {
        "a": [1.0, 2.0, 3.0, 4.0, 3.0],
        "b": [1.0, 1.0, 2.0, 3.0, 4.0],  # 'a' delayed one step
        "c": [9.0, 1.0, 9.0, 1.0, 9.0],
    }
    for key, vals in series.items():
        for d, v in enumerate(vals):
            rows.append((len(rows), t0 + timedelta(days=d), 1, key, v, "{}"))
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    got = {
        (r["key_a"], r["key_b"]): (r["n_a"], r["n_b"], r["dtw_cents"])
        for r in dtw_distances(events).collect()
    }
    cents = {k: [int(v * 100) for v in vs] for k, vs in series.items()}
    want = {
        (ka, kb): (len(cents[ka]), len(cents[kb]), dtw_ref(cents[ka], cents[kb]))
        for ka in cents
        for kb in cents
        if ka < kb
    }
    assert got == want, (got, want)
    # the shifted copy aligns nearly free: far cheaper than vs 'c'
    assert got[("a", "b")][2] < got[("a", "c")][2]


def test_dtw_paa_strategy_switch_and_exactness(spark):
    """The r06-item-8 strategy switch, pinned on both sides of the
    threshold: short series -> exact DP (auto == dtw_distances
    bit-for-bit, and a short hourly series == a plain-Python DP);
    past DTW_MAX_EXACT_LEN the probe says "paa" and the PAA fold
    reproduces a plain-Python PAA+DP reference exactly (floor means,
    integer cents)."""
    from datetime import datetime, timedelta

    from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
        dtw_distances,
        dtw_distances_auto,
        dtw_distances_paa,
        pick_dtw_strategy,
    )

    t0 = datetime(2024, 1, 1)

    def mk(series, step=timedelta(days=1)):
        rows = []
        for key, vals in series.items():
            for d, v in enumerate(vals):
                rows.append((len(rows), t0 + d * step, 1, key, v, "{}"))
        return spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        )

    short = mk({"a": [1.0, 2.0, 3.0], "b": [3.0, 2.0, 1.0]})
    assert pick_dtw_strategy(short) == ("exact", 3)
    want = [tuple(r) for r in dtw_distances(short).collect()]
    got = [tuple(r) for r in dtw_distances_auto(short).collect()]
    assert got == want

    # 600-day series crosses the 512 threshold -> paa; verify the
    # PAA fold against a python reference (k=8 segments)
    long_series = {
        "x": [float((i * 7) % 23) for i in range(600)],
        "y": [float((i * 5) % 19) for i in range(600)],
    }
    long_df = mk(long_series)
    strategy, n = pick_dtw_strategy(long_df)
    assert (strategy, n) == ("paa", 600)

    def paa_ref(vals, k):
        cents = [int(v * 100) for v in vals]
        n = len(cents)
        out = []
        for b in range(k):
            lo, hi = b * n // k, (b + 1) * n // k
            seg = cents[lo:hi]
            out.append(sum(seg) // max(len(seg), 1))
        return out

    def dtw_ref(a, b):
        inf = float("inf")
        prev = [0] + [inf] * len(b)
        for ai in a:
            cur = [inf]
            for j, bj in enumerate(b, start=1):
                cur.append(abs(ai - bj) + min(prev[j], cur[j - 1], prev[j - 1]))
            prev = cur
        return prev[-1]

    got = dtw_distances_paa(long_df, k=8).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["key_a"], r["key_b"], r["n_a"], r["n_b"]) == ("x", "y", 600, 600)
    assert r["dtw_cents"] == dtw_ref(
        paa_ref(long_series["x"], 8), paa_ref(long_series["y"], 8)
    )

    # a short hourly series takes the exact branch on the hour bucket
    hourly = {"p": [1.0, 4.0, 2.0, 8.0], "q": [2.0, 2.0, 5.0]}
    got = dtw_distances_auto(
        mk(hourly, timedelta(hours=1)), bucket="hour"
    ).collect()
    cents = {k: [int(v * 100) for v in vs] for k, vs in hourly.items()}
    assert [tuple(r) for r in got] == [
        ("p", "q", 4, 3, dtw_ref(cents["p"], cents["q"]))
    ]


def test_matrix_profile_auto_switch_covers_full_series(spark):
    """Within cap the auto profile IS the exact profile (factor 1);
    past cap it PAA-compresses the WHOLE series (factor = ceil(n/cap))
    instead of truncating, so a discord planted BEYOND the exact
    path's cap horizon is still found."""
    from datetime import datetime, timedelta

    from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
        matrix_profile_discords,
        matrix_profile_discords_auto,
    )

    t0 = datetime(2024, 1, 1)

    def mk(n, spike_at=None):
        rows = []
        for i in range(n):
            v = 10.0 + (i % 8)
            if spike_at is not None and spike_at <= i <= spike_at + 15:
                v = 99.0
            rows.append((i, t0 + timedelta(minutes=i), 1, "click", v, "{}"))
        return spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        )

    small = mk(256, spike_at=100)
    df, strategy, factor = matrix_profile_discords_auto(
        small, m=8, band=64, cap=512, top=3
    )
    assert (strategy, factor) == ("exact", 1)
    want = [tuple(r) for r in
            matrix_profile_discords(small, m=8, band=64, cap=512, top=3)
            .collect()]
    assert [tuple(r) for r in df.collect()] == want

    # 2048-long series, spike at 1500 — PAST the cap=512 horizon the
    # exact path truncates to; factor = 4, spike lands near PAA i=375
    big = mk(2048, spike_at=1500)
    df, strategy, factor = matrix_profile_discords_auto(
        big, m=8, band=64, cap=512, top=3
    )
    assert (strategy, factor) == ("paa", 4)
    top = df.collect()[0]
    assert top["nn_d2"] > 0
    assert 1500 // 4 - 8 <= top["i"] <= (1500 + 15) // 4, top
