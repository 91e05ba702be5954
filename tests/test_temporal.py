"""As-of and range join semantics: at-or-before ties, missing
predecessors, band boundaries."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import temporal
from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import temporal as TP


def test_asof_join_at_or_before(spark):
    left = spark.createDataFrame(
        [(1, 100, 5), (2, 100, 10), (3, 100, 15), (4, 200, 7)],
        "event_id int, user_id int, ts long",
    )
    right = spark.createDataFrame(
        [(100, 5, 1.0), (100, 12, 2.0), (200, 99, 9.0)],
        "user_id int, ts long, value double",
    )
    out = {
        r.event_id: r.value_asof
        for r in temporal.asof_join(left, right, on="ts", by="user_id", value_cols=["value"]).collect()
    }
    assert out[1] == 1.0   # tie at ts=5 → "at or before" includes it
    assert out[2] == 1.0   # ts=10: latest right is ts=5
    assert out[3] == 2.0   # ts=15: right at 12 supersedes 5
    assert out[4] is None  # no predecessor for user 200


def test_asof_join_duplicate_right_timestamps_deterministic(spark):
    """Multiple right rows at the SAME (key, ts): the carried value must
    be the greatest value tuple (the documented tie rule) and identical
    across physical layouts — partition order must not leak through."""
    left = spark.createDataFrame([(1, 100, 10)], "event_id int, user_id int, ts long")
    dup_rows = [(100, 5, float(v)) for v in (3, 1, 2)]
    for n_parts in (1, 3):
        right = spark.createDataFrame(
            dup_rows, "user_id int, ts long, value double"
        ).repartition(n_parts)
        out = temporal.asof_join(
            left, right, on="ts", by="user_id", value_cols=["value"]
        ).collect()
        assert out[0].value_asof == 3.0, f"n_parts={n_parts}"


def test_asof_join_keeps_left_columns(spark):
    left = spark.createDataFrame([(1, 7, 10, "x")], "id int, k int, ts long, tag string")
    right = spark.createDataFrame([(7, 3, 0.5)], "k int, ts long, v double")
    row = temporal.asof_join(left, right, on="ts", by="k", value_cols=["v"]).collect()[0]
    assert (row.id, row.k, row.ts, row.tag, row.v_asof) == (1, 7, 10, "x", 0.5)


def test_range_join_band_boundaries(spark):
    facts = spark.createDataFrame(
        [(1, 0.0), (2, 49.9), (3, 50.0), (4, 150.0)], "id int, price double"
    )
    bands = spark.createDataFrame(
        [(0.0, 50.0, "low"), (50.0, 150.0, "mid")], "lo double, hi double, band string"
    )
    got = {
        r.id: r.band
        for r in temporal.range_join_bands(facts, bands, value_col="price").collect()
    }
    assert got == {1: "low", 2: "low", 3: "mid", 4: None}  # [lo, hi): 50→mid, 150→no band


def test_range_join_is_broadcast(spark):
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.plans.explain import (
        assert_plan_contains,
    )

    facts = spark.range(100).select(F.col("id"), (F.col("id") * 1.0).alias("price"))
    bands = spark.createDataFrame([(0.0, 50.0, "low")], "lo double, hi double, band string")
    df = temporal.range_join_bands(facts, bands, value_col="price")
    assert_plan_contains(df, "BroadcastNestedLoopJoin")


def test_similar_series_correlation_ranking(spark):
    import datetime as dt

    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators.temporal import (
        similar_series,
    )

    rows = []
    # q: 1,2,3,4 events on 4 days; "up" follows it (2,4,6,8);
    # "down" inverts (4,3,2,1); "flat" constant (no variance -> NULL corr);
    # "sparse" overlaps 2 days only (dropped by min_overlap)
    for d, n in ((1, 1), (2, 2), (3, 3), (4, 4)):
        rows += [("q", dt.datetime(2024, 1, d, 12))] * n
        rows += [("up", dt.datetime(2024, 1, d, 12))] * (2 * n)
        rows += [("down", dt.datetime(2024, 1, d, 12))] * (5 - n)
        rows += [("flat", dt.datetime(2024, 1, d, 12))] * 2
    rows += [("sparse", dt.datetime(2024, 1, 1, 12))] * 3
    rows += [("sparse", dt.datetime(2024, 1, 2, 12))] * 1
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    got = similar_series(df, "q", k=5, min_overlap=3).collect()
    assert [r.key for r in got] == ["up", "down"]
    assert got[0].corr == pytest.approx(1.0)
    assert got[1].corr == pytest.approx(-1.0)
    assert got[0].n_days == 4


def test_mad_anomaly_robust_to_single_spike(spark):
    import datetime as dt

    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators.temporal import (
        mad_anomaly,
    )

    rows = []
    # 7 quiet days of 10 events + one 100-event spike: MAD stays 0-ish?
    # use slight variation so MAD > 0: counts 9,10,11,10,9,11,10 then 100
    counts = [9, 10, 11, 10, 9, 11, 10, 100]
    for d, n in enumerate(counts, start=1):
        rows += [("a", dt.datetime(2024, 1, d, 12))] * n
    # flat key: identical daily counts -> MAD = 0 -> NULL mz, no alarm
    for d in range(1, 4):
        rows += [("flat", dt.datetime(2024, 1, d, 12))] * 5
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    got = {(r.event_type, str(r.day)): r for r in mad_anomaly(df).collect()}
    spike = got[("a", "2024-01-08")]
    assert spike.is_anomaly and spike.mz > 3.5
    # quiet days unflagged (median 10, MAD 0.5 -> |mz| <= 1.35)
    assert not got[("a", "2024-01-01")].is_anomaly
    f = got[("flat", "2024-01-01")]
    assert f.mz is None and f.is_anomaly is False


def test_negative_samples_deterministic_and_excludes_positives(spark):
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators.sampling import (
        negative_samples,
    )

    corpus = spark.createDataFrame([(i,) for i in range(30)], "vec_id long")
    pos = spark.createDataFrame(
        [(1, 1), (1, 5), (2, 2)], "qid long, vec_id long"
    )
    a = negative_samples(pos, corpus, k=4).collect()
    b = negative_samples(pos, corpus, k=4).collect()
    ka = {(r.qid, r.rank): r.vec_id for r in a}
    kb = {(r.qid, r.rank): r.vec_id for r in b}
    assert ka == kb                       # deterministic
    by_q = {}
    for r in a:
        by_q.setdefault(r.qid, set()).add(r.vec_id)
    assert by_q[1].isdisjoint({1, 5}) and 2 not in by_q[2]
    assert len(by_q[1]) == 4 and len(by_q[2]) == 4
    # partitioning must not change the draw
    c = {(r.qid, r.rank): r.vec_id
         for r in negative_samples(pos, corpus.repartition(7), k=4).collect()}
    assert c == ka


# ---------------------------------------------------------------------------
# CUSUM change points
# ---------------------------------------------------------------------------


def _cusum_events(spark, counts):
    import datetime

    rows = []
    for i, c in enumerate(counts):
        day = datetime.datetime(2024, 1, 1 + i, 12, 0)
        rows += [("t", day)] * c
    return spark.createDataFrame(rows, "event_type string, ts timestamp")


def test_cusum_matches_sequential_recurrence(spark):
    import statistics

    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators.temporal import (
        cusum_changepoints,
    )

    counts = [10, 12, 9, 11, 10, 14, 15, 16, 15, 17]
    ev = _cusum_events(spark, counts)
    got = {str(r.day): (r.s_up, r.s_down)
           for r in cusum_changepoints(ev, slack=0.25, threshold=3.0).collect()}
    mu = statistics.mean(counts)
    sd = statistics.stdev(counts)
    su = sdn = 0.0
    for i, c in enumerate(counts):
        d = (c - mu) / sd
        su = max(0.0, su + d - 0.25)
        sdn = max(0.0, sdn - d - 0.25)
        day = f"2024-01-{i + 1:02d}"
        assert abs(got[day][0] - su) < 1e-9, (day, got[day], su)
        assert abs(got[day][1] - sdn) < 1e-9


def test_cusum_flags_sustained_shift_not_single_spike(spark):
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators.temporal import (
        cusum_changepoints,
    )

    # one big spike in a flat series: zscore territory, CUSUM stays calm
    spike = _cusum_events(spark, [10, 10, 10, 30, 10, 10, 10, 10])
    assert not any(
        r.is_change for r in cusum_changepoints(spike, threshold=3.0).collect()
    )
    # sustained half-sigma-ish level shift: CUSUM alarms eventually
    shift = _cusum_events(spark, [10, 10, 10, 10, 13, 13, 13, 13, 13, 13, 13, 13])
    assert any(
        r.is_change for r in cusum_changepoints(shift, threshold=3.0).collect()
    )


def test_cusum_flat_series_never_alarms(spark):
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators.temporal import (
        cusum_changepoints,
    )

    flat = _cusum_events(spark, [10] * 8)
    rows = cusum_changepoints(flat).collect()
    assert rows and not any(r.is_change for r in rows)


def test_gap_fill_known(spark):
    import datetime as dt

    d = dt.date
    rows = [
        (1, d(2024, 1, 1), 10.0),
        (1, d(2024, 1, 4), 40.0),
        (2, d(2024, 2, 1), 5.0),
    ]
    df = spark.createDataFrame(rows, "k int, day date, y double")
    out = {
        (r.k, str(r.day)): (r.y, r.y_filled, r.is_gap)
        for r in TP.gap_fill(df, "k").collect()
    }
    assert len(out) == 5  # 4 days for key 1, 1 day for key 2
    assert out[(1, "2024-01-02")] == (None, 10.0, True)
    assert out[(1, "2024-01-03")] == (None, 10.0, True)
    assert out[(1, "2024-01-04")] == (40.0, 40.0, False)
    assert out[(2, "2024-02-01")] == (5.0, 5.0, False)


def test_ewma_known(spark):
    import datetime as dt

    d = dt.date
    rows = [(1, d(2024, 1, 1), 8.0), (1, d(2024, 1, 2), 4.0), (1, d(2024, 1, 3), 0.0)]
    df = spark.createDataFrame(rows, "k int, day date, y double")
    out = [r.ewma for r in TP.ewma_smooth(df, "k", alpha=0.5).orderBy("day").collect()]
    # s0=8, s1=0.5*4+0.5*8=6, s2=0.5*0+0.5*6=3
    assert out == [8.0, 6.0, 3.0]


def test_holt_known(spark):
    import datetime as dt

    d = dt.date
    # perfectly linear series: level tracks, trend = slope, forecast exact
    rows = [(1, d(2024, 1, i + 1), float(10 + 3 * i)) for i in range(6)]
    rows.append((2, d(2024, 1, 1), 99.0))  # single obs: dropped
    df = spark.createDataFrame(rows, "k int, day date, y double")
    res = TP.holt_forecast(df, "k", alpha=0.5, beta=0.25, horizon=3).collect()
    assert {r.k for r in res} == {1}
    by_h = {r.h: r for r in res}
    assert abs(by_h[1].trend - 3.0) < 1e-9
    assert abs(by_h[1].level - 25.0) < 1e-9
    for h in (1, 2, 3):
        assert abs(by_h[h].forecast - (25.0 + 3.0 * h)) < 1e-9


def test_rolling_corr_perfect_and_flat(spark):
    import datetime as dt

    rows = [(dt.date(2024, 1, i + 1), i * 2, i * 6) for i in range(10)]
    df = spark.createDataFrame(rows, "day date, x long, y long")
    out = TP.rolling_corr(df, "x", "y", window_days=5).orderBy("day").collect()
    # y = 3x exactly: corr 1 everywhere a 2+ day frame exists
    assert out[0].corr is None  # single-row frame: zero variance
    assert all(abs(r.corr - 1.0) < 1e-12 for r in out[1:])
    assert out[-1].n_window == 5
    flat = spark.createDataFrame(
        [(dt.date(2024, 1, i + 1), 7, i) for i in range(5)], "day date, x long, y long"
    )
    assert all(
        r.corr is None for r in TP.rolling_corr(flat, "x", "y", window_days=5).collect()
    )


def test_lead_lag_planted_shift(spark):
    import datetime as dt
    import random

    rnd = random.Random(7)
    base = [rnd.randrange(100) for _ in range(40)]
    rows = []
    for i in range(40):
        x = base[i]
        y = base[i - 2] if i >= 2 else rnd.randrange(100)  # y lags x by 2
        rows.append((dt.date(2024, 1, 1) + dt.timedelta(days=i), x, y))
    df = spark.createDataFrame(rows, "day date, x long, y long")
    out = {r.lag: r for r in TP.lead_lag_scan(df, "x", "y", max_lag=4).collect()}
    assert len(out) == 9
    best = [lag for lag, r in out.items() if r.is_best]
    # x at t matches y at t+2: best positive lag 2 (x leads y)
    assert best == [2]
    assert abs(out[2].corr - 1.0) < 0.05


def test_burn_rate_multiwindow(spark):
    import datetime as dt

    # 10 hours of 100 events; hours 6-7 burn hard (50% errors, budget 10%)
    rows = []
    base = dt.datetime(2024, 1, 1)
    for h in range(10):
        bad = 50 if h in (6, 7) else 2
        for i in range(100):
            rows.append((base + dt.timedelta(hours=h, seconds=i), i < bad))
    df = spark.createDataFrame(rows, "ts timestamp, is_err boolean")
    out = {
        int(r.hour - rows[0][0].timestamp() // 3600): r
        for r in TP.burn_rate_alerts(
            df, "is_err", budget=0.10, short_h=1, long_h=4, factor=1.5
        ).collect()
    }
    # quiet hours: short burn = 0.02/0.10 = 0.2, no alert
    assert abs(out[2].burn_short - 0.2) < 1e-12 and not out[2].alert
    # hour 6: short burn 5.0; long window (3..6) = (2+2+2+50)/400/0.1 = 1.4 -> NOT both over 1.5
    assert abs(out[6].burn_short - 5.0) < 1e-12
    assert abs(out[6].burn_long - 1.4) < 1e-12
    assert not out[6].alert
    # hour 7: long window (4..7) = (2+2+50+50)/400/0.1 = 2.6 -> both over: alert
    assert out[7].alert
    # hour 9: short burn back to 0.2 -> page ends though long still elevated
    assert not out[9].alert


def test_acf_via_lead_lag_self(spark):
    import datetime as dt

    rows = [(dt.date(2024, 1, i + 1), (i * 37) % 11) for i in range(30)]
    df = spark.createDataFrame(rows, "day date, y long")
    out = {r.lag: r.corr for r in TP.lead_lag_scan(df, "y", "y", max_lag=3).collect()}
    assert abs(out[0] - 1.0) < 1e-12          # lag 0: series vs itself
    assert abs(out[-2] - out[2]) < 1e-12      # ACF symmetry


def test_pacf_ar1_signature(spark):
    # AR(1) theory: rho_k = a^k  ->  PACF = (a, 0, 0, ...)
    a = 0.6
    acf = spark.createDataFrame(
        [(k, a**k) for k in range(0, 5)], "lag int, corr double"
    )
    out = {r.lag: r.pacf for r in TP.pacf_from_acf(acf, max_lag=4).collect()}
    assert abs(out[1] - a) < 1e-12
    for k in (2, 3, 4):
        assert abs(out[k]) < 1e-12
    # numpy Durbin-Levinson replica on arbitrary rho
    import numpy as np

    rho = [1.0, 0.5, 0.3, -0.1, 0.2]
    acf2 = spark.createDataFrame(
        list(enumerate(rho)), "lag int, corr double"
    )
    got = {r.lag: r.pacf for r in TP.pacf_from_acf(acf2, max_lag=4).collect()}
    phi = {1: {1: rho[1]}}
    for k in range(2, 5):
        prev = phi[k - 1]
        num = rho[k] - sum(prev[j] * rho[k - j] for j in range(1, k))
        den = 1.0 - sum(prev[j] * rho[j] for j in range(1, k))
        kk = num / den
        phi[k] = {j: prev[j] - kk * prev[k - j] for j in range(1, k)}
        phi[k][k] = kk
    for k in range(1, 5):
        assert abs(got[k] - phi[k][k]) < 1e-12, k


def test_holt_fitted_path_consistent(spark):
    import datetime as dt

    # perfectly linear series: one-step predictions are exact, resid 0
    rows = [(1, dt.date(2024, 1, i + 1), float(10 + 3 * i)) for i in range(6)]
    df = spark.createDataFrame(rows, "k int, day date, y double")
    out = TP.holt_fitted(df, "k", alpha=0.5, beta=0.25).orderBy("day").collect()
    assert len(out) == 5  # t = 2..6
    assert all(abs(r.resid) < 1e-9 for r in out)
    # replica on a noisy series: fold state path matches hand recursion,
    # and the LAST state equals holt_forecast's (level, trend)
    ys = [4.0, 7.0, 5.0, 12.0, 9.0, 11.0]
    rows2 = [(2, dt.date(2024, 2, i + 1), y) for i, y in enumerate(ys)]
    df2 = spark.createDataFrame(rows2, "k int, day date, y double")
    a, b_ = 0.5, 0.25
    l, b = ys[0], ys[1] - ys[0]
    fitted = []
    for t in range(1, len(ys)):
        fitted.append(l + b)
        nl = ys[t] * a + (l + b) * (1 - a)
        b = (nl - l) * b_ + b * (1 - b_)
        l = nl
    got = TP.holt_fitted(df2, "k", alpha=a, beta=b_).orderBy("day").collect()
    for r, f in zip(got, fitted):
        assert abs(r.fitted - f) < 1e-12
    fc = TP.holt_forecast(df2, "k", alpha=a, beta=b_, horizon=1).collect()[0]
    assert abs(fc.level - l) < 1e-12 and abs(fc.trend - b) < 1e-12


def _ar_numpy(days, ys, p, horizon):
    """Numpy replica of temporal.ar_forecast's exact schedule:
    calendar-lag integer pair sums -> YW rho -> Durbin-Levinson ->
    unrolled recursive forecasts."""
    import numpy as np

    days = list(days)
    ys = np.asarray(ys, dtype=np.int64)
    n = len(ys)
    by_day = dict(zip(days, ys))
    mu = ys.sum() / n
    c0 = (ys.astype(float) ** 2).sum() - float(ys.sum()) ** 2 / n
    rho = {}
    for j in range(1, p + 1):
        sa = sb = sab = 0
        nj = 0
        for d, y in by_day.items():
            prev = d - j
            if prev in by_day:
                nj += 1
                sa += y
                sb += by_day[prev]
                sab += int(y) * int(by_day[prev])
        rho[j] = (sab - mu * sa - mu * sb + nj * mu * mu) / c0
    phi = {1: {1: rho[1]}}
    for k in range(2, p + 1):
        prev = phi[k - 1]
        num = rho[k] - sum(prev[j] * rho[k - j] for j in range(1, k))
        den = 1.0 - sum(prev[j] * rho[j] for j in range(1, k))
        kk = num / den
        phi[k] = {j: prev[j] - kk * prev[k - j] for j in range(1, k)}
        phi[k][k] = kk
    coef = [phi[p][j] for j in range(1, p + 1)]
    # last p observations by day desc
    order = sorted(days, reverse=True)
    v = [by_day[order[i]] for i in range(p)]
    fc = {}

    def dev(i):
        return (fc[i] - mu) if i >= 1 else (v[-i] - mu)

    for h in range(1, horizon + 1):
        fc[h] = mu + sum(coef[j - 1] * dev(h - j) for j in range(1, p + 1))
    return mu, coef, [fc[h] for h in range(1, horizon + 1)]


def test_ar_forecast_matches_numpy_replica(spark):
    import random

    rng = random.Random(23)
    # AR(2)-ish integer series on integer "days" (date arithmetic via
    # real dates below)
    import datetime

    base = datetime.date(2024, 1, 1)
    ys, days = [], []
    x1, x2 = 100.0, 100.0
    for i in range(60):
        if i % 13 == 5:
            continue  # calendar gaps: lag pairs must skip them
        x = 50 + 0.6 * (x1 - 50) - 0.3 * (x2 - 50) + rng.gauss(0, 5)
        x2, x1 = x1, x
        days.append(i)
        ys.append(int(round(x * 100)))
    df = spark.createDataFrame(
        [(base + datetime.timedelta(days=d), y) for d, y in zip(days, ys)],
        "day date, y long",
    ).repartition(4)
    got = {
        r.h: r.forecast
        for r in temporal.ar_forecast(df, "day", "y", p=2, horizon=7).collect()
    }
    mu, coef, want = _ar_numpy(days, ys, p=2, horizon=7)
    for h in range(1, 8):
        assert abs(got[h] - want[h - 1]) < 1e-6 * max(1.0, abs(want[h - 1])), h
    # fitted/resid: every row with both calendar lags present, residual
    # definition exact
    fit = temporal.ar_fitted(df, "day", "y", p=2).collect()
    by_day = dict(zip(days, ys))
    expect_days = {d for d in days if d - 1 in by_day and d - 2 in by_day}
    assert {r.day.toordinal() - base.toordinal() for r in fit} == expect_days
    for r in fit:
        d = r.day.toordinal() - base.toordinal()
        f = mu + coef[0] * (by_day[d - 1] - mu) + coef[1] * (by_day[d - 2] - mu)
        assert abs(r.fitted - f) < 1e-6 * max(1.0, abs(f))
        assert abs(r.resid - (by_day[d] - r.fitted)) < 1e-9


def test_ar_forecast_constant_series_null_and_guards(spark):
    import datetime

    import pytest

    base = datetime.date(2024, 1, 1)
    const = spark.createDataFrame(
        [(base + datetime.timedelta(days=i), 7) for i in range(20)],
        "day date, y long",
    )
    # zero variance -> c0 = 0 -> NULL coefficients -> NULL forecasts
    rows = temporal.ar_forecast(const, "day", "y", p=2, horizon=3).collect()
    assert [r.forecast for r in rows] == [None, None, None]
    with pytest.raises(ValueError, match="p must be"):
        temporal.ar_forecast(const, "day", "y", p=0)
    with pytest.raises(ValueError, match="horizon"):
        temporal.ar_forecast(const, "day", "y", horizon=9)


def test_ar_forecast_rejects_trailing_gap_and_short_series(spark):
    """r10 ADVICE: the forecast seed assumes the series ends with p
    consecutive days; a trailing calendar gap must raise, not silently
    seed lag-1 with a non-adjacent day."""
    import datetime

    import pytest

    base = datetime.date(2024, 1, 1)
    rows = [(base + datetime.timedelta(days=d), 10 + d % 3) for d in range(30)]
    gapped = rows[:-1]  # drop day 29: last days are 27, 28... then 29 missing
    # drop day 28 instead so the tail is ...27, 29 — a trailing gap at lag 1
    gapped = [r for r in rows if r[0] != base + datetime.timedelta(days=28)]
    df = spark.createDataFrame(gapped, "day date, y long")
    with pytest.raises(ValueError, match="consecutive"):
        temporal.ar_forecast(df, "day", "y", p=2, horizon=3)
    # contiguous tail still fine even with interior gaps
    interior = [r for r in rows if r[0] != base + datetime.timedelta(days=5)]
    df2 = spark.createDataFrame(interior, "day date, y long")
    assert len(temporal.ar_forecast(df2, "day", "y", p=2, horizon=3).collect()) == 3
    short = spark.createDataFrame(rows[:1], "day date, y long")
    with pytest.raises(ValueError, match="fewer than"):
        temporal.ar_forecast(short, "day", "y", p=2, horizon=2)

