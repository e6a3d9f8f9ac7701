"""Event time-series queries (``suite.events``): autocorrelation, CUSUM,
bursts, inter-arrival gaps, EMA and churn hazard."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

from map_reduce_implementation_spark.suite import all_queries

from .conftest import SF0001, _write


QS = all_queries()


def test_autocorrelation_numpy_replay(spark):
    """A numpy replay over the hourly series reproduces every lag's
    ACF; |r| <= 1."""
    from map_reduce_implementation_spark.sources import table
    from map_reduce_implementation_spark.suite.events import ACF_LAGS

    ev = table(spark, SF0001, "events").select("ts").collect()
    counts: dict[pd.Timestamp, int] = {}
    for r in ev:
        h = pd.Timestamp(r["ts"]).floor("h")
        counts[h] = counts.get(h, 0) + 1
    hours = sorted(counts)
    y = {h: counts[h] for h in hours}
    ybar = sum(y.values()) / len(y)
    den = sum((v - ybar) ** 2 for v in y.values())

    got = {r["lag"]: r for r in QS["events_autocorrelation"].build(spark, SF0001).collect()}
    assert set(got) == set(ACF_LAGS)
    for k in ACF_LAGS:
        pairs = [
            (y[h], y[h + pd.Timedelta(hours=k)])
            for h in hours
            if h + pd.Timedelta(hours=k) in y
        ]
        r = got[k]
        assert r["n_pairs"] == len(pairs)
        num = sum((a - ybar) * (b - ybar) for a, b in pairs)
        assert abs(r["acf"] - num / den) < 1e-6
        assert abs(r["acf"]) <= 1 + 1e-6


def test_autocorrelation_periodic_signal(spark, tmp_path):
    """A 2-hour-periodic synthetic stream has ACF(2) near 1
    (in-phase) and ACF(1) near -1 (anti-phase)."""
    rows = []
    eid = 0
    base = pd.Timestamp("2024-01-01 00:00:00")
    for h in range(48):
        n = 5 if h % 2 == 0 else 1
        for j in range(n):
            rows.append(
                (eid, base + pd.Timedelta(hours=h, minutes=j), 1, "view", 1.0, "{}")
            )
            eid += 1
    pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    ).to_parquet(str(tmp_path / "events.parquet"))

    got = {r["lag"]: r for r in QS["events_autocorrelation"].build(spark, str(tmp_path)).collect()}
    # finite-series bias: exact values are +46*4/192 = 0.958 and
    # -47*4/192 = -0.979
    assert got[2]["acf"] > 0.9
    assert got[1]["acf"] < -0.9


def test_cusum_python_replay(spark):
    """A prefix-sum replay over the hourly series reproduces the
    change-point hour, peak value, and both segment means."""
    from map_reduce_implementation_spark.sources import table

    ev = table(spark, SF0001, "events").select("ts").collect()
    counts: dict[pd.Timestamp, int] = {}
    for r in ev:
        h = pd.Timestamp(r["ts"]).floor("h")
        counts[h] = counts.get(h, 0) + 1
    hours = sorted(counts)
    nh, s = len(hours), sum(counts.values())
    prefix, best = 0, None
    for t, h in enumerate(hours, start=1):
        prefix += counts[h]
        dint = nh * prefix - t * s
        if best is None or abs(dint) > abs(best[0]):
            best = (dint, h)
    dint, ph = best
    before = [counts[h] for h in hours if h <= ph]
    after = [counts[h] for h in hours if h > ph]

    r = QS["events_changepoint_cusum"].build(spark, SF0001).collect()[0]
    assert r["n_hours"] == nh
    assert pd.Timestamp(r["changepoint_hour"]) == ph
    assert abs(r["cusum_peak"] - round(dint / nh, 6)) < 1e-9
    assert abs(r["mean_before"] - sum(before) / len(before)) < 1e-6
    if after:
        assert abs(r["mean_after"] - sum(after) / len(after)) < 1e-6


def test_cusum_planted_level_shift(spark, tmp_path):
    """A planted rate jump at hour 24 of 48 is localized exactly and
    the segment means recover the two true rates."""
    rows, eid = [], 0
    base = pd.Timestamp("2024-01-01 00:00:00")
    for h in range(48):
        n = 2 if h < 24 else 8
        for j in range(n):
            rows.append((eid, base + pd.Timedelta(hours=h, minutes=j), 1, "view", 1.0, "{}"))
            eid += 1
    pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    ).to_parquet(str(tmp_path / "events.parquet"))
    r = QS["events_changepoint_cusum"].build(spark, str(tmp_path)).collect()[0]
    assert pd.Timestamp(r["changepoint_hour"]) == base + pd.Timedelta(hours=23)
    assert abs(r["mean_before"] - 2.0) < 1e-9
    assert abs(r["mean_after"] - 8.0) < 1e-9


def test_burst_zscore_pandas_crosscheck(spark):
    """Replay the trailing-window z-score in pandas for every type and
    compare bucket/burst counts and max_z exactly."""
    import pandas as pd

    from map_reduce_implementation_spark.sources import table
    from map_reduce_implementation_spark.suite.events import BURST_MIN_K, BURST_WIN, BURST_Z

    rows = {
        r["event_type"]: r
        for r in QS["events_burst_zscore"].build(spark, SF0001).collect()
    }
    ev = table(spark, SF0001, "events").select("event_type", "ts").toPandas()
    ev["h"] = ev["ts"].dt.floor("h")
    cells = (
        ev.groupby(["event_type", "h"]).size().rename("c").reset_index()
    ).sort_values(["event_type", "h"])
    for t, g in cells.groupby("event_type"):
        c = g["c"].to_numpy(dtype=np.int64)
        n_bursts, max_z = 0, None
        for i in range(len(c)):
            lo = max(0, i - BURST_WIN)
            base = c[lo:i]
            k = len(base)
            if k < BURST_MIN_K:
                continue
            m = base.sum() / k
            var = max((base**2).sum() / k - m * m, 0.0)
            sd = var**0.5
            if sd <= 0:
                continue
            z = (c[i] - m) / sd
            if z > BURST_Z:
                n_bursts += 1
            max_z = z if max_z is None else max(max_z, z)
        r = rows[t]
        assert r["n_buckets"] == len(c)
        assert r["n_bursts"] == n_bursts, t
        if max_z is None:
            assert r["max_z"] is None
        else:
            assert abs(r["max_z"] - round(max_z, 6)) < 1e-9, t


def _events(tmp_path, rows):
    return _write(
        tmp_path,
        "events",
        pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        ),
    )


def test_interarrival_zero_and_empty_gaps(spark, tmp_path):
    """All-same-second events → Σg = 0 → cv/rate/loglik NULL in BOTH
    engines (not a ln(0)=-inf vs NULL divergence); single-event users
    produce no gaps at all → NULL row, not a crash."""
    from map_reduce_implementation_spark.suite.events import SQL_EVENTS_INTERARRIVAL

    t = pd.Timestamp("2024-01-01 00:00:00.500000")
    p = _events(
        tmp_path,
        [(1, t, 7, "a", 0.0, "{}"), (2, t, 7, "a", 0.0, "{}"), (3, t, 9, "a", 0.0, "{}")],
    )
    r = QS["events_interarrival"].build(spark, str(tmp_path)).collect()[0]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{p}'")
    o = con.execute(SQL_EVENTS_INTERARRIVAL).df().iloc[0]
    assert r["n_gaps"] == int(o["n_gaps"]) == 1
    assert r["mean_gap_s"] == float(o["mean_gap_s"]) == 0.0
    for col in ("cv", "mle_rate", "exp_loglik"):
        assert r[col] is None and pd.isna(o[col]), col


def test_ema_single_hour_and_constant_series(spark, tmp_path):
    """One hour → EMA = y exactly (seed weight 1); a constant series →
    EMA = level and ema_minus_mean = 0 in both engines."""
    from map_reduce_implementation_spark.suite.events import SQL_EVENTS_EMA_HOURLY

    rows = [(1, pd.Timestamp("2024-01-01 05:10:00"), 1, "a", 0.0, "{}")]
    p = _events(tmp_path, rows)
    r = QS["events_ema_hourly"].build(spark, str(tmp_path)).collect()[0]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{p}'")
    o = con.execute(SQL_EVENTS_EMA_HOURLY).df().iloc[0]
    assert r["n_hours"] == int(o["n_hours"]) == 1
    assert r["ema"] == float(o["ema"]) == 1.0

    sub = tmp_path / "const"
    sub.mkdir()
    rows2 = [
        (i, pd.Timestamp(f"2024-01-01 {h:02d}:00:00"), 1, "a", 0.0, "{}")
        for i, h in enumerate(range(5))
    ]
    p2 = _events(sub, rows2)
    r2 = QS["events_ema_hourly"].build(spark, str(sub)).collect()[0]
    con2 = duckdb.connect()
    con2.execute(f"CREATE VIEW events AS SELECT * FROM '{p2}'")
    o2 = con2.execute(SQL_EVENTS_EMA_HOURLY).df().iloc[0]
    assert r2["ema"] == float(o2["ema"]) == 1.0
    assert r2["ema_minus_mean"] == float(o2["ema_minus_mean"]) == 0.0


def test_churn_hazard_planted_gaps(spark, tmp_path):
    """Gaps of 30 min, 2 h, and 2 days: exceedance shares walk down
    the thresholds as exact integer ratios in both engines."""
    from map_reduce_implementation_spark.suite.events import _hazard_oracle

    t0 = pd.Timestamp("2024-01-01 00:00:00")
    ts = [t0, t0 + pd.Timedelta(minutes=30), t0 + pd.Timedelta(minutes=30) + pd.Timedelta(hours=2),
          t0 + pd.Timedelta(minutes=30) + pd.Timedelta(hours=2) + pd.Timedelta(days=2)]
    p = _events(tmp_path, [(i, t, 1, "a", 0.0, "{}") for i, t in enumerate(ts)])
    rows = {r["threshold_s"]: r for r in QS["events_churn_hazard"].build(spark, str(tmp_path)).collect()}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{p}'")
    odf = con.execute(_hazard_oracle()).df().set_index("threshold_s")
    assert rows[3600]["n_exceed"] == int(odf.loc[3600, "n_exceed"]) == 2
    assert rows[86400]["n_exceed"] == int(odf.loc[86400, "n_exceed"]) == 1
    assert rows[259200]["n_exceed"] == 0
    assert rows[3600]["exceed_share"] == float(odf.loc[3600, "exceed_share"]) == 2 / 3
