"""asof_join: point-in-time semantics — <= inclusion, right-side tie
rule, missing-prior NULLs — plus a brute-force cross-check."""
from __future__ import annotations

from datetime import datetime

import pytest

from askg_spark.timeseries import asof_join


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, value double")


def _t(s):
    return datetime.fromisoformat(s)


def test_asof_join_semantics(spark):
    left = _df(spark, [
        (1, 100, _t("2025-01-01T10:00:00"), 5.0),   # prior at 09:00
        (1, 101, _t("2025-01-01T12:00:00"), 6.0),   # equal-ts right
        (2, 200, _t("2025-01-01T08:00:00"), 7.0),   # no prior
    ])
    right = _df(spark, [
        (1, 10, _t("2025-01-01T09:00:00"), 1.5),
        (1, 11, _t("2025-01-01T12:00:00"), 2.5),    # == left 101 ts
        (1, 12, _t("2025-01-01T13:00:00"), 3.5),    # after everything
        (2, 20, _t("2025-01-01T09:30:00"), 4.5),    # after left 200
    ])
    out = {r["event_id"]: r for r in asof_join(left, right).collect()}
    assert out[100]["prior_event_id"] == 10
    assert out[100]["prior_value"] == 1.5
    # ts equality matches (<= semantics)
    assert out[101]["prior_event_id"] == 11
    # no right row at-or-before -> NULLs
    assert out[200]["prior_event_id"] is None
    assert out[200]["prior_ts"] is None
    # left columns survive untouched
    assert out[100]["value"] == 5.0


def test_asof_join_right_tie_takes_greatest_tiebreak(spark):
    left = _df(spark, [(1, 100, _t("2025-01-01T10:00:00"), 0.0)])
    right = _df(spark, [
        (1, 10, _t("2025-01-01T09:00:00"), 1.0),
        (1, 13, _t("2025-01-01T09:00:00"), 2.0),   # same ts, higher id
        (1, 11, _t("2025-01-01T09:00:00"), 3.0),
    ])
    out = asof_join(left, right).collect()
    assert out[0]["prior_event_id"] == 13
    assert out[0]["prior_value"] == 2.0


def test_asof_join_matches_bruteforce(spark):
    import random

    rng = random.Random(11)
    left = _df(spark, [
        (rng.randrange(5), 1000 + i,
         _t("2025-01-01T00:00:00").replace(hour=rng.randrange(24)),
         float(i))
        for i in range(60)
    ])
    right_rows = [
        (rng.randrange(5), i,
         _t("2025-01-01T00:00:00").replace(hour=rng.randrange(24)),
         float(i) / 7)
        for i in range(80)
    ]
    right = _df(spark, right_rows)
    got = {r["event_id"]: (r["prior_event_id"], r["prior_ts"])
           for r in asof_join(left, right).collect()}

    # brute force: per left row, max (ts, event_id) among right rows
    # with same key and ts <= left ts
    by_key: dict[int, list] = {}
    for u, eid, ts, _v in right_rows:
        by_key.setdefault(u, []).append((ts, eid))
    for row in left.collect():
        cands = [(ts, eid) for ts, eid in by_key.get(row["user_id"], [])
                 if ts <= row["ts"]]
        want = max(cands) if cands else (None, None)
        assert got[row["event_id"]] == (want[1], want[0]), row["event_id"]


def test_sessionize_gap_boundary(spark):
    from askg_spark.timeseries import sessionize

    rows = [
        # user 1: events at t0, t0+1800s (== gap, same session),
        # t0+3601s (> gap from prev, new session)
        (1, 1, _t("2025-01-01T00:00:00"), 0.0),
        (1, 2, _t("2025-01-01T00:30:00"), 0.0),
        (1, 3, _t("2025-01-01T01:30:01"), 0.0),
        # user 2: single event
        (2, 4, _t("2025-01-01T05:00:00"), 0.0),
    ]
    df = _df(spark, rows)
    out = {(r["user_id"], r["session_id"]): r
           for r in sessionize(df, gap_seconds=1800).collect()}
    assert out[(1, 1)]["n_events"] == 2
    assert out[(1, 1)]["duration_sec"] == 1800
    assert out[(1, 2)]["n_events"] == 1
    assert out[(1, 2)]["session_start"] == _t("2025-01-01T01:30:01")
    assert out[(2, 1)]["n_events"] == 1
    assert out[(2, 1)]["duration_sec"] == 0
    assert len(out) == 3


def test_sessionize_single_exchange_plan(spark):
    from askg_spark.timeseries import sessionize

    df = _df(spark, [(1, 1, _t("2025-01-01T00:00:00"), 0.0)])
    plan = sessionize(df)._jdf.queryExecution().executedPlan().toString()
    # the groupBy must reuse the window's hash partitioning: exactly
    # one Exchange in the physical plan
    assert plan.count("Exchange") == 1, plan


def test_funnel_order_matters(spark):
    from askg_spark.timeseries import funnel_counts

    rows = [
        # user 1 completes in order
        (1, 1, _t("2025-01-01T01:00:00"), 0.0, "view"),
        (1, 2, _t("2025-01-01T02:00:00"), 0.0, "click"),
        (1, 3, _t("2025-01-01T03:00:00"), 0.0, "purchase"),
        # user 2 clicked BEFORE viewing -> stops at view
        (2, 4, _t("2025-01-01T01:00:00"), 0.0, "click"),
        (2, 5, _t("2025-01-01T02:00:00"), 0.0, "view"),
        # user 3 never viewed -> not even step 1
        (3, 6, _t("2025-01-01T01:00:00"), 0.0, "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, value double, "
              "event_type string")
    out = {r["step_idx"]: r["n_keys"] for r in funnel_counts(
        df, ["view", "click", "purchase"]).collect()}
    assert out == {1: 2, 2: 1, 3: 1}


def test_rolling_counts_range_frame_handles_gaps(spark):
    from askg_spark.timeseries import rolling_counts
    from datetime import timedelta

    base = _t("2025-01-01T12:00:00")
    rows = []
    eid = 0
    # user 1: 2 events day 0, 1 event day 3, 1 event day 20
    for d, n in [(0, 2), (3, 1), (20, 1)]:
        for _ in range(n):
            rows.append((1, eid, base + timedelta(days=d), 0.0))
            eid += 1
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, value double")
    rows_out = rolling_counts(df, window_days=7).collect()
    d0 = min(r["day"] for r in rows_out)
    out = {r["day"] - d0: (r["n_day"], r["n_window"]) for r in rows_out}
    # day numbers are absolute (epoch//86400); normalize to offsets
    assert out[0] == (2, 2)
    # day 3 window covers days -3..3 -> includes day 0's 2 events
    assert out[3] == (1, 3)
    # day 20 is beyond any prior 7-day window -> only itself
    assert out[20] == (1, 1)


def test_cohort_retention_first_week_defines_cohort(spark):
    from askg_spark.timeseries import cohort_retention
    from datetime import timedelta

    base = _t("2025-01-02T00:00:00")
    rows = [
        (1, 0, base, 0.0),                          # week W
        (1, 1, base + timedelta(weeks=2), 0.0),     # week W+2
        (2, 2, base + timedelta(weeks=2), 0.0),     # cohort W+2
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, value double")
    out = {(r["cohort_week"], r["active_week"]): r["n_keys"]
           for r in cohort_retention(df).collect()}
    weeks = sorted({w for _, w in out})
    w0, w2 = weeks[0], weeks[-1]
    assert out[(w0, w0)] == 1
    assert out[(w0, w2)] == 1          # user 1 retained
    assert out[(w2, w2)] == 1          # user 2's own cohort
    assert len(out) == 3


def test_asof_join_rejects_reserved_scratch_columns(spark):
    import pytest as _pytest
    from askg_spark.timeseries import asof_join
    left = spark.createDataFrame(
        [(1, 10, 1)], "user_id int, ts int, event_id int")
    right_bad = spark.createDataFrame(
        [(1, 5, 2, 7)], "user_id int, ts int, event_id int, _rn int")
    with _pytest.raises(ValueError, match="_rn"):
        asof_join(left, right_bad)


def test_anomaly_hours_integer_z_test(spark):
    """The multiplied-out integer predicate agrees with the float
    z-test away from the boundary: one spiked hour flags, flat and
    below-threshold series do not, and negative deviations never
    flag."""
    import datetime as dt

    from askg_spark.timeseries import anomaly_hours

    rows = []
    eid = 0
    base = dt.datetime(2024, 1, 1)

    def add(n, typ, hour):
        nonlocal eid
        for _ in range(n):
            rows.append((eid, base + dt.timedelta(hours=hour), typ))
            eid += 1

    # 20 baseline hours of 3 + one 100-spike: the spike inflates its
    # own sigma (population moments include it), so a wide baseline
    # is needed for 3-sigma to clear — mean 7.6, sigma ~20.7,
    # threshold ~69.6 < 100
    for h in range(20):
        add(3, "spiky", h)
    add(100, "spiky", 20)
    for h in range(5):                          # flat -> variance 0
        add(2, "flat", h)
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, "
                                     "event_type string")
    got = {(r["event_type"], r["hour"].hour): r["is_anomaly"]
           for r in anomaly_hours(df).collect()}
    assert got[("spiky", 20)] == 1
    assert all(v == 0 for k, v in got.items() if k != ("spiky", 20))


@pytest.mark.parametrize("ansi", ["false", "true"])
def test_anomaly_flag_raises_past_the_decimal_envelope(spark, ansi):
    """One synthetic moments row per side of |c·n − S| = 10^19, where
    the square leaves DECIMAL(38,0): inside, the exact flag; outside,
    an error in both ANSI modes (with ANSI off the square is NULL and
    used to make a silent 0)."""
    from pyspark.sql import functions as F

    from askg_spark.timeseries import _anomaly_flag

    def flag(s):
        # c = 10^9 over n = 10^10 hours: c·n = 10^19, SS = c²
        row = spark.createDataFrame(
            [(10**9, 10**10, s, 10**18)],
            "c long, n long, s long, ss long")
        return row.select(_anomaly_flag(
            F.col("c"), F.col("n"), F.col("s"), F.col("ss"), 3)
            .alias("f")).collect()[0]["f"]

    before = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        assert flag(1) == 1  # |c·n − S| = 10^19 - 1
        with pytest.raises(Exception,
                           match="DECIMAL|NUMERIC_VALUE_OUT_OF_RANGE"):
            flag(0)  # |c·n − S| = 10^19
    finally:
        spark.conf.set("spark.sql.ansi.enabled", before)
