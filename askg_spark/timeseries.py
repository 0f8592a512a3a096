"""Time-series operators Spark lacks natively, expressed shuffle-once
in DataFrames: the as-of (point-in-time) join.

`asof_join` answers "for each left row, the most recent right row at or
before its timestamp, per key" — the standard point-in-time lookup for
feature backfills (latest model score / price / session event before
each label event). Spark has no ASOF JOIN; the naive formulations are a
range join (quadratic per key) or a per-key mapInPandas merge (Python
in the hot path). This one is a single window pass:

  1. union the two sides into one frame tagged with a side marker,
  2. one window partitioned by key ordered by (ts, side, tiebreak)
     carries the last-seen right payload forward (`last_value`
     IGNORE NULLS over unbounded-preceding..current),
  3. keep the left rows; the carried struct IS the as-of match.

Cost: ONE shuffle of |L|+|R| rows keyed by the join key — the same
exchange a sort-merge equi-join would pay — no per-key quadratic term,
no Python. Hot keys skew the window like any keyed op; salting cannot
apply (the carry is order-dependent within a key), so extreme per-key
row counts are the documented limit — at web scale, bucket/partition
the input by key and day so a window instance never exceeds one
partition's memory (ts-ordered secondary sort makes state a single
row: Spark's window frame here is running-last, not buffered).

Tie rule (mirrored exactly by the DuckDB `ASOF JOIN` oracle in
__spark_entry__): right rows at ts == left ts DO match (<= semantics);
among right rows sharing (user_id, ts) the greatest event_id wins.
Reference analog: none (training-pipeline operator family).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def asof_join(left: DataFrame, right: DataFrame) -> DataFrame:
    """Point-in-time join: every `left` row gains the latest `right`
    row with right.ts <= left.ts for the same user_id (NULLs when no
    prior right row exists). Output = all left columns + right's
    non-key columns renamed `prior_<col>`.

    Rows from `right` that share (user_id, ts) are resolved to the one
    with the greatest event_id before the merge, making the result
    deterministic on any partitioning."""
    key = "user_id"
    rcols = [c for c in right.columns if c != key]

    # scratch-column collision guard: a right frame already carrying
    # one of these would be silently overwritten and dropped,
    # corrupting the prior_* payload — fail loudly instead
    reserved = {"_rn", "_ts", "_side", "_rpay", "_asof"} | {
        f"_l_{c}" for c in left.columns}
    clash = reserved & (set(left.columns) | set(right.columns))
    if clash:
        raise ValueError(
            f"asof_join: input columns collide with reserved scratch "
            f"names {sorted(clash)}; rename them before joining")

    # deterministic pre-dedup of right on (key, ts): greatest event_id
    w_dedup = Window.partitionBy(key, "ts").orderBy(F.desc("event_id"))
    r1 = (right.withColumn("_rn", F.row_number().over(w_dedup))
          .filter(F.col("_rn") == 1).drop("_rn"))

    tagged_r = r1.select(
        F.col(key), F.col("ts").alias("_ts"), F.lit(0).alias("_side"),
        F.struct(*[F.col(c) for c in rcols]).alias("_rpay"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(f"_l_{c}")
          for c in left.columns if c != key],
    )
    tagged_l = left.select(
        F.col(key), F.col("ts").alias("_ts"), F.lit(1).alias("_side"),
        F.lit(None).cast(tagged_r.schema["_rpay"].dataType).alias("_rpay"),
        *[F.col(c).alias(f"_l_{c}") for c in left.columns if c != key],
    )

    # right rows sort before left rows at equal ts -> <= semantics;
    # running last_value(IGNORE NULLS) needs no buffering: the frame
    # is unbounded-preceding..current over the ts-sorted key group
    w = (Window.partitionBy(key).orderBy("_ts", "_side")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    merged = (
        tagged_r.unionByName(tagged_l)
        .withColumn("_asof", F.last("_rpay", ignorenulls=True).over(w))
        .filter(F.col("_side") == 1)
    )
    out_left = [F.col(f"_l_{c}").alias(c)
                for c in left.columns if c != key]
    out_right = [F.col("_asof")[c].alias(f"prior_{c}")
                 for c in rcols]
    return merged.select(F.col(key), *out_left, *out_right)


def sessionize(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Gap-based sessionization: consecutive events of a user belong to
    one session while the inter-event gap is <= ``gap_seconds``; a
    larger gap starts a new session. -> per-session summary
    (user_id, session_id 1-based, n_events, session_start, session_end,
    duration_sec).

    Plan: ONE exchange. The session boundary is a running sum of
    new-session flags over the user-partitioned (ts, event_id)-ordered
    window; the follow-up groupBy(user_id, session_id) needs rows
    co-located by user only, which the window's hash partitioning
    already guarantees, so Catalyst plans it shuffle-free on top of the
    same exchange. All outputs are integers/timestamps — exact
    cross-engine compare."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag(F.col("ts")).over(w)
    new_session = F.when(
        prev.isNull()
        | ((F.unix_timestamp(F.col("ts")) - F.unix_timestamp(prev))
           > int(gap_seconds)),
        F.lit(1)).otherwise(F.lit(0))
    runw = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    with_sess = events.select(
        "user_id", "ts",
        F.sum(new_session).over(runw).alias("session_id"))
    return (with_sess.groupBy("user_id", "session_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.min("ts").alias("session_start"),
                 F.max("ts").alias("session_end"))
            .withColumn(
                "duration_sec",
                (F.unix_timestamp("session_end")
                 - F.unix_timestamp("session_start")).cast("long")))


def funnel_counts(events: DataFrame, steps: list[str]) -> DataFrame:
    """Ordered-funnel analysis: for each step i, how many users
    performed steps[0..i] IN ORDER (each step at-or-after the
    previous step's first qualifying occurrence — the standard
    first-touch funnel, steps matched on event_type). -> (step_idx,
    step, n_keys) with step_idx 1-based; n_keys is non-increasing.

    Plan: one user-keyed groupBy per step (min qualifying ts), each
    joined to the previous stage's frame on user_id — k small
    equi-joins on the same key, no windows over the full event stream
    and no per-user Python. The per-stage frames shrink monotonically, so
    every join after the first is AQE-broadcastable in practice."""
    stage = None
    out_rows = []
    for i, step in enumerate(steps):
        ev = events.where(F.col("event_type") == step)
        if stage is None:
            stage = (ev.groupBy("user_id")
                     .agg(F.min("ts").alias("_t")))
        else:
            stage = (ev.join(stage, "user_id")
                     .where(F.col("ts") >= F.col("_t"))
                     .groupBy("user_id")
                     .agg(F.min("ts").alias("_t2"))
                     .withColumnRenamed("_t2", "_t"))
        out_rows.append(
            stage.agg(F.count(F.lit(1)).alias("n_keys"))
            .select(F.lit(i + 1).alias("step_idx"),
                    F.lit(step).alias("step"), "n_keys"))
    res = out_rows[0]
    for r in out_rows[1:]:
        res = res.unionByName(r)
    return res


def rolling_counts(events: DataFrame, window_days: int = 7) -> DataFrame:
    """Trailing-window activity: per (user_id, active day), the event
    count over the previous ``window_days`` days inclusive.
    -> (user_id, day, n_day, n_window).

    Plan: pre-aggregate to one row per (user_id, day) — the shuffle
    carries day-granular rows, not raw events — then a RANGE-framed
    window (day numbers, `rangeBetween(-(w-1), 0)`) sums the trailing
    counts per user without re-scanning events. The range frame makes
    gaps correct: a day with no events contributes nothing and missing
    days never appear as zero rows."""
    day = F.floor(F.unix_timestamp(F.col("ts")) / F.lit(86400)) \
        .cast("long").alias("day")
    daily = (events.select("user_id", day)
             .groupBy("user_id", "day")
             .agg(F.count(F.lit(1)).alias("n_day")))
    w = (Window.partitionBy("user_id").orderBy("day")
         .rangeBetween(-(int(window_days) - 1), 0))
    return daily.select(
        "user_id", "day", "n_day",
        F.sum("n_day").over(w).alias("n_window"))


def cohort_retention(events: DataFrame) -> DataFrame:
    """Weekly cohort retention: cohort = the ISO-agnostic week number
    (epoch days // 7) of a user's FIRST event; for every later active
    week, how many of the cohort's users were active.
    -> (cohort_week, active_week, n_keys).

    Plan: min-agg per user (cohort), join back on user_id (AQE
    broadcasts the cohort frame when small), then one groupBy over
    (cohort_week, active_week) with a distinct-user count. Exact
    integers throughout."""
    week = F.floor(F.unix_timestamp(F.col("ts")) / F.lit(604800)) \
        .cast("long")
    acts = events.select("user_id", week.alias("active_week")).distinct()
    cohorts = acts.groupBy("user_id").agg(F.min("active_week")
                                          .alias("cohort_week"))
    return (acts.join(cohorts, "user_id")
            .groupBy("cohort_week", "active_week")
            .agg(F.countDistinct("user_id").alias("n_keys")))


def anomaly_hours(events: DataFrame) -> DataFrame:
    """Per-type hourly volume anomalies: flag hours whose event count
    sits more than 3 population standard deviations above
    that type's mean hourly count — the monitoring primitive every
    ingest pipeline runs over its own throughput stream.

    -> (event_type, hour, n_events, is_anomaly), with is_anomaly
    decided INTEGER-EXACTLY: with per-type sums S = Σc, SS = Σc² over
    n observed hours, the test  c > μ + kσ  (σ population, k = 3)
    multiplies out to

        (c·n − S) > 0  AND  (c·n − S)² > k²·(n·SS − S²)

    — integer arithmetic, so the flag is bit-reproducible on any
    partitioning and in SQL with no float tolerance at the boundary.
    SS and the multiplied-out terms are computed in DECIMAL(38,0) (the
    BIGINT version wrapped silently past hourly counts of ~10⁶ over
    ~10³ hours in non-ANSI Spark — wrong flags, no error), and the
    DuckDB oracle mirrors with HUGEINT. The envelope is every product
    below 10³⁸, for the square |c·n − S| < 10¹⁹, far beyond any hourly
    count. Past it the flag raises whatever ``spark.sql.ansi.enabled``
    says: ANSI mode raises on the overflow, and without it the
    overflowed product is NULL, which the guard turns into an error
    instead of a silent 0.

    Plan: one groupBy(type, hour) count (map-side combine), a tiny
    per-type moment aggregate joined back broadcast, and a pure
    Column predicate — two narrow shuffles total. Only OBSERVED hours
    enter the moments (a silent hour is a missing row, not a zero);
    at web scale the per-type moment frame stays dimension-sized."""
    hourly = (events.select("event_type",
                            F.date_trunc("hour", F.col("ts"))
                            .alias("hour"))
              .groupBy("event_type", "hour")
              .agg(F.count(F.lit(1)).alias("n_events")))
    moments = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_h"),
        F.sum("n_events").alias("s"),
        F.sum(_d38(F.col("n_events")) * _d38(F.col("n_events")))
        .alias("ss"))
    return (hourly.join(F.broadcast(moments), "event_type")
            .select("event_type", "hour",
                    F.col("n_events").cast("long").alias("n_events"),
                    _anomaly_flag(F.col("n_events"), F.col("n_h"),
                                  F.col("s"), F.col("ss"), 3)
                    .alias("is_anomaly")))


def _d38(c: Column) -> Column:
    return c.cast("decimal(38,0)")


def _anomaly_flag(c: Column, n: Column, s: Column, ss: Column,
                  sigmas: int) -> Column:
    """1 if (c·n − S) > 0 and (c·n − S)² > k²·(n·SS − S²), else 0, as
    a BIGINT; raises if a product leaves DECIMAL(38,0)."""
    dev = _d38(c) * _d38(n) - _d38(s)
    square = dev * dev
    var_term = (F.lit(int(sigmas) ** 2).cast("decimal(38,0)") *
                (_d38(n) * _d38(ss) - _d38(s) * _d38(s)))
    return (F.when(square.isNull() | var_term.isNull(), F.raise_error(
                F.lit("anomaly_hours: moments exceed DECIMAL(38,0)"))
                .cast("long"))
            .when((dev > 0) & (square > var_term), F.lit(1).cast("long"))
            .otherwise(F.lit(0).cast("long")))
