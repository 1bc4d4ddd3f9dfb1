"""Time-series joins over the events table.

The engine's event side (telemetry, crawl logs, user events) needs the
canonical time-series operator relational engines lack: the AS-OF join
— for every left row, the single latest right row at-or-before its
timestamp, per key. Databases ship it natively (DuckDB ``ASOF JOIN``,
kdb ``aj``); Spark has no built-in, and the naive formulations are
scale-broken: an inequality theta-join explodes to a near-cross
product per key, and "join then filter max" re-aggregates the whole
pair space.

``asof_join`` uses the union-window technique instead: tag both
inputs, union them, and run ONE ``last(..., ignorenulls)`` window per
carried column over (key, time) order. Cost is a single hash shuffle
on the key + a per-key sort — the same exchange a groupBy would pay,
regardless of how many right rows precede each left row. Right rows
at exactly the left timestamp are visible (ASOF's ``<=``), enforced
by sorting the right side first within equal timestamps.

Scale notes: partition count follows the session shuffle setting; key
skew (one hot user/host) is bounded by the window being a running
carry, not a buffer — state is one row per carried column. At 10^12
rows the sort dominates, exactly as in any ASOF implementation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    time: str,
    right_cols: tuple[str, ...],
    suffix: str = "_asof",
    tiebreak: str | None = None,
) -> DataFrame:
    """For each left row: the latest right row with
    ``right.time <= left.time`` and equal ``on`` key.

    Returns all left columns plus ``<col><suffix>`` for each of
    ``right_cols`` and ``<time><suffix>`` (null when no right row
    precedes). ``tiebreak`` orders right rows sharing a timestamp
    (later sorts last and wins) — required for determinism if
    (on, time) is not unique on the right.
    """
    carried = [*right_cols, time]
    # the time column is carried but is NOT a valid tiebreak: rows
    # sharing a timestamp are by definition equal on it, so accepting
    # it would silently leave them nondeterministically ordered
    if tiebreak is not None and tiebreak not in right_cols:
        raise ValueError("tiebreak must be one of right_cols")
    r = right.select(
        F.col(on),
        F.col(time),
        F.lit(0).alias("_side"),
        *[F.col(c).alias(c + suffix) for c in carried],
    )
    l = left.withColumn("_side", F.lit(1))
    u = l.unionByName(r, allowMissingColumns=True)
    order = [F.col(time).asc(), F.col("_side").asc()]
    if tiebreak is not None:
        # orders RIGHT rows sharing a timestamp (left rows are null
        # here and their relative order cannot affect the carry)
        order.append(F.col(tiebreak + suffix).asc_nulls_first())
    w = (
        Window.partitionBy(on)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = u.select(
        "*",
        *[
            F.last(c + suffix, ignorenulls=True).over(w).alias("_f_" + c)
            for c in carried
        ],
    )
    out_cols = [F.col(c) for c in left.columns] + [
        F.col("_f_" + c).alias(c + suffix) for c in carried
    ]
    return filled.filter(F.col("_side") == 1).select(*out_cols)


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    on: str,
    time: str,
    start: str,
    end: str,
    point_cols: tuple[str, ...],
    interval_cols: tuple[str, ...],
    bucket_width_us: int = 3_600_000_000,
) -> DataFrame:
    """All (point, interval) pairs with equal key and
    ``start <= point.time < end`` — the interval-containment join.

    Spark plans a raw inequality join as a per-key nested loop
    (broadcast-nested-loop or cartesian), quadratic in the hot key.
    This is the bucketized formulation every range-join implementation
    uses (e.g. the Databricks range-join hint): intervals replicate to
    each fixed-width time bucket they overlap, points map to exactly
    ONE bucket, and the pair space collapses to an equi-join on
    (key, bucket) plus the exact predicate. Replication factor is
    ceil(interval_len / bucket_width) + 1 ≈ 2 for widths matched to
    typical interval length; a point is in one bucket, so no
    deduplication is needed.

    Timestamps may be TIMESTAMP or TIMESTAMP_NTZ (cast under the
    pinned UTC session). Returns ``point_cols`` + ``interval_cols``.
    """
    w = bucket_width_us
    p_us = F.unix_micros(F.col(time).cast("timestamp"))
    s_us = F.unix_micros(F.col(start).cast("timestamp"))
    e_us = F.unix_micros(F.col(end).cast("timestamp"))

    p = points.select(
        F.col(on).alias("_k"), *point_cols, p_us.alias("_t"),
        F.floor(p_us / w).alias("_b"),
    )
    i = intervals.select(
        F.col(on).alias("_k"), *interval_cols, s_us.alias("_s"), e_us.alias("_e"),
    ).filter(F.col("_e") > F.col("_s")).select(
        "*",
        F.explode(
            F.sequence(
                F.floor(F.col("_s") / w), F.floor((F.col("_e") - 1) / w)
            )
        ).alias("_b"),
    )
    joined = p.join(i, ["_k", "_b"]).filter(
        (F.col("_t") >= F.col("_s")) & (F.col("_t") < F.col("_e"))
    )
    return joined.select(*point_cols, *interval_cols)


def gap_fill(
    events: DataFrame,
    key: str = "user_id",
    time: str = "ts",
    value: str = "value",
    freq: str = "1 hour",
) -> DataFrame:
    """Resample an irregular event stream onto a fixed per-key time
    grid with forward fill — the gap-filling / LOCF (last observation
    carried forward) operator time-series databases ship natively
    (TimescaleDB ``time_bucket_gapfill`` + ``locf``) and Spark lacks.

    Three Catalyst stages, one key shuffle total:

      1. bucket observations: per (key, bucket) keep the LAST value by
         event time (``max_by`` — no sort) plus the observation count —
         the bucket is the event time floored to the ``freq`` width
         (epoch arithmetic, so buckets and grid are aligned by
         construction for ANY freq, not just hourly);
      2. per-key grid: min/max bucket -> ``sequence(...,interval)``
         exploded in-row (grid rows never exceed key-span/freq; the
         explode is narrow, no shuffle);
      3. left-join observations onto the grid (same key partitioning,
         AQE reuses the exchange) and forward-fill with ONE
         ``last(ignorenulls)`` running window per key — carry state is
         a single value, so a key with years of gaps costs O(1) memory.

    Rows before a key's first observation never exist (the grid starts
    at the first bucket), so ``filled_value`` is never null.

    ``freq`` accepts fixed-width intervals only — ``"N second(s) /
    minute(s) / hour(s) / day(s)"`` — because the bucket is an epoch
    floor; calendar widths (month, year) are not fixed and raise.

    Output: (key, bucket_ts, filled_value, n_obs, is_gap).
    """
    import re

    m = re.fullmatch(
        r"\s*(\d+)\s*(second|minute|hour|day)s?\s*", freq, re.IGNORECASE
    )
    if not m:
        raise ValueError(
            f"freq {freq!r} is not a fixed-width interval "
            "('N second/minute/hour/day')"
        )
    unit_us = {
        "second": 1_000_000,
        "minute": 60_000_000,
        "hour": 3_600_000_000,
        "day": 86_400_000_000,
    }[m.group(2).lower()]
    width = int(m.group(1)) * unit_us
    ts_us = F.unix_micros(F.col(time).cast("timestamp"))
    # cast back to the input column's timestamp flavor (the pinned UTC
    # session makes LTZ<->NTZ value-preserving) so the output schema
    # does not depend on freq
    bucket = F.timestamp_micros(
        (F.floor(ts_us / width) * width).cast("long")
    ).cast(events.schema[time].dataType)
    obs = events.groupBy(F.col(key), bucket.alias("bucket_ts")).agg(
        F.max_by(F.col(value), F.col(time)).alias("_v"),
        F.count(F.lit(1)).cast("long").alias("n_obs"),
    )
    grid = (
        obs.groupBy(key)
        .agg(F.min("bucket_ts").alias("_h0"), F.max("bucket_ts").alias("_h1"))
        .select(
            key,
            F.explode(
                F.expr(f"sequence(_h0, _h1, interval {freq})")
            ).alias("bucket_ts"),
        )
    )
    w = (
        Window.partitionBy(key)
        .orderBy("bucket_ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.join(obs, [key, "bucket_ts"], "left")
        .select(
            key,
            "bucket_ts",
            F.round(F.last("_v", ignorenulls=True).over(w), 6).alias(
                "filled_value"
            ),
            F.coalesce("n_obs", F.lit(0)).cast("long").alias("n_obs"),
            (F.coalesce("n_obs", F.lit(0)) == 0).alias("is_gap"),
        )
    )


def funnel(
    events: DataFrame,
    steps: tuple[str, ...],
    key: str = "user_id",
    type_col: str = "event_type",
    time: str = "ts",
) -> DataFrame:
    """Ordered funnel analysis: for each key, the earliest time of
    step 0, then the earliest step-1 event STRICTLY AFTER it, then the
    earliest step-2 event strictly after that, and so on — the
    sequential-conversion query (signup -> view -> click -> purchase)
    behind every product-analytics funnel.

    One conditional-min aggregate per step, each joined on the key:
    every stage is a groupBy(key) over a FILTERED slice of the stream
    (the step's own event type), so each aggregation is map-side
    combinable and every exchange hashes the same key — AQE reuses the
    partitioning across stages rather than re-shuffling the events.
    The per-key stage frame stays one row wide; no event arrays are
    ever collected (the collect_list formulation buffers a key's whole
    history — the thing that dies on a 10^9-event power user).

    Output: (key, t_<step0>, ..., t_<stepN>, funnel_stage) with
    funnel_stage = number of stages reached; keys that never fired
    step 0 are absent.
    """
    ev = events.select(key, type_col, time)
    cur = (
        ev.filter(F.col(type_col) == steps[0])
        .groupBy(key)
        .agg(F.min(time).alias(f"t_{steps[0]}"))
    )
    prev = f"t_{steps[0]}"
    for s in steps[1:]:
        nxt = (
            ev.filter(F.col(type_col) == s)
            .join(cur.select(key, prev), key)
            .filter(F.col(time) > F.col(prev))
            .groupBy(key)
            .agg(F.min(time).alias(f"t_{s}"))
        )
        cur = cur.join(nxt, key, "left")
        prev = f"t_{s}"
    stage = None
    for s in steps:
        bit = F.col(f"t_{s}").isNotNull().cast("int")
        stage = bit if stage is None else stage + bit
    return cur.withColumn("funnel_stage", stage)


def retention_cohorts(
    events: DataFrame,
    key: str = "user_id",
    time: str = "ts",
) -> DataFrame:
    """Cohort retention: users grouped by the week of their FIRST
    event; for every later week each user is active, the cohort's
    retained-user count at that week offset — the triangle behind
    every retention dashboard.

    Two aggregates and one join, all keyed on the user: first-week per
    user (min over a filtered scan, map-side combinable), distinct
    active (user, week) pairs, an equi-join on the user carrying the
    cohort week, then a count-distinct per (cohort_week, week_offset)
    — whose key domain is weeks², tiny at any corpus scale, so the
    final exchange is never the bottleneck; the user-keyed stages
    reuse one hash partitioning under AQE.

    Output: (cohort_week, week_offset, n_users) — offset 0 row is the
    cohort's size.
    """
    week = F.date_trunc("week", F.col(time))
    first = events.groupBy(key).agg(F.min(week).alias("cohort_week"))
    active = events.select(key, week.alias("week")).distinct()
    offset = (
        (
            F.unix_timestamp(F.col("week").cast("timestamp"))
            - F.unix_timestamp(F.col("cohort_week").cast("timestamp"))
        )
        / (7 * 86400)
    ).cast("int")
    return (
        active.join(first, key)
        .select("cohort_week", offset.alias("week_offset"), key)
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct(key).cast("long").alias("n_users"))
    )


def rolling_window_stats(
    events: DataFrame,
    key: str = "user_id",
    time: str = "ts",
    value: str = "value",
    window_seconds: int = 86_400,
) -> DataFrame:
    """Per-event trailing-window aggregates: for every event, the
    count / exact sum / max of the same key's events within the
    preceding ``window_seconds`` (inclusive of the event itself) — a
    time-RANGE frame, not a row frame, so irregular event spacing is
    handled exactly (the velocity/abuse-rate feature shape).

    One key shuffle; the frame is a RANGE window over epoch seconds,
    which Spark evaluates with a sliding two-pointer buffer bounded by
    the window span — no per-key history materializes. The sum runs
    over value scaled to exact 1e-4 integer ticks so the result is
    identical regardless of intra-frame addition order (a double sum
    differs in final ulps between engines).

    Output: (event_id, key, ts_s, rolling_n, rolling_sum, rolling_max).
    """
    ts_s = F.unix_timestamp(F.col(time).cast("timestamp"))
    ticks = F.round(F.col(value) * 10_000).cast("long")
    w = (
        Window.partitionBy(key)
        .orderBy("ts_s")
        .rangeBetween(-window_seconds, 0)
    )
    return (
        events.select("event_id", key, ts_s.alias("ts_s"), ticks.alias("_t"))
        .select(
            "event_id",
            key,
            "ts_s",
            F.count(F.lit(1)).over(w).cast("long").alias("rolling_n"),
            F.round(F.sum("_t").over(w) / 10_000.0, 4).alias("rolling_sum"),
            F.round(F.max("_t").over(w) / 10_000.0, 4).alias("rolling_max"),
        )
    )


def mad_anomalies(
    events: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    z_thresh: float = 3.5,
) -> DataFrame:
    """Robust anomaly flagging by the MAD rule (Hampel / Iglewicz-
    Hoaglin): per group, modified z = 0.6745·|x − median| / MAD where
    MAD = median(|x − median|); |z| > 3.5 flags the point. Median/MAD
    shrug off the very outliers a mean/stddev rule would absorb — the
    standard telemetry-quality gate for pipeline metrics feeds.

    Plan shape: two exact-percentile aggregations over the SAME group
    key (groups are few — event types — so both results broadcast back
    onto the stream); the corpus shuffles only for the two group aggs,
    and at 10^12 events those become t-digest/histogram sketches with
    identical downstream algebra. A zero MAD (≥50% identical values)
    disables the rule for that group rather than dividing by zero —
    the documented Hampel degenerate case.
    """
    med = events.groupBy(group_col).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("med")
    )
    dev = events.join(F.broadcast(med), group_col).withColumn(
        "_dev", F.abs(F.col(value_col) - F.col("med"))
    )
    mad = dev.groupBy(group_col).agg(
        F.expr("percentile(_dev, 0.5)").alias("mad")
    )
    z = F.when(
        F.col("mad") == 0.0, F.lit(0.0)
    ).otherwise(F.round(0.6745 * F.col("_dev") / F.col("mad"), 6))
    return (
        dev.join(F.broadcast(mad), group_col)
        .select(
            "event_id",
            F.col(group_col).alias("group_key"),
            F.col(value_col).alias("value"),
            F.round("med", 6).alias("group_median"),
            F.round("mad", 6).alias("group_mad"),
            z.alias("mod_z"),
            (z > z_thresh).alias("is_anomaly"),
        )
    )


def ewma_level(events: DataFrame, alpha: float = 0.3) -> DataFrame:
    """Per-user exponentially weighted moving average of ``value`` in
    time order — the classic smoothing/forecast baseline (simple
    exponential smoothing): s_1 = x_1, s_t = α·x_t + (1−α)·s_{t−1}.

    A linear recurrence has no window-function form; it is implemented
    as a FOLD over the user's time-ordered value array
    (``F.aggregate`` seeded with the first element), which makes the
    float operation SEQUENCE identical to any serial replica — the
    rare case where cross-engine float equality is exact by
    construction, no rounding discipline needed (rounding applied only
    on output). Per-user arrays are bounded by events-per-user — the
    same reassembly bound every per-doc stage carries; a 10^9-event
    power user would stream through applyInPandas instead, same
    recurrence.
    """
    arr = (
        events.groupBy("user_id")
        .agg(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("ts", "event_id", "value"))
                ),
                lambda s: s["value"],
            ).alias("vs")
        )
    )
    fold = F.aggregate(
        F.slice(F.col("vs"), 2, F.greatest(F.size("vs") - 1, F.lit(0))),
        F.element_at(F.col("vs"), 1),
        lambda acc, x: F.lit(alpha) * x + F.lit(1.0 - alpha) * acc,
    )
    return arr.select(
        "user_id",
        F.size("vs").cast("long").alias("n_obs"),
        F.round(F.element_at("vs", -1), 6).alias("last_value"),
        F.round(fold, 6).alias("ewma"),
    )


def holt_linear(
    events: DataFrame, alpha: float = 0.4, beta: float = 0.3
) -> DataFrame:
    """Per-user Holt double exponential smoothing (level + linear
    trend) in time order — the standard trend-aware forecast baseline
    one rung above :func:`ewma_level`:

        l_1 = x_1,  b_1 = x_2 − x_1  (classic init; b_1 = 0 if n = 1)
        l_t = α·x_t + (1−α)·(l_{t−1} + b_{t−1})
        b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}

    The coupled recurrence has no window form; it is a FOLD over the
    user's time-ordered values with a (level, trend) STRUCT
    accumulator (``F.aggregate`` seeded with the classic init), so the
    float operation sequence is identical to any serial replica —
    exact cross-engine equality by construction, rounding only on
    output. Per-user arrays are bounded by events-per-user, the same
    reassembly bound every per-doc stage carries.
    """
    arr = events.groupBy("user_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("ts", "event_id", "value"))),
            lambda s: s["value"],
        ).alias("vs")
    )
    vs = F.col("vs")
    seed = F.struct(
        F.element_at(vs, 1).alias("l"),
        F.when(
            F.size(vs) > 1, F.element_at(vs, 2) - F.element_at(vs, 1)
        ).otherwise(F.lit(0.0)).alias("b"),
    )

    def step(acc, x):
        new_l = F.lit(alpha) * x + F.lit(1.0 - alpha) * (acc["l"] + acc["b"])
        return F.struct(
            new_l.alias("l"),
            (
                F.lit(beta) * (new_l - acc["l"])
                + F.lit(1.0 - beta) * acc["b"]
            ).alias("b"),
        )

    fold = F.aggregate(
        F.slice(vs, 2, F.greatest(F.size(vs) - 1, F.lit(0))), seed, step
    )
    return arr.select(
        "user_id",
        F.size(vs).cast("long").alias("n_obs"),
        F.round(fold["l"], 6).alias("level"),
        F.round(fold["b"], 6).alias("trend"),
        F.round(fold["l"] + fold["b"], 6).alias("forecast"),
    )


def cusum_alarms(
    events: DataFrame, k: float = 0.5, h: float = 5.0
) -> DataFrame:
    """Per-user one-sided CUSUM drift alarm (Page 1954): accumulate
    positive deviations above a robust target and alarm when the
    running sum clears a threshold — the standard sequential
    change-detection gate on pipeline telemetry feeds (a level shift
    trips it long before any per-point outlier rule does).

        target = median + k·MAD          (robust, engine-exact)
        s_0 = 0,  s_t = max(0, s_{t−1} + (x_t − target))
        alarm ⇔ MAD > 0  ∧  max_t s_t > h·MAD

    The (s, s_max) pair is a FOLD over the time-ordered deviations
    with a 2-element array accumulator — identical float op sequence
    to a serial scan, so cross-engine equality is exact by
    construction. Median and MAD are exact order statistics (computed
    from the user's sorted value array by the same even/odd-midpoint
    formula on both engines), never a parallel float sum. One shuffle
    total: the per-user aggregate that builds the array; everything
    after is in-row.
    """
    arr = events.groupBy("user_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("ts", "event_id", "value"))),
            lambda s: s["value"],
        ).alias("vs")
    )

    def arr_median(col):
        n = F.size(col)
        mid = F.floor((n + F.lit(1)) / 2).cast("int")
        return F.when(
            n % 2 == 1, F.element_at(col, mid)
        ).otherwise(
            (
                F.element_at(col, (n / F.lit(2)).cast("int"))
                + F.element_at(col, (n / F.lit(2)).cast("int") + 1)
            )
            / F.lit(2.0)
        )

    staged = (
        arr.select("user_id", "vs", F.array_sort("vs").alias("sv"))
        .select("user_id", "vs", arr_median(F.col("sv")).alias("med"))
        .select(
            "user_id",
            "vs",
            "med",
            F.array_sort(
                F.transform(F.col("vs"), lambda v: F.abs(v - F.col("med")))
            ).alias("ma"),
        )
        .select(
            "user_id", "vs", "med", arr_median(F.col("ma")).alias("mad")
        )
        .select(
            "user_id",
            "vs",
            "mad",
            (F.col("med") + F.lit(k) * F.col("mad")).alias("target"),
        )
    )
    fold = F.aggregate(
        F.transform(F.col("vs"), lambda v: v - F.col("target")),
        F.array(F.lit(0.0), F.lit(0.0)),
        lambda acc, d: F.array(
            F.greatest(F.lit(0.0), F.element_at(acc, 1) + d),
            F.greatest(
                F.element_at(acc, 2),
                F.greatest(F.lit(0.0), F.element_at(acc, 1) + d),
            ),
        ),
    )
    return staged.select(
        "user_id",
        F.size("vs").cast("long").alias("n_obs"),
        F.round("target", 6).alias("target"),
        F.round(F.element_at(fold, 2), 6).alias("cusum_max"),
        (
            (F.col("mad") > 0.0)
            & (F.element_at(fold, 2) > F.lit(h) * F.col("mad"))
        ).alias("alarm"),
    )


def holt_winters(
    events: DataFrame,
    alpha: float = 0.3,
    beta: float = 0.05,
    gamma: float = 0.2,
    period: int = 24,
) -> DataFrame:
    """Per-event-type Holt-Winters additive seasonal smoothing over
    the hourly-bucketed value series — the third rung of the smoothing
    family (:func:`ewma_level` → :func:`holt_linear` → here), adding a
    daily seasonal profile (period = 24 hour-of-day phases):

        l_t = α·(x_t − s_{t−m}) + (1−α)·(l_{t−1} + b_{t−1})
        b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}
        s_t = γ·(x_t − l_t)    + (1−γ)·s_{t−m}

    Cross-engine float discipline, layered:

    * Series values are hourly SUMS — a float sum's partial-aggregate
      order differs between engines, so each event contributes an
      integer 1e-4 tick (``floor(value·10000 + 0.5)``) and the bucket
      sum is exact BIGINT arithmetic (the rolling-window technique);
      ``x_t = ticks/10000.0`` is then the identical double everywhere.
    * The classic two-season init (l₀ = mean of season 1, b₀ = mean
      season-over-season step, s_p = phase-p mean deviation from l₀
      over the first two seasons, 0 for phases unseen there — the
      series has gaps, so phase comes from the bucket's wall-clock
      hour, not the array index) is computed ENTIRELY in tick space:
      integer sums are order-independent, and each seed is a single
      division of exact integers — identical doubles by construction.
    * The coupled recurrence has no window form; it is a FOLD from
      t = 2m+1 with a flat (m+2)-element DOUBLE-array accumulator
      ``[l, b, s_0..s_{m-1}]`` (flat list, not a struct — DuckDB 1.0
      ``list_reduce`` leaks updated struct fields between field
      expressions), so the float op sequence matches the serial
      oracle exactly; rounding only on output.

    Scale: one map-side-combinable (type, hour) agg is the only corpus
    shuffle; per-key fold state is m+2 doubles and the array is
    bounded by hours in the retention window, not by events."""
    m = period
    hourly = events.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hb")
    ).agg(
        F.sum(
            F.floor(F.col("value") * 10000.0 + F.lit(0.5)).cast("long")
        ).alias("tick")
    )
    arr = (
        hourly.groupBy("event_type")
        .agg(
            F.sort_array(F.collect_list(F.struct("hb", "tick"))).alias("obs")
        )
        .select(
            "event_type",
            F.transform("obs", lambda s: s["tick"]).alias("tk"),
            F.transform(
                "obs", lambda s: F.hour(s["hb"]).cast("int")
            ).alias("ph"),
        )
        .filter(F.size("tk") > 2 * m)
        # hoist every slice into a named column: element_at/aggregate
        # over an INLINE slice re-evaluates the slice per element
        .select(
            "event_type", "tk", "ph",
            F.slice("tk", 1, m).alias("tk1"),
            F.slice("tk", m + 1, m).alias("tk2"),
            F.slice("tk", 1, 2 * m).alias("tk2m"),
            F.slice("ph", 1, 2 * m).alias("ph2m"),
            F.slice("tk", 2 * m + 1, F.size("tk") - 2 * m).alias("tkr"),
            F.slice("ph", 2 * m + 1, F.size("ph") - 2 * m).alias("phr"),
        )
    )

    def lsum(col):
        return F.aggregate(col, F.lit(0).cast("long"), lambda a, v: a + v)

    s1, s2 = lsum(F.col("tk1")), lsum(F.col("tk2"))
    l0 = s1.cast("double") / F.lit(10000.0 * m)
    b0 = (s2 - s1).cast("double") / F.lit(10000.0 * m * m)

    def phase_sum(p):
        return F.aggregate(
            F.zip_with(
                "tk2m", "ph2m",
                lambda t, q: F.when(q == p, t).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda a, v: a + v,
        )

    def phase_cnt(p):
        return F.aggregate(
            F.transform(
                "ph2m", lambda q: F.when(q == p, F.lit(1)).otherwise(F.lit(0))
            ),
            F.lit(0),
            lambda a, v: a + v,
        )

    seeds = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda p: F.when(phase_cnt(p) == 0, F.lit(0.0)).otherwise(
            phase_sum(p).cast("double")
            / (phase_cnt(p).cast("double") * F.lit(10000.0))
            - l0
        ),
    )
    xs = F.zip_with(
        "tkr", "phr",
        lambda t, q: F.array(t.cast("double") / F.lit(10000.0), q.cast("double")),
    )
    staged = arr.select(
        "event_type", "tk", "ph",
        xs.alias("xs"),
        F.concat(F.array(l0, b0), seeds).alias("acc0"),
    )

    def step(acc, x):
        x1 = F.element_at(x, 1)
        pidx = F.element_at(x, 2).cast("int") + 3
        s_old = F.element_at(acc, pidx)
        l_prev, b_prev = F.element_at(acc, 1), F.element_at(acc, 2)
        l_new = (
            F.lit(alpha) * (x1 - s_old)
            + F.lit(1.0 - alpha) * (l_prev + b_prev)
        )
        b_new = F.lit(beta) * (l_new - l_prev) + F.lit(1.0 - beta) * b_prev
        s_new = F.lit(gamma) * (x1 - l_new) + F.lit(1.0 - gamma) * s_old
        return F.transform(
            F.sequence(F.lit(1), F.lit(m + 2)),
            lambda j: F.when(j == 1, l_new)
            .when(j == 2, b_new)
            .when(j == pidx, s_new)
            .otherwise(F.element_at(acc, j)),
        )

    folded = staged.select(
        "event_type", "tk", "ph",
        F.aggregate(F.col("xs"), F.col("acc0"), step).alias("st"),
    )
    st = F.col("st")
    p_next = (F.element_at("ph", -1) + 1) % F.lit(m)
    s_next = F.element_at(st, p_next + 3)
    seas = F.slice(st, 3, m)
    return folded.select(
        F.col("event_type").alias("group_key"),
        F.size("tk").cast("long").alias("n_obs"),
        F.round(F.element_at(st, 1), 6).alias("level"),
        F.round(F.element_at(st, 2), 6).alias("trend"),
        F.round(s_next, 6).alias("seasonal_next"),
        F.round(
            F.element_at(st, 1) + F.element_at(st, 2) + s_next, 6
        ).alias("forecast"),
        F.round(F.array_max(seas) - F.array_min(seas), 6).alias(
            "seasonal_amplitude"
        ),
    )
