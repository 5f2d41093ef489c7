"""Event-stream batch ops: gap sessionization + per-session rollups.

The Versa reference has no event surface; these are the engine-checklist
ops a transcript/telemetry pipeline needs next to the KG job (the
`events` test table exists for them).  Plan shapes:

* ``sessionize`` — two stacked windows over the SAME (user) partitioning
  (lag to mark gaps, running sum to assign session ids), so Catalyst
  plans ONE exchange + one sort for both;
* ``session_stats`` — groupBy (user, session) with map-side partial
  aggregation; JSON props are extracted with get_json_object (JVM
  Jackson, no UDF).

At 100 TB the exchange hashes on user_id (high cardinality, no hot key —
a user emits a bounded event rate); AQE handles stragglers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from versa_spark.sqlquote import quote_ident


def sessionize(events: DataFrame, user_col: str = "user_id",
               ts_col: str = "ts", gap_minutes: int = 30) -> DataFrame:
    """Adds ``session_id`` (0-based per user): a new session starts when
    the gap since the user's previous event exceeds *gap_minutes*."""
    w = Window.partitionBy(user_col).orderBy(ts_col)
    # NTZ-safe: cast to timestamp for unix_micros; only
    # DIFFERENCES of micros are used, so any fixed session-tz
    # offset cancels
    ts = F.col(ts_col).cast("timestamp")
    prev = F.lag(ts).over(w)
    # integer microseconds: exact arithmetic, same in any engine (no
    # float-epoch rounding ambiguity at sub-second precision)
    new_session = F.when(
        prev.isNull() | (F.unix_micros(ts)
                         - F.unix_micros(prev)
                         > gap_minutes * 60 * 1_000_000), 1).otherwise(0)
    return (events
            .withColumn("_new", new_session)
            .withColumn("session_id",
                        F.sum("_new").over(
                            w.rowsBetween(Window.unboundedPreceding,
                                          Window.currentRow)) - 1)
            .drop("_new"))


def session_stats(events: DataFrame, user_col: str = "user_id",
                  ts_col: str = "ts", gap_minutes: int = 30,
                  value_col: str = "value",
                  props_col: str = "props",
                  type_col: str = "event_type") -> DataFrame:
    """Per-session rollup: event count, span seconds, value sum, distinct
    event types, and the max of the JSON prop ``k`` (get_json_object —
    JVM-side semi-structured extraction)."""
    s = sessionize(events, user_col, ts_col, gap_minutes)
    k = F.get_json_object(F.col(props_col), "$.k").cast("int")
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    return (s.groupBy(F.col(user_col).alias("user_id"), "session_id")
            .agg(F.count("*").alias("n_events"),
                 F.floor((F.max(us) - F.min(us)) / 1_000_000)
                 .cast("long").alias("span_s"),
                 # decimal accumulation: exact and association-free, so
                 # the rounded sum is engine-independent
                 F.round(F.sum(F.col(value_col).cast("decimal(18,6)")), 2)
                 .cast("double").alias("value_sum"),
                 F.countDistinct(type_col).alias("n_types"),
                 F.max(k).alias("max_k")))


def asof_join(left: DataFrame, right: DataFrame,
              by: str = "user_id", on: str = "ts",
              right_cols: tuple[str, ...] = ("event_type", "value"),
              suffix: str = "_r",
              tiebreak: str | None = None) -> DataFrame:
    """Backward as-of join: each left row gains the columns of the
    LATEST right row with the same *by* key and right.on <= left.on
    (inclusive); unmatched left rows keep NULLs.  Spark has no built-in
    as-of join — the naive emulation (range join + groupBy max + self
    join) shuffles the corpus three times and explodes on wide
    tolerance windows.

    This is the single-shuffle formulation: tag both sides, UNION, and
    run ONE window (partitionBy *by*, orderBy (*on*, side)) carrying the
    last non-null right payload forward — right rows sort BEFORE left
    rows at equal timestamps, so ties match inclusively.  Exactly one
    exchange keyed on *by* (high-cardinality, bounded per-key rate, the
    sessionize key discipline); payload rides as one struct column, so
    window state is O(1) per row regardless of how many right columns
    are carried.

    Determinism: when several right rows share (*by*, *on*), pass
    *tiebreak* (a right column ordered ascending; the LAST one wins) —
    otherwise which of the tied rows is carried is plan-dependent.
    The DuckDB oracle replays the same semantics with its native
    ``ASOF JOIN`` over a per-(by, on) deduped right side.
    """
    payload = F.struct(*[F.col(c).alias(c + suffix) for c in right_cols])
    # a NULL right timestamp would sort nulls-first and poison every
    # left row up to the first real right row with its payload; an
    # unknown-time right row can never be "the latest at or before" —
    # drop it (left rows with NULL `on` sort first and stay unmatched)
    right = right.filter(F.col(on).isNotNull())
    r = right.select(
        F.col(by).alias(by), F.col(on).alias(on),
        F.lit(0).alias("_side"),
        (F.col(tiebreak) if tiebreak is not None
         else F.lit(0)).alias("_tb"),
        payload.alias("_payload"))
    left_cols = left.columns
    l = left.select(
        *left_cols, F.lit(1).alias("_side"),
        F.lit(None).cast(r.schema["_tb"].dataType).alias("_tb"),
        F.lit(None).cast(r.schema["_payload"].dataType).alias("_payload"))
    # align schemas: left keeps all its columns; right rows carry NULLs
    # for the left-only columns (they are filtered out after the window)
    for c in left_cols:
        if c not in (by, on):
            r = r.withColumn(c, F.lit(None).cast(dict(left.dtypes)[c]))
    u = l.unionByName(r.select(*l.columns))
    w = (Window.partitionBy(by)
         .orderBy(F.col(on).asc(), F.col("_side").asc(), F.col("_tb").asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    matched = (u.withColumn("_m", F.last("_payload", ignorenulls=True)
                            .over(w))
               .filter(F.col("_side") == 1))
    return matched.select(
        *left_cols,
        *[F.col("_m")[c + suffix].alias(c + suffix) for c in right_cols])


def funnel(events: DataFrame, steps: tuple[str, ...] = ("signup", "click",
                                                        "purchase"),
           user_col: str = "user_id", ts_col: str = "ts",
           type_col: str = "event_type") -> DataFrame:
    """Ordered funnel analysis: for each prefix of *steps*, how many
    users performed every step in order (each step at or after the
    previous step's FIRST qualifying occurrence — the standard
    strict-order funnel).  Returns (stage_ix int, stage string,
    n_users long), one row per step.

    Plan: per step, filter → join to the previous frontier on the user
    key → min-timestamp aggregate.  Every frame after the first filter
    is user-keyed and frontier-sized (monotonically shrinking), all
    joins co-partition on the same key, and the step count is a small
    constant — at 10^12 events this is k narrow hash joins, never a
    per-user sort of the full stream.  Counts ride a union of 1-row
    aggregates.

    Each frontier feeds TWO consumers (its count and the next stage's
    join), so frontiers are persisted for the duration and the k-row
    result is eagerly checkpointed before the caches release — without
    this, the single output action re-executes stage i's whole chain
    once per later stage (the multiply-consumed-frame lifecycle, cf.
    dedup.minhash_lsh_candidates)."""
    frontier = None
    frontiers = []
    counts = []
    for ix, step in enumerate(steps):
        stage = events.filter(F.col(type_col) == step).select(
            F.col(user_col).alias("_u"), F.col(ts_col).alias("_t"))
        if frontier is not None:
            stage = (stage.join(frontier, "_u")
                     .filter(F.col("_t") >= F.col("_prev"))
                     .select("_u", "_t"))
        frontier = stage.groupBy("_u").agg(
            F.min("_t").alias("_prev")).persist()
        frontiers.append(frontier)
        counts.append(frontier.agg(
            F.lit(ix).alias("stage_ix"), F.lit(step).alias("stage"),
            F.count("*").alias("n_users")))
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    try:
        return out.localCheckpoint(eager=True)
    finally:
        for f in frontiers:
            f.unpersist()


def windowed_rollup(events: DataFrame, bucket_s: int = 3600,
                    user_col: str = "user_id", ts_col: str = "ts",
                    type_col: str = "event_type",
                    value_col: str = "value") -> DataFrame:
    """Tumbling-window rollup: (bucket_us, event_type, n_events,
    n_users, value_sum) per *bucket_s*-second window.  The batch twin
    of the streaming watermarked windowed aggregation (streaming.py) —
    identical semantics, one partial/final aggregate pair.  Bucket
    boundaries come from INTEGER epoch arithmetic
    (epoch_us // width * width), never `date_trunc`: local-time
    truncation shifts with the session timezone (a +5:30 zone moves
    every "hour" boundary), while epoch division is tz-free and
    identical in any engine — the sessionize convention.  value_sum
    accumulates in DECIMAL (exact, association-free), rounds to 2 dp."""
    width_us = int(bucket_s) * 1_000_000
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    b = (us - (us % width_us))
    return (events.groupBy(b.alias("bucket_us"),
                           F.col(type_col).alias("event_type"))
            .agg(F.count("*").alias("n_events"),
                 F.countDistinct(user_col).alias("n_users"),
                 F.round(F.sum(F.col(value_col).cast("decimal(18,6)")), 2)
                 .cast("double").alias("value_sum")))


def value_percentiles(events: DataFrame, ps: tuple[float, ...] =
                      (0.5, 0.9, 0.99), type_col: str = "event_type",
                      value_col: str = "value") -> DataFrame:
    """Exact linear-interpolated percentiles of *value_col* per event
    type (the type-7 quantile both Spark's ``percentile`` and DuckDB's
    ``quantile_cont`` implement), rounded to 6 dp.

    Exact percentile is a sort-based aggregate — fine per group when
    group cardinality is bounded; for 10^12-row groups switch to
    ``approx_percentile`` (t-digest, mergeable map-side) and accept the
    documented error bound.  This operator is the exact-verification
    twin the approximate path is validated against."""
    # column names in PERCENT: p50 is the median, p99_5 for p=0.995 —
    # str(p).replace('0.','') would have named the median 'p5'
    vc = quote_ident(value_col)
    aggs = [F.round(F.expr(f"percentile({vc}, {p!r})"), 6)
            .alias("p" + f"{p * 100:g}".replace(".", "_")) for p in ps]
    return (events.groupBy(F.col(type_col).alias("event_type"))
            .agg(*aggs))


def retention_cohorts(events: DataFrame, bucket_s: int = 86_400 * 7,
                      user_col: str = "user_id",
                      ts_col: str = "ts") -> DataFrame:
    """Cohort retention: users grouped by the bucket of their FIRST
    event (cohort), counted in every later bucket they were active.
    Returns (cohort_us long, bucket_offset int, n_users long) —
    bucket_offset 0 is the cohort bucket itself, so its n_users is the
    cohort size.

    Buckets use the same tz-free integer epoch arithmetic as
    windowed_rollup.  Plan: one user-keyed aggregate finds first-event
    buckets; distinct (user, bucket) activity joins it back on the user
    key (co-partitioned); the final rollup is bucket-pair-keyed —
    cardinality (n_buckets²), trivially small.  The user-activity frame
    feeds two consumers → persisted, result eagerly checkpointed, cache
    released (the multiply-consumed-frame lifecycle)."""
    width_us = int(bucket_s) * 1_000_000
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    activity = (events
                .select(F.col(user_col).alias("_u"),
                        (us - us % width_us).alias("_b"))
                .distinct().persist())
    try:
        first = activity.groupBy("_u").agg(F.min("_b").alias("_cohort"))
        out = (activity.join(first, "_u")
               .groupBy(F.col("_cohort").alias("cohort_us"),
                        ((F.col("_b") - F.col("_cohort")) / width_us)
                        .cast("int").alias("bucket_offset"))
               .agg(F.count("*").alias("n_users")))
        return out.localCheckpoint(eager=True)
    finally:
        activity.unpersist()
