"""Time-series gap-fill (SURVEY.md §2.5/§2.9 adjacent — the hypertable
rollup shape).

Continuous-aggregate semantics over an irregular event stream: bucket to
a fixed grid, then materialize EVERY grid slot — including empty ones —
with counts zero-filled and the running value forward-filled (LOCF).
Monitoring, billing and feature-store pipelines all need the dense form;
the sparse group-by alone silently drops the empty buckets that usually
matter most (outages look like missing rows, not zeros).

Spark-first construction, no UDFs anywhere:

1. sparse rollup: one hash aggregate on (series, bucket) — exact cents;
2. spine: ``sequence(min_bucket, max_bucket, step)`` exploded from the
   1-row bounds aggregate, cross-joined (broadcast, bounded: n_series x
   n_buckets) with the distinct series keys;
3. left join sparse onto spine (broadcast of the sparse side when small,
   shuffle otherwise — Catalyst's call);
4. LOCF: ``last(value, ignorenulls=True)`` over (series, bucket) rows
   frame — one window pass; leading gaps stay NULL by definition.

At 100 TB the spine is never the problem (grid cardinality ~ series x
slots, independent of event count); the rollup is the same mergeable
aggregate as any group-by, and the LOCF window shuffles the DENSE grid,
not the raw events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import spec, sql_spec
from .aggregates import scaled_long, unscale

BUCKET_US = 10 * 60 * 1_000_000  # 10-minute grid


def _dense_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, bucket_us, n_events, sum_c) on the full 10-minute
    grid — NULL n_events/sum_c on empty buckets. Shared spine for
    gapfill and interpolation."""
    e = table(spark, sf_dir, "events")
    # integer `div`, not `/`: float division of ~1e15 microseconds can
    # round across a bucket edge before the cast; both engines must
    # floor-divide in integers (DuckDB side uses //)
    bucket = (
        F.expr(f"unix_micros(cast(ts as timestamp)) div {BUCKET_US}")
        * F.lit(BUCKET_US)
    )

    # Plan-shape note (r6 sf1 profile): the sparse rollup feeds bounds
    # AND the spine join while the series list scans events directly —
    # 7 jobs / 205 tasks / 0.75 s at sf1. Single-scan rewrites measured
    # SLOWER (localCheckpoint 1.02 s, global-window bounds 1.10 s): the
    # repeated subtrees are cheap relative to Spark's per-stage
    # constant here. At 100 TB the rollup is PERSISTED continuous-
    # aggregate state (the hypertable pattern; see stream_mv_refresh),
    # so the grid is built from stored partials, not rescans.
    sparse = e.groupBy(
        F.col("event_type"), bucket.alias("bucket_us")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(scaled_long("value")).alias("sum_c"),
    )

    bounds = sparse.agg(
        F.min("bucket_us").alias("lo"), F.max("bucket_us").alias("hi")
    )
    buckets = bounds.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.lit(BUCKET_US))
        ).alias("bucket_us")
    )
    series = e.select("event_type").distinct()
    spine = series.crossJoin(F.broadcast(buckets))
    return spine.join(sparse, ["event_type", "bucket_us"], "left")


def ts_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    dense = _dense_grid(spark, sf_dir)
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket_us")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return dense.select(
        "event_type",
        "bucket_us",
        F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
        unscale(F.last("sum_c", ignorenulls=True).over(w), 2).alias(
            "filled_sum"
        ),
    )


ORACLE_TS_GAPFILL = """
WITH sparse AS (
  SELECT
    event_type,
    (epoch_us(ts) // 600000000) * 600000000 AS bucket_us,
    COUNT(*) AS n_events,
    SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS sum_c
  FROM events
  GROUP BY 1, 2
),
bounds AS (
  SELECT MIN(bucket_us) AS lo, MAX(bucket_us) AS hi FROM sparse
),
spine AS (
  SELECT t.event_type, g.bucket_us
  FROM (SELECT DISTINCT event_type FROM events) t
  CROSS JOIN (
    SELECT UNNEST(generate_series(lo, hi, 600000000)) AS bucket_us
    FROM bounds
  ) g
)
SELECT
  s.event_type,
  s.bucket_us,
  COALESCE(p.n_events, 0) AS n_events,
  CAST(CAST(LAST_VALUE(p.sum_c IGNORE NULLS) OVER (
         PARTITION BY s.event_type ORDER BY s.bucket_us
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS DECIMAL(38,0)) / 100 AS DOUBLE) AS filled_sum
FROM spine s
LEFT JOIN sparse p USING (event_type, bucket_us)
"""


def ts_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation across empty buckets (the gapfill twin that
    estimates instead of carrying forward).

    Per series, an empty bucket's value is interpolated between the
    last and next OBSERVED bucket sums, proportional to time distance;
    leading/trailing gaps fall back to the nearest observation. Two
    window passes, both as RUNNING (unboundedPreceding..current)
    IGNORE-NULLS ``last`` frames — the forward lookup rides a
    DESCENDING sort rather than a (current..unboundedFollowing)
    frame, because Spark's unbounded-following frame re-aggregates
    the partition tail PER ROW: O(n^2) per series, measured 3.4 s vs
    0.8 s for the one-directional gapfill twin on the same 21.6k-row
    grid (r14). One shuffle on event_type, two O(n) sorts, state O(1)
    per partition, so the plan survives any series length.

    Float discipline: a ROUND(double, 4) here hits EXACT half-ties
    (grid positions are small dyadic fractions: cents * k/16 etc.), and
    the two engines' double-round implementations disagree on ties
    (measured: 8742.875 cents -> 87.4288 Spark, 87.4287 DuckDB). So the
    interpolation itself is exact int64 arithmetic at scale 4 with an
    explicit integer half-up, and the ONLY float op is the final
    /10000.0 of an integer both engines already agree on. Gap offsets
    are divided down to grid steps first so the widest plausible gap
    stays far from int64 overflow.
    """
    dense = _dense_grid(spark, sf_dir)
    w_prev = (
        Window.partitionBy("event_type")
        .orderBy("bucket_us")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_next = (
        Window.partitionBy("event_type")
        .orderBy(F.col("bucket_us").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    known_bucket = F.when(
        F.col("sum_c").isNotNull(), F.col("bucket_us")
    )
    prev_c = F.last("sum_c", ignorenulls=True).over(w_prev)
    prev_b = F.last(known_bucket, ignorenulls=True).over(w_prev)
    next_c = F.last("sum_c", ignorenulls=True).over(w_next)
    next_b = F.last(known_bucket, ignorenulls=True).over(w_next)
    ctx = dense.select(
        "event_type",
        "bucket_us",
        "n_events",
        "sum_c",
        prev_c.alias("prev_c"),
        prev_b.alias("prev_b"),
        next_c.alias("next_c"),
        next_b.alias("next_b"),
    )
    # exact interpolation at scale 4 (cents * 100): value_e4 =
    # round_half_up((prev*den + diff*num) * 100 / den) over positive
    # int64 — (2x + den) div (2 den) is floor==truncate on positives,
    # so Spark `div` and DuckDB `//` agree. POSITIVE is load-bearing:
    # Spark div truncates toward zero, DuckDB // floors, so a negative
    # total would silently diverge by 1 ulp-of-scale-4. total >= 0 iff
    # events.value >= 0, which the fixture-domain guard
    # (tests/test_properties.py::test_events_value_nonnegative) pins;
    # a signed-value dataset needs pmod-style floor arithmetic here.
    ctx = ctx.withColumns(
        {
            "num": F.expr(f"(bucket_us - prev_b) div {BUCKET_US}"),
            "den": F.expr(f"(next_b - prev_b) div {BUCKET_US}"),
        }
    ).withColumn(
        "total",
        (
            F.col("prev_c") * F.col("den")
            + (F.col("next_c") - F.col("prev_c")) * F.col("num")
        )
        * F.lit(100),
    )
    interp_e4 = F.expr("(2 * total + den) div (2 * den)")
    e4 = (
        F.when(F.col("sum_c").isNotNull(), F.col("sum_c") * F.lit(100))
        .when(F.col("prev_b").isNull(), F.col("next_c") * F.lit(100))
        .when(F.col("next_b").isNull(), F.col("prev_c") * F.lit(100))
        .otherwise(interp_e4)
    )
    return ctx.select(
        "event_type",
        "bucket_us",
        F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
        (e4 / F.lit(10000.0)).alias("interp_sum"),
    )


ORACLE_TS_INTERPOLATE = """
WITH sparse AS (
  SELECT
    event_type,
    (epoch_us(ts) // 600000000) * 600000000 AS bucket_us,
    COUNT(*) AS n_events,
    SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS sum_c
  FROM events
  GROUP BY 1, 2
),
bounds AS (
  SELECT MIN(bucket_us) AS lo, MAX(bucket_us) AS hi FROM sparse
),
spine AS (
  SELECT t.event_type, g.bucket_us
  FROM (SELECT DISTINCT event_type FROM events) t
  CROSS JOIN (
    SELECT UNNEST(generate_series(lo, hi, 600000000)) AS bucket_us
    FROM bounds
  ) g
),
dense AS (
  SELECT s.event_type, s.bucket_us, p.n_events,
         CAST(p.sum_c AS BIGINT) AS sum_c
  FROM spine s
  LEFT JOIN sparse p USING (event_type, bucket_us)
),
ctx AS (
  SELECT *,
    LAST_VALUE(sum_c IGNORE NULLS) OVER (
      PARTITION BY event_type ORDER BY bucket_us
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_c,
    LAST_VALUE(CASE WHEN sum_c IS NOT NULL THEN bucket_us END IGNORE NULLS)
      OVER (PARTITION BY event_type ORDER BY bucket_us
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_b,
    FIRST_VALUE(sum_c IGNORE NULLS) OVER (
      PARTITION BY event_type ORDER BY bucket_us
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_c,
    FIRST_VALUE(CASE WHEN sum_c IS NOT NULL THEN bucket_us END IGNORE NULLS)
      OVER (PARTITION BY event_type ORDER BY bucket_us
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_b
  FROM dense
),
scaled AS (
  SELECT *,
    (bucket_us - prev_b) // 600000000 AS num,
    (next_b - prev_b) // 600000000 AS den
  FROM ctx
),
tot AS (
  SELECT *,
    (prev_c * den + (next_c - prev_c) * num) * 100 AS total
  FROM scaled
)
SELECT
  event_type,
  bucket_us,
  COALESCE(n_events, 0) AS n_events,
  CAST(
    CASE
      WHEN sum_c IS NOT NULL THEN sum_c * 100
      WHEN prev_b IS NULL THEN next_c * 100
      WHEN next_b IS NULL THEN prev_c * 100
      ELSE (2 * total + den) // (2 * den)
    END AS BIGINT) / 10000.0 AS interp_sum
FROM tot
"""


HOUR_US = 3600 * 1_000_000
WEEK_US = 7 * 24 * 3600 * 1_000_000


def ts_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC downsample per series — the classic hypertable /
    financial-rollup shape (open/high/low/close of ``value`` per
    (event_type, hour)).

    One hash aggregate, no window: open/close are ``min_by``/``max_by``
    with a (ts, event_id) struct ordering key — the full total order, so
    ties on ts are deterministic (events has no uniqueness guarantee on
    ts alone). Partial aggregation applies (min_by/max_by are
    mergeable), so at 100 TB this is a map-side-combined single shuffle
    on (series, bucket) — grid cardinality out, event count in.

    Values are picks (never float accumulation), so doubles are exact.
    """
    e = table(spark, sf_dir, "events")
    bucket = (
        F.expr(f"unix_micros(cast(ts as timestamp)) div {HOUR_US}")
        * F.lit(HOUR_US)
    )
    order_key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        e.groupBy(F.col("event_type"), bucket.alias("hour_us"))
        .agg(
            F.min_by("value", order_key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", order_key).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


ORACLE_TS_OHLC = """
SELECT
  event_type,
  (epoch_us(ts) // 3600000000) * 3600000000 AS hour_us,
  FIRST(value ORDER BY ts, event_id) AS open,
  MAX(value) AS high,
  MIN(value) AS low,
  LAST(value ORDER BY ts, event_id) AS close,
  COUNT(*) AS n_events
FROM events
GROUP BY 1, 2
"""


def ts_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-seen week
    (cohort) x week of activity, with distinct-user and event counts.

    Week index is a timezone-free integer (``unix_micros div week``) so
    both engines bucket identically with no week-start convention.

    One shuffle fewer than the join formulation: the per-user cohort is
    ``min(week) OVER (PARTITION BY user_id)`` — the same hash exchange a
    groupBy(user)+join-back would need, but used once — then a single
    mergeable aggregate on (cohort_week, active_week). The exact
    count_distinct adds its usual expand pass; cardinality after the
    window is (users x active weeks), already far below raw events at
    scale.
    """
    e = table(spark, sf_dir, "events")
    week = F.expr(f"unix_micros(cast(ts as timestamp)) div {WEEK_US}")
    w = Window.partitionBy("user_id")
    cohorted = e.select(
        "user_id", week.alias("active_week")
    ).withColumn("cohort_week", F.min("active_week").over(w))
    return (
        cohorted.groupBy("cohort_week", "active_week")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


ORACLE_TS_COHORT_RETENTION = """
WITH weeks AS (
  SELECT
    user_id,
    epoch_us(ts) // 604800000000 AS active_week
  FROM events
),
cohorted AS (
  SELECT
    user_id,
    active_week,
    MIN(active_week) OVER (PARTITION BY user_id) AS cohort_week
  FROM weeks
)
SELECT
  cohort_week,
  active_week,
  COUNT(DISTINCT user_id) AS n_users,
  COUNT(*) AS n_events
FROM cohorted
GROUP BY 1, 2
"""


DAY_US = 24 * 3600 * 1_000_000
DAU_WINDOW_DAYS = 7


def ts_rolling_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling 7-day active users per day (the WAU/MAU shape).

    Exact sliding DISTINCT cannot ride a window frame (distinct state
    is not mergeable across frame slides), so the scalable form inverts
    it: each (user, active day) pair is exploded to the <=7 window-end
    days it counts toward — a BOUNDED expansion (x window size) of the
    already-deduplicated (user, day) set, not of raw events — then one
    exact count-distinct per window-end day. At 100 TB: events reduce
    to (user, day) first (mergeable pre-aggregation, the big win), the
    x7 explode happens after that collapse, and the final
    count_distinct is the standard two-phase exact plan. The sketch
    escape hatch (approx_count_distinct / HLL union over days) trades
    this for one pass when a ~2% bound is acceptable — see agg_approx.

    Day index is timezone-free integer floor-division like the other
    ts operators.
    """
    e = table(spark, sf_dir, "events")
    day = F.expr(f"unix_micros(cast(ts as timestamp)) div {DAY_US}")
    user_days = e.select(
        "user_id", day.alias("day_idx")
    ).distinct()
    exploded = user_days.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("day_idx"),
                F.col("day_idx") + F.lit(DAU_WINDOW_DAYS - 1),
            )
        ).alias("window_end_day"),
    )
    # only report window-end days that actually occur in the data, so
    # the trailing ramp-out past max(day) is not emitted
    observed = user_days.select(
        F.col("day_idx").alias("window_end_day")
    ).distinct()
    return (
        exploded.join(observed, "window_end_day")
        .groupBy("window_end_day")
        .agg(F.countDistinct("user_id").alias("dau_7d"))
    )


ORACLE_TS_ROLLING_DAU = """
WITH user_days AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day_idx
  FROM events
),
exploded AS (
  SELECT user_id, day_idx + g.offs AS window_end_day
  FROM user_days,
       (SELECT UNNEST(generate_series(0, 6)) AS offs) g
),
observed AS (
  SELECT DISTINCT day_idx AS window_end_day FROM user_days
)
SELECT e.window_end_day, COUNT(DISTINCT e.user_id) AS dau_7d
FROM exploded e
JOIN observed o USING (window_end_day)
GROUP BY e.window_end_day
"""


#: EWMA horizon: 8 taps with dyadic decay (alpha = 1/2). Weight of the
#: j-rows-back value is 2^(7-j); truncating at 8 taps loses < 1/256 of
#: the mass, and keeps every weight an exact small integer.
EWMA_TAPS = 8


# Exponentially weighted moving average of purchase values per user.
# The textbook EWMA is a recurrence (not expressible as a frame
# aggregate), but with dyadic decay and a fixed tap count it unrolls
# into 8 LAG terms with integer weights 128..1: pure window codegen, ONE
# shuffle (hash by user), no recursion, no UDF. All arithmetic is BIGINT
# cents, so the weighted numerator and the weight denominator are exact
# on both engines; the final ratio is a single IEEE division of two
# exact integers, bit-identical. Partial leading windows keep only the
# weights whose taps exist (den adapts), matching pandas'
# ewm(adjust=True) semantics. At 100 TB this is one hash exchange on
# user_id + one sort, the same minimal plan as win_lag.
def _ewma_oracle() -> str:
    taps = EWMA_TAPS
    num = " + ".join(
        f"COALESCE(LAG(c, {j}) OVER win, 0) * {1 << (taps - 1 - j)}"
        for j in range(taps)
    )
    den = " + ".join(
        f"CASE WHEN LAG(c, {j}) OVER win IS NOT NULL"
        f" THEN {1 << (taps - 1 - j)} ELSE 0 END"
        for j in range(taps)
    )
    return f"""
WITH e AS (
  SELECT event_id, user_id, ts, value,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
  FROM events WHERE event_type = 'purchase'
)
SELECT
  event_id, user_id, ts, value,
  {num} AS ewma_num_c,
  {den} AS ewma_den,
  CAST({num} AS DOUBLE) / CAST(({den}) * 100 AS DOUBLE) AS ewma
FROM e
WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


ORACLE_TS_EWMA = _ewma_oracle()

#: rolling-stats frame length and minimum support for a verdict
ZSCORE_FRAME = 16
ZSCORE_MIN_N = 8


# Rolling z-score anomaly gate: flag events whose value deviates from
# the user's trailing 16-event baseline by more than 1.5 standard
# deviations. |x - mean| > z*sigma is cleared of both divisions and the
# square root before evaluation:
#     4*(n*x - s)^2 > 9*(n*q - s^2)   (z = 3/2)
# with n, s (sum of cents), q (sum of squared cents) from one window
# frame pass. Every term is BIGINT (bounded by 16 * 49002^2 * 16 <<
# 2^63), so the predicate is an exact integer comparison on both
# engines. The 1.5 threshold matters: values here are bounded and
# uniform-ish, where a 2-sigma gate would be vacuously empty (uniform's
# max deviation is sqrt(3) sigma ~ 1.73). One hash exchange on user_id
# + one sort, the plan shape of win_frame.
ORACLE_TS_ANOMALY_ZSCORE = f"""
WITH e AS (
  SELECT event_id, user_id, ts, value,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
  FROM events
),
w AS (
  SELECT *,
         COUNT(*) OVER win AS n,
         CAST(SUM(c)   OVER win AS BIGINT) AS s,
         CAST(SUM(c*c) OVER win AS BIGINT) AS q
  FROM e
  WINDOW win AS (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN {ZSCORE_FRAME - 1} PRECEDING AND CURRENT ROW
  )
)
SELECT event_id, user_id, ts, value, n, s, q
FROM w
WHERE n >= {ZSCORE_MIN_N}
  AND 4 * (n*c - s) * (n*c - s) > 9 * (n*q - s*s)
"""


def ts_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the
    gaps-and-islands engagement metric (habit scoring, retention
    features). A day counts once no matter how many events it holds;
    a streak is a maximal run of adjacent calendar days.

    Construction (round-11 rewrite): ONE exchange. Events collapse
    straight to a per-user sorted day-set (``collect_set`` of day
    ordinals — the partial aggregate dedups map-side, so the shuffle
    carries day-sets, not event rows), then a single whole-stage-codegen
    ``aggregate()`` fold over each sorted array computes the longest
    run of consecutive ordinals, the island count, and the active-day
    total in O(days) with no window sort. The previous form (distinct
    -> row_number island key -> two aggregates) was equivalent but paid
    an extra exchange plus a per-user sort; at synthesized sf1 this
    fold is one stage pair instead of three (1.50 s -> measured below).

    At 100 TB: the day-set is calendar-bounded (<= ~365*years ints per
    user regardless of event volume), so per-group state is tiny and
    the one exchange is a mergeable ObjectHashAggregate — the same
    bounded-state contract as ts_cohort_retention. ``collect_set``
    drops NULLs; ``ts`` is non-null in this corpus (and a NULL day is
    not a calendar day, so the streak semantics would not want it).
    The fold seed's ``prev`` is INT_MIN+1 — no representable day
    ordinal equals prev+1 (Spark timestamps span ~±292k years ≈ ±107M
    days, 20x inside int range), so the first element always opens an
    island even for pre-1970 (negative-ordinal) days.
    Reference scope: beyond (task.ts has no streak analytics).
    """
    e = table(spark, sf_dir, "events")
    days = e.select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("d"),
    )
    per_user = days.groupBy("user_id").agg(
        F.array_sort(F.collect_set("d")).alias("ds")
    )
    fold = F.expr(
        """
        aggregate(
          ds,
          named_struct('prev', int(-2147483647), 'cur', 0L, 'best', 0L,
                       'n', 0L),
          (s, d) -> named_struct(
            'prev', d,
            'cur',  IF(d = s.prev + 1, s.cur + 1, 1L),
            'best', GREATEST(s.best, IF(d = s.prev + 1, s.cur + 1, 1L)),
            'n',    s.n + IF(d = s.prev + 1, 0L, 1L)),
          s -> s)
        """
    )
    return per_user.select(
        "user_id",
        fold["best"].alias("best_streak"),
        fold["n"].alias("n_streaks"),
        F.size("ds").cast("long").alias("n_active_days"),
    )


ORACLE_TS_STREAKS = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
),
islands AS (
  SELECT user_id, d,
         d - CAST(ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY d) AS INTEGER) AS anchor
  FROM days
),
streaks AS (
  SELECT user_id, anchor, COUNT(*) AS len
  FROM islands GROUP BY user_id, anchor
)
SELECT
  user_id,
  MAX(len) AS best_streak,
  COUNT(*) AS n_streaks,
  CAST(SUM(len) AS BIGINT) AS n_active_days
FROM streaks
GROUP BY user_id
"""


#: half-open activity span attributed to each event for interval
#: coalescing: [ts, ts + 30 min).
SPAN_US = 30 * 60 * 1_000_000


def ts_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coalesce each user's overlapping activity intervals into maximal
    islands — the interval-union operator behind availability windows,
    on-call coverage, and session stitching with a fixed lease. Each
    event opens a [ts, ts+30min) span; spans that overlap (or touch)
    merge transitively.

    Classic running-max construction, one window pass + one aggregate:
    ``prev_max_end = max(end) OVER (user ORDER BY start ROWS .. 1
    PRECEDING)``; a row opens a new island iff its start exceeds every
    earlier end; the island id is the running sum of those breaks.
    All arithmetic is integer microseconds — no float, no timezone.

    At 100 TB: the window partitions per user (bounded by one user's
    events, the same skew contract as win_sessionize); output is
    islands, not events. No self-join — the naive overlap-join
    formulation is O(n^2) per user and was never on the table.
    """
    e = table(spark, sf_dir, "events")
    spans = e.select(
        "user_id",
        "event_id",
        F.expr("unix_micros(cast(ts as timestamp))").alias("s_us"),
        (F.expr("unix_micros(cast(ts as timestamp))") + F.lit(SPAN_US)).alias(
            "e_us"
        ),
    )
    order = Window.partitionBy("user_id").orderBy("s_us", "event_id")
    prev_max_end = F.max("e_us").over(
        order.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = spans.withColumn(
        "brk",
        F.when(
            prev_max_end.isNull() | (F.col("s_us") > prev_max_end), 1
        ).otherwise(0),
    ).withColumn(
        "island",
        F.sum("brk").over(
            order.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return flagged.groupBy("user_id", "island").agg(
        F.min("s_us").alias("start_us"),
        F.max("e_us").alias("end_us"),
        F.count(F.lit(1)).alias("n_events"),
    )


ORACLE_TS_INTERVAL_MERGE = f"""
WITH spans AS (
  SELECT user_id, event_id,
         epoch_us(ts) AS s_us,
         epoch_us(ts) + {SPAN_US} AS e_us
  FROM events
),
flagged AS (
  SELECT user_id, s_us, e_us,
    CASE WHEN MAX(e_us) OVER (
           PARTITION BY user_id ORDER BY s_us, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) IS NULL
      OR s_us > MAX(e_us) OVER (
           PARTITION BY user_id ORDER BY s_us, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         )
    THEN 1 ELSE 0 END AS brk,
    event_id
  FROM spans
),
islands AS (
  SELECT user_id, s_us, e_us,
    CAST(SUM(brk) OVER (
      PARTITION BY user_id ORDER BY s_us, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS BIGINT) AS island
  FROM flagged
)
SELECT user_id, island,
  MIN(s_us) AS start_us,
  MAX(e_us) AS end_us,
  COUNT(*) AS n_events
FROM islands
GROUP BY user_id, island
"""


def ts_rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution continuous-aggregate hierarchy: hourly partials
    rolled up to 6-hour and daily grids by re-aggregating the HOURLY
    result — events are scanned exactly once, the coarser levels are
    derived from the finer one (the hypertable continuous-aggregate /
    materialized-rollup cascade).

    Everything in the partial is mergeable (count, integer-cent sum,
    min/max picks), which is the precondition for the cascade: avg at
    any level is derived sum/count, never an average of averages. At
    100 TB each level's input is the previous GRID (series x slots),
    not the corpus — the hourly aggregate is the only event-scale
    exchange, and the 6h/1d rollups are metadata-sized.

    The hourly partial is localCheckpointed: it is grid-sized, and the
    checkpoint makes "scan once" literal rather than relying on
    exchange reuse across the three union branches.
    """
    e = table(spark, sf_dir, "events")
    hour = (
        F.expr(f"unix_micros(cast(ts as timestamp)) div {HOUR_US}")
        * F.lit(HOUR_US)
    )
    hourly = (
        e.groupBy(F.col("event_type"), hour.alias("bucket_us"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(scaled_long("value")).alias("sum_c"),
            F.min("value").alias("min_val"),
            F.max("value").alias("max_val"),
        )
        .localCheckpoint(eager=False)
    )

    def _level(df: DataFrame, label: str, width_us: int) -> DataFrame:
        bucket = (F.col("bucket_us") - F.col("bucket_us") % width_us)
        return (
            df.groupBy("event_type", bucket.alias("bucket_us"))
            .agg(
                F.sum("n_events").alias("n_events"),
                F.sum("sum_c").alias("sum_c"),
                F.min("min_val").alias("min_val"),
                F.max("max_val").alias("max_val"),
            )
            .withColumn("level", F.lit(label))
        )

    out = (
        hourly.withColumn("level", F.lit("1h"))
        .unionByName(_level(hourly, "6h", 6 * HOUR_US))
        .unionByName(_level(hourly, "1d", 24 * HOUR_US))
    )
    return out.select(
        "level",
        "event_type",
        "bucket_us",
        "n_events",
        unscale(F.col("sum_c")).alias("sum_val"),
        "min_val",
        "max_val",
    )


ORACLE_TS_ROLLUP_HIERARCHY = f"""
WITH hourly AS (
  SELECT event_type,
    (epoch_us(ts) // {HOUR_US}) * {HOUR_US} AS bucket_us,
    COUNT(*) AS n_events,
    SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS sum_c,
    MIN(value) AS min_val,
    MAX(value) AS max_val
  FROM events
  GROUP BY 1, 2
),
levels AS (
  SELECT '1h' AS level, event_type, bucket_us, n_events, sum_c,
         min_val, max_val
  FROM hourly
  UNION ALL
  SELECT '6h', event_type,
         bucket_us - bucket_us % {6 * HOUR_US},
         CAST(SUM(n_events) AS BIGINT), CAST(SUM(sum_c) AS BIGINT),
         MIN(min_val), MAX(max_val)
  FROM hourly GROUP BY 2, 3
  UNION ALL
  SELECT '1d', event_type,
         bucket_us - bucket_us % {24 * HOUR_US},
         CAST(SUM(n_events) AS BIGINT), CAST(SUM(sum_c) AS BIGINT),
         MIN(min_val), MAX(max_val)
  FROM hourly GROUP BY 2, 3
)
SELECT level, event_type, bucket_us, n_events,
  CAST(CAST(sum_c AS DECIMAL(38,0)) / 100 AS DOUBLE) AS sum_val,
  min_val, max_val
FROM levels
"""


#: rolling-median window width (trailing hourly buckets)
MEDIAN_WIN = 6


def ts_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling median of hourly totals — the robust smoother dashboards
    and alerting pipelines put in front of spiky series (a single
    outlier hour moves a rolling MEAN by outlier/n; the median ignores
    it entirely).

    One hash aggregate to the hourly (event_type, bucket) grid, then
    exact ``percentile(.., 0.5)`` over a trailing {MEDIAN_WIN}-row
    frame. Exactness: the aggregated values are integer cents, so the
    even-count midpoint interpolation is either an integer or an exact
    .5 — representable in double bit-for-bit in both engines (DuckDB
    twin: windowed ``quantile_cont``, the same lerp definition).

    At 100 TB: the window runs on the GRID (series x hours), not on
    events — the rollup is the only corpus-scale exchange. Frame state
    is O({MEDIAN_WIN}) per row; contrast SCALE.md §16's materializing
    engines which spill the whole partition per frame evaluation.
    """
    e = table(spark, sf_dir, "events")
    bucket = F.expr(f"unix_micros(cast(ts as timestamp)) div {HOUR_US}")
    hourly = (
        e.select(bucket.alias("bucket"), scaled_long("value").alias("c"))
        .groupBy("bucket")
        .agg(F.sum("c").alias("total_c"))
        .withColumn("hour_us", F.col("bucket") * HOUR_US)
    )
    w = (
        Window.orderBy("bucket")
        .rowsBetween(-(MEDIAN_WIN - 1), Window.currentRow)
    )
    # the grid has ONE row per hour (grid-sized, not event-sized), so
    # the global orderBy window is bounded by the series length; a
    # per-series form would partition by the series key as the rest of
    # the ts family does
    return hourly.select(
        "hour_us",
        unscale(F.col("total_c"), 2).alias("total_value"),
        (
            F.percentile(F.col("total_c"), F.lit(0.5)).over(w)
            / F.lit(100.0)
        ).alias("rolling_median"),
    )


ORACLE_TS_ROLLING_MEDIAN = f"""
WITH hourly AS (
  SELECT
    (epoch_us(ts) // {HOUR_US}) AS bucket,
    CAST(SUM(CAST(value AS DECIMAL(28,2)) * 100) AS BIGINT) AS total_c
  FROM events GROUP BY 1
)
SELECT
  bucket * {HOUR_US} AS hour_us,
  CAST(CAST(total_c AS DECIMAL(38,0)) / 100 AS DOUBLE) AS total_value,
  quantile_cont(total_c, 0.5) OVER (
    ORDER BY bucket ROWS BETWEEN {MEDIAN_WIN - 1} PRECEDING
    AND CURRENT ROW
  ) / 100.0 AS rolling_median
FROM hourly
"""


def ts_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast audit — predict each hour with the value
    24 hours earlier and score the error (WAPE, weighted absolute
    percentage error) per event type: the baseline every real
    forecasting pipeline must beat, and the drift alarm when a series
    stops being day-periodic.

    The lag join is a self-join of the hourly grid shifted by one day
    (grid-sized on both sides — events collapse in the rollup first).
    WAPE stays integer to the last step: ``sum|actual - forecast|`` and
    ``sum(actual)`` are exact cent sums, the ppm ratio is one integer
    division.

    At 100 TB: one corpus-scale exchange (the rollup); the shifted
    self-join is grid x grid on (type, bucket) — broadcast-able, and
    exchange-free if the grid is stored bucketed by type.
    """
    e = table(spark, sf_dir, "events")
    bucket = F.expr(f"unix_micros(cast(ts as timestamp)) div {HOUR_US}")
    hourly = (
        e.select(
            "event_type",
            bucket.alias("bucket"),
            scaled_long("value").alias("c"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.sum("c").alias("total_c"))
    )
    prior = hourly.select(
        "event_type",
        (F.col("bucket") + 24).alias("bucket"),
        F.col("total_c").alias("forecast_c"),
    )
    scored = hourly.join(prior, ["event_type", "bucket"])
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum(F.abs(F.col("total_c") - F.col("forecast_c"))).alias(
            "abs_err_c"
        ),
        F.expr(
            "sum(abs(total_c - forecast_c)) * 1000000"
            " div sum(total_c)"
        ).alias("wape_ppm"),
    )


ORACLE_TS_SEASONAL_BASELINE = f"""
WITH hourly AS (
  SELECT
    event_type,
    (epoch_us(ts) // {HOUR_US}) AS bucket,
    CAST(SUM(CAST(value AS DECIMAL(28,2)) * 100) AS BIGINT) AS total_c
  FROM events GROUP BY 1, 2
),
scored AS (
  SELECT a.event_type, a.total_c, p.total_c AS forecast_c
  FROM hourly a
  JOIN hourly p
    ON p.event_type = a.event_type AND p.bucket = a.bucket - 24
)
SELECT
  event_type,
  COUNT(*) AS n_hours,
  CAST(SUM(ABS(total_c - forecast_c)) AS BIGINT) AS abs_err_c,
  CAST(SUM(ABS(total_c - forecast_c)) AS BIGINT) * 1000000
    // CAST(SUM(total_c) AS BIGINT) AS wape_ppm
FROM scored
GROUP BY event_type
"""


def ts_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint statistic per series — where did the level
    shift? For each event type the statistic is
    ``S_t = sum_{i<=t}(x_i - mean)``; the hour with the largest |S_t|
    is the most likely changepoint, and its magnitude is the alarm.

    Integer-exact by clearing the denominator: with x in cents, S_t*n
    = n*prefix_t - t*total is pure BIGINT (mean = total/n never
    materializes as a float), so the peak pick — max |S_t*n|, earliest
    hour on ties — is bit-deterministic in both engines. The one IEEE
    step is the final normalization back to value units.

    One rollup (the only corpus-scale exchange), one per-series window
    pass for (row_number, prefix sum), one window max + filter for the
    deterministic argmax. Grid-sized after the rollup; series-keyed
    partitions, the ts-family skew contract.
    """
    e = table(spark, sf_dir, "events")
    bucket = F.expr(f"unix_micros(cast(ts as timestamp)) div {HOUR_US}")
    hourly = (
        e.select(
            "event_type",
            bucket.alias("bucket"),
            scaled_long("value").alias("c"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.sum("c").alias("x"))
    )
    seq = Window.partitionBy("event_type").orderBy("bucket")
    full = Window.partitionBy("event_type")
    scored = hourly.select(
        "event_type",
        "bucket",
        (
            F.count(F.lit(1)).over(full)
            * F.sum("x").over(
                seq.rowsBetween(Window.unboundedPreceding, 0)
            )
            - F.row_number().over(seq) * F.sum("x").over(full)
        ).alias("s_n"),
        F.count(F.lit(1)).over(full).alias("n_hours"),
    )
    peak = scored.withColumn(
        "mx", F.max(F.abs(F.col("s_n"))).over(full)
    ).filter(F.abs(F.col("s_n")) == F.col("mx"))
    return peak.groupBy("event_type").agg(
        F.min("n_hours").alias("n_hours"),
        F.min("mx").alias("max_abs_sn"),
        (F.min("bucket") * HOUR_US).alias("peak_hour_us"),
        (
            F.min("mx").cast("double")
            / F.min("n_hours").cast("double")
            / F.lit(100.0)
        ).alias("peak_dev_value"),
    )


ORACLE_TS_CUSUM = f"""
WITH hourly AS (
  SELECT
    event_type,
    (epoch_us(ts) // {HOUR_US}) AS bucket,
    CAST(SUM(CAST(value AS DECIMAL(28,2)) * 100) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
scored AS (
  SELECT
    event_type,
    bucket,
    COUNT(*) OVER (PARTITION BY event_type)
      * CAST(SUM(x) OVER (PARTITION BY event_type ORDER BY bucket
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      - ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY bucket)
        * CAST(SUM(x) OVER (PARTITION BY event_type) AS BIGINT) AS s_n,
    COUNT(*) OVER (PARTITION BY event_type) AS n_hours
  FROM hourly
),
peak AS (
  SELECT *, MAX(ABS(s_n)) OVER (PARTITION BY event_type) AS mx
  FROM scored
)
SELECT
  event_type,
  CAST(MIN(n_hours) AS BIGINT) AS n_hours,
  CAST(MIN(mx) AS BIGINT) AS max_abs_sn,
  MIN(bucket) * {HOUR_US} AS peak_hour_us,
  CAST(MIN(mx) AS DOUBLE) / CAST(MIN(n_hours) AS DOUBLE) / 100.0
    AS peak_dev_value
FROM peak
WHERE ABS(s_n) = mx
GROUP BY event_type
"""


def ts_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline single changepoint per series by binary segmentation:
    the split k of the hourly series that MAXIMIZES the between-segment
    objective f(k) = S_k^2/k + (S-S_k)^2/(n-k) — equivalently minimizes
    within-segment SSE, the first step of the classic binary-seg
    changepoint algorithm (ts_cusum's peak statistic flags WHERE the
    mean drifts; this computes the optimal two-segment fit).

    Determinism discipline: prefix sums, totals and positions are
    EXACT BIGINTs (cents); the objective is evaluated in DOUBLE with
    an expression tree written token-identically in both engines —
    IEEE *, /, + are correctly rounded, so identical integer inputs
    give bit-identical doubles (the llm_bm25 linear-odds argument).
    Ties on the objective break to the earliest hour via min(bucket).

    One corpus-scale rollup, then grid-sized windows (prefix sum +
    per-series max) — the ts-family skew contract; no global sort, no
    second scan.
    """
    e = table(spark, sf_dir, "events")
    bucket = F.expr(f"unix_micros(cast(ts as timestamp)) div {HOUR_US}")
    hourly = (
        e.select(
            "event_type",
            bucket.alias("bucket"),
            scaled_long("value").alias("c"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.sum("c").alias("x"))
    )
    seq = Window.partitionBy("event_type").orderBy("bucket")
    full = Window.partitionBy("event_type")
    scored = hourly.select(
        "event_type",
        "bucket",
        F.row_number().over(seq).alias("k"),
        F.sum("x").over(
            seq.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("sk"),
        F.sum("x").over(full).alias("s"),
        F.count(F.lit(1)).over(full).alias("n"),
    ).filter(F.col("k") < F.col("n"))
    obj = (
        F.col("sk").cast("double") * F.col("sk").cast("double")
        / F.col("k").cast("double")
        + (F.col("s") - F.col("sk")).cast("double")
        * (F.col("s") - F.col("sk")).cast("double")
        / (F.col("n") - F.col("k")).cast("double")
    )
    peaked = scored.withColumn("obj", obj).withColumn(
        "mx", F.max("obj").over(full)
    )
    return (
        peaked.filter(F.col("obj") == F.col("mx"))
        .groupBy("event_type")
        .agg(
            F.min("n").alias("n_hours"),
            (F.min("bucket") * HOUR_US).alias("split_hour_us"),
            (
                F.min("mx")
                - F.min("s").cast("double")
                * F.min("s").cast("double")
                / F.min("n").cast("double")
            ).alias("sse_gain_c2"),
        )
    )


ORACLE_TS_CHANGEPOINT = f"""
WITH hourly AS (
  SELECT
    event_type,
    (epoch_us(ts) // {HOUR_US}) AS bucket,
    CAST(SUM(CAST(value AS DECIMAL(28,2)) * 100) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
scored AS (
  SELECT
    event_type,
    bucket,
    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY bucket) AS k,
    CAST(SUM(x) OVER (PARTITION BY event_type ORDER BY bucket
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      AS sk,
    CAST(SUM(x) OVER (PARTITION BY event_type) AS BIGINT) AS s,
    COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM hourly
),
cand AS (
  SELECT *,
    CAST(sk AS DOUBLE) * CAST(sk AS DOUBLE) / CAST(k AS DOUBLE)
      + CAST(s - sk AS DOUBLE) * CAST(s - sk AS DOUBLE)
        / CAST(n - k AS DOUBLE) AS obj
  FROM scored WHERE k < n
),
peaked AS (
  SELECT *, MAX(obj) OVER (PARTITION BY event_type) AS mx FROM cand
)
SELECT
  event_type,
  CAST(MIN(n) AS BIGINT) AS n_hours,
  MIN(bucket) * {HOUR_US} AS split_hour_us,
  MIN(mx) - CAST(MIN(s) AS DOUBLE) * CAST(MIN(s) AS DOUBLE)
    / CAST(MIN(n) AS DOUBLE) AS sse_gain_c2
FROM peaked
WHERE obj = mx
GROUP BY event_type
"""


def ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of each series' hourly totals — the
    seasonality/persistence diagnostic run before choosing a forecast
    baseline (white noise vs trending vs mean-reverting).

    The lag pairing is one window ``lag()`` over the hourly grid
    (partitioned by series, grid-sized, not event-sized); the Pearson
    r then follows the agg_stats discipline exactly: all six moments
    accumulate as EXACT BIGINTs (hourly totals in cents stay ~2.7e7 at
    sf1, so per-row products <= ~7e14 and 720-row sums <= ~5e17 — long
    safe; a 100 TB deployment widens to SUM(CAST(x AS DECIMAL(28,s)))
    as aggregates.py documents), then the textbook formula runs in
    DOUBLE on those exact moments with the identical expression in both
    engines — every IEEE step (cast, multiply, subtract, sqrt, divide) is
    correctly rounded on identical inputs, so r is bit-identical.
    Zero-variance series are excluded (r undefined).
    """
    e = table(spark, sf_dir, "events")
    hour = F.expr(f"unix_micros(cast(ts as timestamp)) div {HOUR_US}")
    hourly = (
        e.select(
            "event_type", hour.alias("h"), scaled_long("value").alias("c")
        )
        .groupBy("event_type", "h")
        .agg(F.sum("c").alias("x"))
    )
    w = Window.partitionBy("event_type").orderBy("h")
    paired = hourly.withColumn("y", F.lag("x").over(w)).filter(
        F.col("y").isNotNull()
    )
    mom = paired.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    r_expr = (
        "(cast(n as double) * cast(sxy as double)"
        " - cast(sx as double) * cast(sy as double))"
        " / (sqrt(cast(n as double) * cast(sxx as double)"
        "          - cast(sx as double) * cast(sx as double))"
        "    * sqrt(cast(n as double) * cast(syy as double)"
        "           - cast(sy as double) * cast(sy as double)))"
    )
    den_pos = (
        "cast(n as double) * cast(sxx as double)"
        " - cast(sx as double) * cast(sx as double) > 0"
        " and cast(n as double) * cast(syy as double)"
        " - cast(sy as double) * cast(sy as double) > 0"
    )
    return mom.filter(F.expr(den_pos)).select(
        "event_type", "n", F.expr(r_expr).alias("r1")
    )


ORACLE_TS_AUTOCORR = f"""
WITH hourly AS (
  SELECT
    event_type,
    epoch_us(ts) // {HOUR_US} AS h,
    SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS x
  FROM events
  GROUP BY 1, 2
),
paired AS (
  SELECT
    event_type,
    x,
    LAG(x) OVER (PARTITION BY event_type ORDER BY h) AS y
  FROM hourly
),
mom AS (
  SELECT
    event_type,
    COUNT(*) AS n,
    CAST(SUM(x) AS BIGINT) AS sx,
    CAST(SUM(y) AS BIGINT) AS sy,
    CAST(SUM(x * x) AS BIGINT) AS sxx,
    CAST(SUM(y * y) AS BIGINT) AS syy,
    CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM paired
  WHERE y IS NOT NULL
  GROUP BY event_type
)
SELECT
  event_type,
  n,
  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
  / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
     * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS r1
FROM mom
WHERE CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
  AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
"""


#: MAD multiple above which a day is anomalous
MAD_MULT = 3


def ts_mad_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection: days whose total deviates from the
    series MEDIAN by more than {MAD_MULT}x the median absolute
    deviation — the outlier gate that, unlike z-scores (ts_anomaly_
    zscore), is not itself dragged by the outliers it hunts.

    Exactness discipline: the median of n integers is either an
    integer or an exact .5, so everything runs on DOUBLED integers —
    med2 = 2*median(total_c) is a BIGINT, the deviation d2 =
    |2*total_c - med2| is a BIGINT, mad4 = 2*median(d2) likewise, and
    the flag ``2*d2 > MAD_MULT*mad4`` never touches a float. Both
    engines compute interpolated medians over the same integers, so
    the doubled values agree bit-for-bit (the ts_rolling_median
    parity argument, applied group-wise).

    At 100 TB: the rollup to (series, day) is the only corpus-scale
    exchange; the two median passes aggregate the GRID (series x
    days), percentile's per-group state is the day count, and the
    grid re-joins are broadcasts.
    """
    e = table(spark, sf_dir, "events")
    day = F.expr(f"unix_micros(cast(ts as timestamp)) div {DAY_US}")
    daily = (
        e.select(
            "event_type",
            day.alias("epoch_day"),
            scaled_long("value").alias("c"),
        )
        .groupBy("event_type", "epoch_day")
        .agg(F.sum("c").alias("total_c"))
    )
    med = daily.groupBy("event_type").agg(
        F.floor(F.percentile(2 * F.col("total_c"), F.lit(0.5)) + F.lit(0.5))
        .alias("med2")
    )
    dev = daily.join(F.broadcast(med), "event_type").withColumn(
        "d2", F.abs(2 * F.col("total_c") - F.col("med2"))
    )
    mad = dev.groupBy("event_type").agg(
        F.floor(F.percentile(2 * F.col("d2"), F.lit(0.5)) + F.lit(0.5))
        .alias("mad4")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(2 * F.col("d2") > F.lit(MAD_MULT) * F.col("mad4"))
        .select(
            "event_type",
            "epoch_day",
            unscale(F.col("total_c"), 2).alias("total_value"),
            F.col("d2").cast("long").alias("dev2_c"),
            F.col("mad4").cast("long").alias("mad4_c"),
        )
    )


ORACLE_TS_MAD_ANOMALY = f"""
WITH daily AS (
  SELECT
    event_type,
    epoch_us(ts) // {DAY_US} AS epoch_day,
    SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS total_c
  FROM events
  GROUP BY 1, 2
),
med AS (
  SELECT event_type,
         CAST(FLOOR(quantile_cont(2 * total_c, 0.5) + 0.5) AS BIGINT)
           AS med2
  FROM daily GROUP BY event_type
),
dev AS (
  SELECT d.event_type, d.epoch_day, d.total_c,
         ABS(2 * d.total_c - m.med2) AS d2
  FROM daily d JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type,
         CAST(FLOOR(quantile_cont(2 * d2, 0.5) + 0.5) AS BIGINT) AS mad4
  FROM dev GROUP BY event_type
)
SELECT
  dev.event_type,
  dev.epoch_day,
  CAST(CAST(dev.total_c AS DECIMAL(38,0)) / 100 AS DOUBLE) AS total_value,
  CAST(dev.d2 AS BIGINT) AS dev2_c,
  CAST(mad.mad4 AS BIGINT) AS mad4_c
FROM dev JOIN mad USING (event_type)
WHERE 2 * dev.d2 > {MAD_MULT} * mad.mad4
"""


# Per-series winsorized mean: clip values at the exact p05/p95 before
# averaging. Two scans, every exchange CELL-sized (the
# agg_weighted_median discipline): scan 1 collapses rows to the
# per-(series, cent-value) histogram, bounded by the value domain, not
# the row count, and a cumulative window over the cells finds the
# thresholds with the PERCENTILE_DISC lower convention (smallest v with
# cum/n >= p, decided by the integer predicates 20*cum >= n and
# >= 19*n); scan 2 re-reads the rows, clips against the broadcast
# per-series thresholds, and one mergeable aggregate emits the mean and
# the clip counts. Thresholds and the clipped sum are BIGINT cents and
# the mean is ONE double division. Nothing row-scale is ever exchanged
# or sorted. The hint pins the broadcast to th: without it the sf0.1
# plan broadcast the row-scale events side instead. DuckDB reads the
# hint as a comment.
ORACLE_TS_WINSORIZE = """
WITH rows_c AS (
  SELECT event_type,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v_c
  FROM events
),
cells AS (
  SELECT event_type, v_c, COUNT(*) AS cnt
  FROM rows_c GROUP BY 1, 2
),
cum AS (
  SELECT event_type, v_c,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY v_c
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         SUM(cnt) OVER (PARTITION BY event_type) AS n
  FROM cells
),
th AS (
  SELECT event_type,
         MIN(CASE WHEN 20 * cum >= n THEN v_c END) AS lo,
         MIN(CASE WHEN 20 * cum >= 19 * n THEN v_c END) AS hi
  FROM cum GROUP BY event_type
),
clipped AS (
  SELECT /*+ BROADCAST(t) */ r.event_type, r.v_c, t.lo, t.hi,
         LEAST(GREATEST(r.v_c, t.lo), t.hi) AS v_w
  FROM rows_c r JOIN th t USING (event_type)
)
SELECT
  event_type,
  COUNT(*) AS n,
  CAST(CAST(MIN(lo) AS DECIMAL(38,0)) / 100 AS DOUBLE) AS p05,
  CAST(CAST(MIN(hi) AS DECIMAL(38,0)) / 100 AS DOUBLE) AS p95,
  CAST(SUM(CASE WHEN v_c < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
  CAST(SUM(CASE WHEN v_c > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
  CAST(CAST(SUM(v_w) AS DECIMAL(38,0)) / 100 AS DOUBLE) / COUNT(*)
    AS wins_mean
FROM clipped
GROUP BY event_type
"""


#: LTTB downsample target bucket count per series.
LTTB_BUCKETS = 64

#: tiebreak packing radixes for the single-DECIMAL(38,0) pick ordering
#: ``ordt = -2A * PACK_X*PACK_ID + x*PACK_ID + event_id`` — a
#: lexicographic (-area, x, event_id) total order as one hash-
#: aggregable scalar (requires x < PACK_X, event_id < PACK_ID).
LTTB_PACK_ID = 10**12
LTTB_PACK_X = 10**12

#: time-cell quantum (seconds) for the r14 two-scan plan: scan 1
#: aggregates rows to (series, t_s div LTTB_CELL_S) cells, so the
#: driver-side anchor fold is over at most series x span/CELL cells
#: (30-day fixture span -> 4 320 cells/series) instead of rows.
#: Bucket EDGES land on cell boundaries (they shift by up to one cell
#: vs exact span/BUCKETS edges — <=1.5% of a bucket width here); size
#: it so span/CELL stays ~2 decades above BUCKETS and the collect
#: stays metadata-scale (decade spans or million-series tables raise
#: it proportionally).
LTTB_CELL_S = 600


def ts_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-Triangle downsampling per series: pick, in each of
    {LTTB_BUCKETS} equal time buckets, the point that subtends the
    largest triangle with the NEIGHBORING buckets' centroids — the
    standard chart-decimation operator (Steinarsson's LTTB with fixed
    bucket anchors, the batch-friendly variant: strict LTTB anchors on
    the previously SELECTED point, a sequential dependency; anchoring
    on bucket centroids keeps the pick embarrassingly parallel with
    near-identical visual output).

    Plan (r14, TWO row-scans — the r13 shape paid a third scan just to
    find per-series time bounds): scan 1 aggregates rows to fixed
    {LTTB_CELL_S}-second time cells (series x span/cell rows — span-
    bounded metadata scale, 4 320 cells/series on the 30-day fixture);
    the cell table is collected and the WHOLE anchor derivation —
    per-series bounds, bucket membership (bucket edges land on cell
    boundaries), per-bucket (n, sum_x, sum_y), neighbor-centroid
    lag/lead — runs driver-side in exact integer Python (the
    agg_weighted_median r14 lesson: tiny windows cost AQE stages).
    Scan 2 joins the rows against ONE broadcast literal table keyed
    at (series, cell) — each cell row carries its bucket id, anchor
    centroid deltas and the series' time origin, so the per-row work
    is a single broadcast hash probe (no bounds join, no per-row
    bucket division) — and picks the max-area point per (series,
    bucket) by three ``min_by`` calls over ONE packed DECIMAL(38,0)
    total order — a plain HashAggregate (r13; ``min(struct)`` would
    force SortAggregate). Rows are never exchanged: the partial
    aggregate combines map-side, so the shuffle carries one candidate
    per (series, bucket) per map partition.

    Scoring (r13 discipline): anchors are the INTEGER-ROUNDED bucket
    centroids (cx = sum_x div n, cy = sum_y div n — floor division on
    non-negative sums, identical in both engines). Triangle area is
    translation-invariant, so it is computed in series-relative
    coordinates: 2A = |(cxn-cxp)*(y-cyp) - (x-cxp)*(cyn-cyp)| — pure
    integer arithmetic with magnitude ~ 4 * (span/{LTTB_BUCKETS}) *
    value_range. Fidelity vs exact LTTB (ADVICE r13 reword): the <1-
    unit centroid rounding perturbs 2A by up to ~|dxn|+|dyn|, so picks
    may differ from exact-centroid scoring whenever two candidates'
    true area gap is within that tolerance (not only at exact ties);
    bucket edges additionally sit on {LTTB_CELL_S}-second cell
    boundaries (<=1.5% of a bucket width here). Both engines compute
    the identical integers, so results stay bit-identical — the
    tolerance is a statement about visual fidelity, not parity.

    The pick ordering packs (-2A, x, event_id) into one DECIMAL(38,0):
    ``ordt = -2A * PACK_X*PACK_ID + x*PACK_ID + event_id`` — a total
    order (event_id is unique), so the three min_by calls agree and the
    pick is deterministic. First/last buckets (no both-side neighbor)
    keep their first/last point by (timestamp, event_id).

    At 100 TB: the only row-scale work is the two scans; every
    exchange carries at most series x {LTTB_BUCKETS} x partitions
    candidate rows, and the driver holds series x span/{LTTB_CELL_S}
    cells (raise LTTB_CELL_S for decade spans / million-series
    tables). Headroom: |2A| must stay under 10^38 / (PACK_X*PACK_ID)
    = 1e14 — covers a 1-year span at {LTTB_BUCKETS} buckets with a
    $500k value range with ~10x margin; beyond that RAISE (never a
    silent wrong pick) — the remedy is more buckets (span/B shrinks
    linearly) or a coarser value scale. Requires x < PACK_X (31k-year
    span) and event_id < PACK_ID (1e12); values must be non-negative
    (fixture min 0.0) so both engines' integer division agrees —
    shift signed series first.
    """
    e = table(spark, sf_dir, "events")
    pts = e.select(
        "event_type",
        "event_id",
        F.expr("unix_micros(cast(ts as timestamp)) div 1000000").alias(
            "t_s"
        ),
        scaled_long("value").alias("v_c"),
    )
    cells = (
        pts.groupBy(
            "event_type", F.expr(f"t_s div {LTTB_CELL_S}").alias("g")
        )
        .agg(
            F.count(F.lit(1)).alias("cn"),
            F.sum("t_s").alias("cst"),
            F.sum("v_c").alias("csv"),
        )
        .collect()  # bounded: series x span/LTTB_CELL_S cells
    )
    # driver-side exact-integer anchor fold over the cell table
    by_series: dict[str, list] = {}
    for r in cells:
        by_series.setdefault(r["event_type"], []).append(r)
    anc_rows = []
    B = LTTB_BUCKETS
    for typ, cs in by_series.items():
        mn_g = min(r["g"] for r in cs)
        span_g = max(r["g"] for r in cs) - mn_g + 1
        t0 = mn_g * LTTB_CELL_S
        bsum: dict[int, list[int]] = {}
        cell_bkt: dict[int, int] = {}
        for r in cs:
            bkt = min((r["g"] - mn_g) * B // span_g, B - 1)
            cell_bkt[r["g"]] = bkt
            s = bsum.setdefault(bkt, [0, 0, 0])
            s[0] += r["cn"]
            s[1] += r["cst"] - r["cn"] * t0  # sum of x = t_s - t0
            s[2] += r["csv"]
        present = sorted(bsum)
        anchors: dict[int, tuple[int, int, int, int, int]] = {}
        for i, bkt in enumerate(present):
            if i == 0:
                anchors[bkt] = (0, 0, 0, 0, 0)
            elif i == len(present) - 1:
                anchors[bkt] = (1, 0, 0, 0, 0)
            else:
                pn, psx, psy = bsum[present[i - 1]]
                nn, nsx, nsy = bsum[present[i + 1]]
                cxp = psx // pn  # floor div, non-negative sums
                cyp = psy // pn
                dxn = nsx // nn - cxp
                dyn = nsy // nn - cyp
                anchors[bkt] = (2, cxp, cyp, dxn, dyn)
        # one row per PRESENT cell: bucket id + its anchor + series
        # origin, so scan 2 is a single broadcast hash probe per row
        for g, bkt in cell_bkt.items():
            anc_rows.append((typ, g, bkt, t0, *anchors[bkt]))
    anc_df = spark.createDataFrame(
        anc_rows,
        "event_type string, g long, bkt long, t0 long, mode int, "
        "cxp long, cyp long, dxn long, dyn long",
    )
    j = (
        pts.withColumn("g", F.expr(f"t_s div {LTTB_CELL_S}"))
        .join(F.broadcast(anc_df), ["event_type", "g"])
        .withColumn("x", F.col("t_s") - F.col("t0"))
    )
    dec = "decimal(38,0)"
    # 2A in series-relative coordinates; decimal so an out-of-headroom
    # range NULLs (then raises) instead of silently wrapping BIGINT
    area2 = F.abs(
        F.col("dxn").cast(dec) * (F.col("v_c") - F.col("cyp"))
        - (F.col("x") - F.col("cxp")).cast(dec) * F.col("dyn")
    )
    tie = F.col("x").cast(dec) * LTTB_PACK_ID + F.col("event_id")
    ordt = (
        F.when(F.col("mode") == 0, tie)
        .when(
            F.col("mode") == 1,
            -F.col("x").cast(dec) * LTTB_PACK_ID + F.col("event_id"),
        )
        .otherwise(-area2 * LTTB_PACK_X * LTTB_PACK_ID + tie)
    )
    # Non-ANSI Spark silently NULLs DECIMAL(38,0) overflow, and NULL
    # would win the min — the only NULL source here is overflow (every
    # input column is non-null by construction), so fail as loudly as
    # the HUGEINT oracle does.
    ord_f = F.when(
        ordt.isNull(),
        F.raise_error(
            F.lit(
                "ts_lttb: pick-ordering DECIMAL(38,0) overflow — "
                "value/time range out of headroom; raise LTTB_BUCKETS "
                "or coarsen the value scale (docstring headroom note)"
            )
        ).cast(dec),
    ).otherwise(ordt)
    best = (
        j.withColumn("ordt", ord_f)
        .groupBy("event_type", "bkt")
        .agg(
            F.min_by("event_id", "ordt").alias("event_id"),
            F.min_by("x", "ordt").alias("x_s"),
            F.min_by("v_c", "ordt").alias("v_cb"),
        )
    )
    return best.select(
        "event_type",
        "bkt",
        "event_id",
        "x_s",
        unscale(F.col("v_cb")).alias("value"),
    )


ORACLE_TS_LTTB = f"""
WITH pts AS (
  SELECT event_type, event_id,
         epoch_us(ts) // 1000000 AS t_s,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v_c
  FROM events
),
cells AS (
  SELECT event_type, t_s // {LTTB_CELL_S} AS g,
         COUNT(*) AS cn, SUM(t_s) AS cst, SUM(v_c) AS csv
  FROM pts GROUP BY 1, 2
),
bounds AS (
  SELECT event_type, MIN(g) AS mn_g, MAX(g) - MIN(g) + 1 AS span_g,
         MIN(g) * {LTTB_CELL_S} AS t0
  FROM cells GROUP BY event_type
),
bsum AS (
  SELECT c.event_type,
         LEAST((c.g - b.mn_g) * {LTTB_BUCKETS} // b.span_g,
               {LTTB_BUCKETS - 1}) AS bkt,
         SUM(c.cn) AS bn,
         SUM(c.cst) - SUM(c.cn) * MIN(b.t0) AS bsx,
         SUM(c.csv) AS bsy
  FROM cells c JOIN bounds b USING (event_type)
  GROUP BY 1, 2
),
anc AS (
  SELECT event_type, bkt,
         LAG(bn)  OVER w AS pn,  LAG(bsx)  OVER w AS psx,
         LAG(bsy) OVER w AS psy, LEAD(bn)  OVER w AS nn,
         LEAD(bsx) OVER w AS nsx, LEAD(bsy) OVER w AS nsy
  FROM bsum
  WINDOW w AS (PARTITION BY event_type ORDER BY bkt)
),
xb AS (
  SELECT p.event_type, p.event_id, p.v_c,
         p.t_s - b.t0 AS x,
         LEAST((p.t_s // {LTTB_CELL_S} - b.mn_g) * {LTTB_BUCKETS}
                 // b.span_g,
               {LTTB_BUCKETS - 1}) AS bkt
  FROM pts p JOIN bounds b USING (event_type)
),
scored AS (
  SELECT x.event_type, x.bkt, x.event_id, x.x, x.v_c,
         CASE
           WHEN a.pn IS NULL THEN
             CAST(x.x AS HUGEINT) * {LTTB_PACK_ID} + x.event_id
           WHEN a.nn IS NULL THEN
             -CAST(x.x AS HUGEINT) * {LTTB_PACK_ID} + x.event_id
           ELSE
             -ABS(
               CAST(a.nsx // a.nn - a.psx // a.pn AS HUGEINT)
                 * (x.v_c - a.psy // a.pn)
               - CAST(x.x - a.psx // a.pn AS HUGEINT)
                 * (a.nsy // a.nn - a.psy // a.pn)
             ) * {LTTB_PACK_X} * {LTTB_PACK_ID}
             + CAST(x.x AS HUGEINT) * {LTTB_PACK_ID} + x.event_id
         END AS ordt
  FROM xb x JOIN anc a USING (event_type, bkt)
)
SELECT event_type, bkt,
       ARG_MIN(event_id, ordt) AS event_id,
       ARG_MIN(x, ordt) AS x_s,
       CAST(CAST(ARG_MIN(v_c, ordt) AS DECIMAL(38,0)) / 100 AS DOUBLE)
         AS value
FROM scored GROUP BY event_type, bkt
"""


QUERIES = {
    "ts_gapfill": spec(
        ts_gapfill, ORACLE_TS_GAPFILL, "beyond",
        doc="dense time-grid rollup: zero-filled counts + LOCF values",
    ),
    "ts_interpolate": spec(
        ts_interpolate, ORACLE_TS_INTERPOLATE, "beyond",
        doc="linear interpolation across empty buckets (gapfill twin)",
    ),
    "ts_ohlc": spec(
        ts_ohlc, ORACLE_TS_OHLC, "beyond",
        doc="hourly OHLC downsample (min_by/max_by picks, one aggregate)",
    ),
    "ts_cohort_retention": spec(
        ts_cohort_retention, ORACLE_TS_COHORT_RETENTION, "beyond",
        doc="cohort x active-week retention triangle (window + one agg)",
    ),
    "ts_rolling_dau": spec(
        ts_rolling_dau, ORACLE_TS_ROLLING_DAU, "beyond",
        doc="exact rolling 7-day distinct users (bounded day-explode)",
    ),
    "ts_ewma": sql_spec(
        ORACLE_TS_EWMA, "beyond",
        doc="dyadic-decay EWMA unrolled to 8 integer-weighted lags",
    ),
    "ts_anomaly_zscore": sql_spec(
        ORACLE_TS_ANOMALY_ZSCORE, "beyond",
        doc="rolling z-score outlier gate, sqrt-free integer predicate",
    ),
    "ts_streaks": spec(
        ts_streaks, ORACLE_TS_STREAKS, "beyond",
        doc="longest consecutive-day streak per user (gaps-and-islands)",
    ),
    "ts_interval_merge": spec(
        ts_interval_merge, ORACLE_TS_INTERVAL_MERGE, "beyond",
        doc="coalesce overlapping per-user activity intervals (running max)",
    ),
    "ts_rollup_hierarchy": spec(
        ts_rollup_hierarchy, ORACLE_TS_ROLLUP_HIERARCHY, "beyond",
        doc="1h->6h->1d continuous-aggregate cascade from mergeable partials",
    ),
    "ts_rolling_median": spec(
        ts_rolling_median, ORACLE_TS_ROLLING_MEDIAN, "beyond",
        doc="rolling exact median over trailing hourly buckets "
            "(integer cents, O(frame) state)",
    ),
    "ts_seasonal_baseline": spec(
        ts_seasonal_baseline, ORACLE_TS_SEASONAL_BASELINE, "beyond",
        doc="seasonal-naive forecast WAPE audit (grid self-join, "
            "integer-ppm error)",
    ),
    "ts_cusum": spec(
        ts_cusum, ORACLE_TS_CUSUM, "beyond",
        doc="CUSUM changepoint peak per series, denominator-cleared "
            "BIGINT statistic",
    ),
    "ts_mad_anomaly": spec(
        ts_mad_anomaly, ORACLE_TS_MAD_ANOMALY, "beyond",
        doc="robust MAD anomaly flags per series (doubled-integer "
            "medians, no float in the decision)",
    ),
    "ts_autocorr": spec(
        ts_autocorr, ORACLE_TS_AUTOCORR, "beyond",
        doc="lag-1 autocorrelation per series from exact integer "
            "moments (agg_stats discipline on a lag self-pairing)",
    ),
    "ts_changepoint": spec(
        ts_changepoint, ORACLE_TS_CHANGEPOINT, "beyond",
        doc="binary-segmentation optimal split per series (exact "
            "integer prefix sums, IEEE-identical objective)",
    ),
    "ts_winsorize": sql_spec(
        ORACLE_TS_WINSORIZE, "beyond",
        doc="exact p05/p95 winsorized mean per series (two scans, "
            "cell-sized histogram thresholds, no row-scale exchange)",
    ),
    "ts_lttb": spec(
        ts_lttb, ORACLE_TS_LTTB, "beyond",
        doc="largest-triangle chart decimation per series "
            "(fraction-free integer area, centroid-anchored LTTB)",
    ),
}
