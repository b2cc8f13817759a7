"""Joins (reference J1–J4, SURVEY.md §2.3) + beyond-reference join kinds.

Scale strategy per join:

* ``join_broadcast_left`` — the reference's build-side hash map
  (task.ts:114-125, probed at :228) IS a broadcast hash join: the lease
  set is small (one per camera at most), so a ``BROADCAST`` hint pins
  it and the big probe side never shuffles. At 100 TB the probe side
  streams through scan->join->project in one stage, zero exchange.
* ``join_semi`` / ``join_anti`` — ACL membership (task.ts:209-212) as
  IN / NOT EXISTS subqueries, which Spark plans as left-semi/left-anti
  joins; the hint inside each subquery broadcasts the tiny ACL side.
* ``join_sortmerge`` — large x large (lineitem x orders) where broadcast
  is impossible; hinted merge join; with both sides bucketed by the key
  on disk this becomes a zero-shuffle join (see SCALE.md).
* ``join_asof`` — beyond-reference: event-time as-of matching implemented
  with the union + running-max trick (one shuffle on the key, no range
  explosion), NOT a range cross-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import spec, sql_spec


# J1: broadcast hash left-outer equi-join, build side pre-filtered.
# Reference: build `Map<source_id, lease>` from the filtered lease scan
# (O1, task.ts:122-123), probe by camera_id (task.ts:228); misses keep
# the camera (left outer) and route to the POST arm of the upsert.
ORACLE_JOIN_BROADCAST_LEFT = """
SELECT /*+ BROADCAST(c) */
  o.o_orderkey,
  o.o_custkey,
  c.c_name AS cust_name,
  c.c_custkey IS NOT NULL AS matched
FROM orders o
LEFT JOIN (
  SELECT c_custkey, c_name, c_mktsegment FROM customer WHERE c_acctbal > 0
) c ON o.o_custkey = c.c_custkey
"""


# J3: left-semi join, the ACL membership gate at scale. Reference: only
# cameras whose site/camera id appears in the ACL lists proceed
# (task.ts:209-212); a semi join returns each left row at most once,
# exactly `.includes()` semantics. The hint sits inside the subquery:
# one on the outer SELECT does not reach an IN subquery.
ORACLE_JOIN_SEMI = """
SELECT o_orderkey, o_custkey, o_orderstatus
FROM orders
WHERE o_custkey IN (
  SELECT /*+ BROADCAST(customer) */ c_custkey
  FROM customer WHERE c_mktsegment = 'BUILDING'
)
"""


# J4: left-anti join, the complement of the ACL gate. Reference: cameras
# failing the membership check silently skip the lease call (the
# else-path of task.ts:209-273). The hint sits inside the subquery, as
# in J3.
ORACLE_JOIN_ANTI = """
SELECT o_orderkey, o_custkey, o_orderstatus
FROM orders o
WHERE NOT EXISTS (
  SELECT /*+ BROADCAST(c) */ 1 FROM customer c
  WHERE c.c_mktsegment = 'BUILDING' AND c.c_custkey = o.o_custkey
)
"""


def _large_join_agg(spark: SparkSession, sf_dir: str, hint: str | None):
    from .aggregates import scaled_long, unscale

    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    if hint:
        li = li.hint(hint)
    joined = li.join(o, li.l_orderkey == o.o_orderkey, "inner")
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        unscale(F.sum(scaled_long("l_extendedprice")), 2).alias("revenue"),
    )


def join_sortmerge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference: large x large sort-merge join.

    lineitem x orders on the order key, merge-hinted so the plan is SMJ
    even under the local broadcast threshold — the operator the engine
    falls back to when BOTH sides exceed broadcast size at cluster
    scale. The hinted form is the operator demo / plan-shape subject;
    the BENCH row is :func:`join_large` (engine-chosen plan), per
    VERDICT r1 item 6: measure the engine, not the pedagogy. The
    revenue sum runs as SUM(LONG) over exact cents (order-insensitive,
    oracle-exact — see aggregates.py module docstring).
    """
    return _large_join_agg(spark, sf_dir, "merge")


def join_large(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same large x large join with NO hint: Catalyst + AQE pick the
    strategy from runtime sizes (broadcast of orders' 2 referenced
    columns at local SFs; shuffled SMJ once both sides exceed the
    threshold). This is the row the bench reports."""
    return _large_join_agg(spark, sf_dir, None)


ORACLE_JOIN_SORTMERGE = """
SELECT
  o.o_orderpriority,
  COUNT(*) AS n_items,
  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
"""


N_JOIN_SALT = 8


def join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference: manually salted join for skewed keys.

    The join-side twin of agg_salted: when one key dominates (here the
    3-value l_returnflag against a tiny dim), a plain shuffle join puts
    a third of the table through one reducer. Salting appends a
    deterministic salt to the BIG side's key and EXPLODES the small
    side N_SALT ways (sequence+explode, no Python), so each hot key
    spreads over N_SALT reducers; the join condition on (key, salt)
    stays an equi-join. AQE's skew handling only splits sort-merge
    partitions it can observe — the explicit rewrite is the portable
    form, and the oracle (plain join, no salt) proves it changes
    nothing but the distribution. The salt must be deterministic per
    row (hash of stable columns, never rand()) or task retries
    re-assign rows and double-count.
    """
    from .aggregates import scaled_long, unscale

    li = table(spark, sf_dir, "lineitem")
    dim = spark.createDataFrame(
        [("R", "returned"), ("A", "accepted"), ("N", "none")],
        "flag string, flag_name string",
    )
    salt = F.pmod(
        F.xxhash64("l_orderkey", "l_linenumber", "l_partkey"),
        F.lit(N_JOIN_SALT),
    )
    big = li.select(
        "l_returnflag", "l_extendedprice", salt.alias("salt")
    )
    dim_x = dim.select(
        "flag",
        "flag_name",
        F.explode(
            F.sequence(F.lit(0), F.lit(N_JOIN_SALT - 1))
        ).alias("salt"),
    )
    joined = big.join(
        F.broadcast(dim_x),
        (big["l_returnflag"] == dim_x["flag"]) & (big["salt"] == dim_x["salt"]),
    )
    return joined.groupBy("flag_name").agg(
        F.count(F.lit(1)).alias("n_items"),
        unscale(F.sum(scaled_long("l_extendedprice")), 2).alias("revenue"),
    )


ORACLE_JOIN_SALTED = """
SELECT
  d.flag_name,
  COUNT(*) AS n_items,
  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS revenue
FROM lineitem l
JOIN (VALUES ('R', 'returned'), ('A', 'accepted'), ('N', 'none'))
     d(flag, flag_name)
  ON l.l_returnflag = d.flag
GROUP BY d.flag_name
"""


def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference: co-located (bucketed) large x large join.

    Both sides are written ``bucketBy(16, orderkey).sortBy(orderkey)``
    managed tables, then joined: Catalyst sees matching bucket specs and
    plans a sort-merge join with ZERO Exchange — the layout decision
    that removes the dominant shuffle cost at 100 TB (asserted as a
    plan shape in tests/test_relational.py). The build step here stands
    in for the one-time layout job a production pipeline amortizes over
    every subsequent join; the aggregate mirrors join_large so the two
    bench rows isolate exactly the shuffle-vs-layout difference.
    """
    from .aggregates import scaled_long, unscale

    import glob as glob_mod
    import re
    import shutil

    # whitelist-sanitize the identifier token (an sf_dir basename with
    # '-' or other punctuation must not produce invalid/injectable SQL)
    # and scope the external paths per Spark application so concurrent
    # sessions can't clobber each other's layouts (ADVICE r2)
    token = re.sub(r"[^A-Za-z0-9_]", "_", sf_dir.rstrip("/").rsplit("/", 1)[-1])
    li_t, o_t = f"li_bkt_{token}", f"o_bkt_{token}"
    base = f"/tmp/spark_graft_bkt/{spark.sparkContext.applicationId}"
    # GC other applications' layout dirs once they're an hour stale —
    # dead sessions never clean up after themselves (ADVICE r3); the age
    # guard keeps a concurrently-running session's layout safe.
    import os
    import time

    for app_dir in glob_mod.glob("/tmp/spark_graft_bkt/*"):
        try:
            if app_dir != base and time.time() - os.path.getmtime(app_dir) > 3600:
                shutil.rmtree(app_dir, ignore_errors=True)
        except OSError:
            pass
    # external-path tables + explicit cleanup: a managed table's
    # location can outlive the (per-session, in-memory) metastore entry,
    # and saveAsTable refuses to adopt an orphaned managed location
    for t in (li_t, o_t):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{base}/{t}", ignore_errors=True)
    table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    ).write.bucketBy(16, "l_orderkey").sortBy("l_orderkey").option(
        "path", f"{base}/{li_t}"
    ).mode("overwrite").saveAsTable(li_t)
    table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    ).write.bucketBy(16, "o_orderkey").sortBy("o_orderkey").option(
        "path", f"{base}/{o_t}"
    ).mode("overwrite").saveAsTable(o_t)
    joined = (
        spark.table(li_t)
        .hint("merge")
        .join(spark.table(o_t), F.col("l_orderkey") == F.col("o_orderkey"))
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        unscale(F.sum(scaled_long("l_extendedprice")), 2).alias("revenue"),
    )


def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference: as-of join (latest 'click' at or before each
    'purchase', per user) via the union + running-max pattern.

    One shuffle on (user_id), no range cross-join: tag both streams, sort
    within user by (ts, tag) and carry the latest click timestamp forward
    with a running max — O(n log n) and skew-safe, vs the O(n*m) range
    join a naive implementation would produce. At tie timestamps the
    click sorts first, giving <= (at-or-before) semantics. Both legs
    come from ONE conditional-projection scan (r14): the two-scan
    filtered union read events twice for rows one pass can tag.
    """
    ev = table(spark, sf_dir, "events")
    unioned = ev.filter(
        F.col("event_type").isin("click", "purchase")
    ).select(
        F.when(
            F.col("event_type") == "purchase", F.col("event_id")
        ).alias("event_id"),
        "user_id",
        "ts",
        (F.col("event_type") == "purchase").cast("int").alias("is_p"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_p")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.withColumn(
        "click_ts",
        F.max(F.when(F.col("is_p") == 0, F.col("ts"))).over(w),
    )
    return carried.filter(F.col("is_p") == 1).select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.unix_micros(F.col("click_ts").cast("timestamp")).alias("click_ts_us"),
    )


ORACLE_JOIN_ASOF = """
SELECT
  p.event_id,
  p.user_id,
  epoch_us(p.ts) AS ts_us,
  MAX(epoch_us(c.ts)) AS click_ts_us
FROM events p
LEFT JOIN events c
  ON c.user_id = p.user_id AND c.event_type = 'click' AND c.ts <= p.ts
WHERE p.event_type = 'purchase'
GROUP BY p.event_id, p.user_id, p.ts
"""


#: forward as-of tolerance: the follow-up click must land within 1 hour
ASOF_FWD_TOL_US = 3_600 * 1_000_000


def join_asof_fwd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference: FORWARD as-of join with tolerance — for each
    purchase, the earliest same-user click at-or-after it, kept only if
    it lands within one hour (the post-purchase-engagement attribution
    shape; ``pandas.merge_asof(direction='forward', tolerance=...)``).

    Same one-scan tag + one-window construction as the backward
    :func:`join_asof`, mirrored: sort within user by (ts, is_p DESC) —
    the purchase sorts before any same-timestamp click, so the
    CURRENT ROW -> UNBOUNDED FOLLOWING frame's ``min(click ts)`` is
    exactly the at-or-after click. One shuffle on user_id, no range
    cross-join, O(1) window state per row streaming backward. The
    tolerance is a post-window null-out, not a join predicate, so the
    plan shape is independent of the tolerance width.

    At 100 TB: identical cost model to join_asof — each event shuffles
    once on the session key; skew is bounded by the busiest user. Note
    Spark evaluates the (current..unboundedFollowing) frame by
    re-aggregating the partition TAIL per row — O(n^2) in the
    partition, acceptable here only because a partition is one USER's
    events (ts_interpolate hit the same frame on whole-series
    partitions and paid 4x for it, r14 — SCALE.md §29f); a
    pathological single-user skew would call for the descending
    running-min rewrite at the price of a second sort.
    """
    ev = table(spark, sf_dir, "events")
    unioned = ev.filter(
        F.col("event_type").isin("click", "purchase")
    ).select(
        F.when(
            F.col("event_type") == "purchase", F.col("event_id")
        ).alias("event_id"),
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        (F.col("event_type") == "purchase").cast("int").alias("is_p"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("us"), F.col("is_p").desc())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    carried = unioned.withColumn(
        "next_us",
        F.min(F.when(F.col("is_p") == 0, F.col("us"))).over(w),
    )
    within = F.when(
        F.col("next_us") - F.col("us") <= ASOF_FWD_TOL_US, F.col("next_us")
    )
    return carried.filter(F.col("is_p") == 1).select(
        "event_id",
        "user_id",
        F.col("us").alias("ts_us"),
        within.alias("next_click_us"),
        (within - F.col("us")).alias("wait_us"),
    )


ORACLE_JOIN_ASOF_FWD = f"""
WITH u AS (
  SELECT NULL::BIGINT AS event_id, user_id, epoch_us(ts) AS us, 0 AS is_p
  FROM events WHERE event_type = 'click'
  UNION ALL
  SELECT event_id, user_id, epoch_us(ts) AS us, 1 AS is_p
  FROM events WHERE event_type = 'purchase'
),
c AS (
  SELECT *,
    MIN(CASE WHEN is_p = 0 THEN us END) OVER (
      PARTITION BY user_id ORDER BY us, is_p DESC
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
    ) AS next_us
  FROM u
)
SELECT
  event_id,
  user_id,
  us AS ts_us,
  CASE WHEN next_us - us <= {ASOF_FWD_TOL_US} THEN next_us END
    AS next_click_us,
  CASE WHEN next_us - us <= {ASOF_FWD_TOL_US} THEN next_us - us END
    AS wait_us
FROM c WHERE is_p = 1
"""


BAND_S = 600  # range-join band width = the range bound (10 minutes)


#: nearest-join tolerance: a click counts only within +/- 1 hour
NEAREST_TOL_US = 3_600 * 1_000_000


def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference: NEAREST as-of join — each purchase matches the
    click closest in time in EITHER direction within +/-1 h, ties to
    the earlier click (sensor-fusion alignment semantics; pandas
    merge_asof direction='nearest').

    Same two-sided-carry machinery as join_asof/join_asof_fwd, fused:
    ONE exchange on user_id and ONE sort — the backward running max
    uses the (unboundedPreceding, current) frame and the forward
    running min uses (current, unboundedFollowing) over the SAME
    ascending (us, is_p) order, so both windows ride a single
    WindowExec sort (plan-pinned: 1 Exchange, 1 Sort). The nearest
    pick and the tolerance gate are pure row expressions in integer
    microseconds. r14: the click/purchase legs come from ONE scan
    with a conditional projection (event_id nulled on clicks, is_p
    from the type) instead of a two-scan union — the r13 record's
    3.0x on a 0.31 s denominator was half a redundant events rescan.

    Tie proof: with is_p ascending, a click at the purchase's exact
    timestamp sorts BEFORE it — inside the preceding frame (so
    d_prev = 0) and OUTSIDE the following frame. Missing it from
    next_us is harmless: d_prev = 0 is minimal and the equal-distance
    rule prefers prev, so the pick is that click either way; equal
    fore/aft distances resolve to the earlier (preceding) click
    deterministically.

    At 100 TB: identical scaling to join_asof — no range explosion, no
    self-join; skew rides the user_id hash like every window op here.
    """
    ev = table(spark, sf_dir, "events")
    unioned = ev.filter(
        F.col("event_type").isin("click", "purchase")
    ).select(
        F.when(
            F.col("event_type") == "purchase", F.col("event_id")
        ).alias("event_id"),
        "user_id",
        F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
        (F.col("event_type") == "purchase").cast("int").alias("is_p"),
    )
    back = (
        Window.partitionBy("user_id")
        .orderBy("us", "is_p")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("user_id")
        .orderBy("us", "is_p")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    carried = unioned.withColumn(
        "prev_us",
        F.max(F.when(F.col("is_p") == 0, F.col("us"))).over(back),
    ).withColumn(
        "next_us",
        F.min(F.when(F.col("is_p") == 0, F.col("us"))).over(fwd),
    )
    d_prev = F.col("us") - F.col("prev_us")
    d_next = F.col("next_us") - F.col("us")
    prev_ok = F.col("prev_us").isNotNull() & (d_prev <= NEAREST_TOL_US)
    next_ok = F.col("next_us").isNotNull() & (d_next <= NEAREST_TOL_US)
    nearest = F.when(
        prev_ok & (~next_ok | (d_prev <= d_next)), F.col("prev_us")
    ).otherwise(F.when(next_ok, F.col("next_us")))
    return (
        carried.filter(F.col("is_p") == 1)
        .withColumn("click_us", nearest)
        .filter(F.col("click_us").isNotNull())
        .select(
            "event_id",
            "user_id",
            F.col("us").alias("ts_us"),
            "click_us",
            F.abs(F.col("us") - F.col("click_us")).alias("dist_us"),
        )
    )


ORACLE_JOIN_ASOF_NEAREST = f"""
WITH u AS (
  SELECT CAST(NULL AS BIGINT) AS event_id, user_id,
         epoch_us(ts) AS us, 0 AS is_p
  FROM events WHERE event_type = 'click'
  UNION ALL
  SELECT event_id, user_id, epoch_us(ts) AS us, 1 AS is_p
  FROM events WHERE event_type = 'purchase'
),
b AS (
  SELECT *,
    MAX(CASE WHEN is_p = 0 THEN us END) OVER (
      PARTITION BY user_id ORDER BY us, is_p
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_us,
    MIN(CASE WHEN is_p = 0 THEN us END) OVER (
      PARTITION BY user_id ORDER BY us DESC, is_p
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS next_us
  FROM u
),
p AS (
  SELECT *,
    CASE
      WHEN prev_us IS NOT NULL AND us - prev_us <= {NEAREST_TOL_US}
           AND (next_us IS NULL OR next_us - us > {NEAREST_TOL_US}
                OR us - prev_us <= next_us - us)
        THEN prev_us
      WHEN next_us IS NOT NULL AND next_us - us <= {NEAREST_TOL_US}
        THEN next_us
    END AS click_us
  FROM b WHERE is_p = 1
)
SELECT event_id, user_id, us AS ts_us, click_us,
       ABS(us - click_us) AS dist_us
FROM p WHERE click_us IS NOT NULL
"""


def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference: range join (interval containment), same-relation
    form — purchases attributed to same-user clicks within the
    preceding 10 minutes.

    Both join sides come from ONE relation, so the range join collapses
    to a range-frame WINDOW: one scan, one hash exchange on user_id,
    one sort — no explode, no join, no post-join aggregation. The frame
    ``RANGE BETWEEN (10min - 1us) PRECEDING AND CURRENT ROW`` over
    integer microseconds reproduces the half-open predicate exactly
    (peers at ts_p are included, the -10min boundary is excluded).
    Measured at synthesized sf1: 1.6s vs 3.8s for the banded-join twin
    below — and asymptotically it shuffles each event once instead of
    three times (two join inputs + the count aggregation).

    When the two sides are DIFFERENT relations the window form does not
    apply; that general case is :func:`join_range_banded`.
    """
    e = table(spark, sf_dir, "events")
    ev = e.filter(F.col("event_type").isin("click", "purchase")).select(
        "event_id",
        "user_id",
        "event_type",
        F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-(BAND_S * 1_000_000 - 1), 0)
    )
    return (
        ev.withColumn(
            "n_prior_clicks",
            F.sum(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            ).over(w),
        )
        .filter(
            (F.col("event_type") == "purchase")
            & (F.col("n_prior_clicks") >= 1)
        )
        .select("event_id", "user_id", "n_prior_clicks")
    )


def join_range_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference: banded range join (interval containment), the
    two-relation general form.

    A naive theta-join (`c.ts BETWEEN p.ts - 10m AND p.ts`) is
    a nested-loop cross product per user — O(n*m) comparisons and, at
    100 TB, an un-shuffleable plan. The scalable form *bands* time into
    10-minute buckets: each click lands in one bucket, each purchase
    probes its own and the previous bucket (any interval of width W
    intersects at most 2 W-wide buckets), so the join is a pure
    EQUI-join on (user_id, bucket) — shuffle-partitionable, AQE-skew
    splittable — followed by the exact range predicate as a filter.
    Kept alongside the window form (same oracle) because banding is the
    only scalable strategy when the probe and build sides are different
    relations.
    """
    e = table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("ts_c"),
        (F.unix_timestamp("ts") / BAND_S).cast("long").alias("bucket"),
    )
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.col("ts").alias("ts_p"),
            (F.unix_timestamp("ts") / BAND_S).cast("long").alias("b"),
        )
        .select(
            "event_id", "user_id", "ts_p",
            F.explode(F.array(F.col("b"), F.col("b") - 1)).alias("bucket"),
        )
    )
    return (
        purchases.join(clicks, ["user_id", "bucket"])
        .filter(
            (F.col("ts_c") <= F.col("ts_p"))
            & (F.col("ts_c") > F.col("ts_p") - F.expr("INTERVAL 10 MINUTES"))
        )
        .groupBy("event_id", "user_id")
        .agg(F.count(F.lit(1)).alias("n_prior_clicks"))
    )


ORACLE_JOIN_RANGE = """
SELECT p.event_id, p.user_id, COUNT(*) AS n_prior_clicks
FROM events p
JOIN events c
  ON c.user_id = p.user_id
 AND c.event_type = 'click'
 AND c.ts <= p.ts
 AND c.ts > p.ts - INTERVAL '10 minutes'
WHERE p.event_type = 'purchase'
GROUP BY p.event_id, p.user_id
"""


#: overlap-join band width, centiseconds (200 s). The plan is CORRECT
#: for any band width and any interval length (sequence-explode emits
#: every touched band); the width only tunes explode factor vs join
#: selectivity. Swept at synthesized sf1 (min-of-3, SCALE.md §26d):
#: 600 s -> 1.83 s, 300 s -> 1.37 s, 200 s -> 1.18 s, 120 s -> 1.23 s —
#: narrower bands shrink each band's candidate cross-product faster
#: than the <=ceil(490s/200s)+1 = 4-copy explode grows the probe side,
#: until per-copy overhead wins below ~200 s.
_OVERLAP_BAND_CS = 20_000


def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join WITHOUT a shared equi-key: click intervals
    x view intervals of DIFFERENT users that overlap in time — the
    "concurrent activity" correlation query (cross-camera motion
    windows in the reference's domain).

    Each event spans [ts, ts + value seconds]. A naive engine needs an
    all-pairs range join; the scalable plan is temporal banding (the
    1-D analogue of geo_knn's grid): every interval is exploded into
    EVERY band it touches (``sequence(band(start), band(end))`` — at
    most ceil(len/band)+1 copies, <=2 on this corpus), candidates join
    on the band EQUI-key, the true overlap predicate filters, and the
    duplicates a pair would get from co-touching several bands are
    removed by an OWNERSHIP rule instead of a distinct: the pair is
    counted only in the band containing max(start). That band is
    touched by BOTH sides for ANY interval lengths — max(start) lies
    inside both intervals whenever they strictly overlap — so the rule
    is exact, not a fixture-dependent shortcut. One equi-join shuffle
    on a high-cardinality key, zero distinct, zero all-pairs. Time is
    exact integer centiseconds (value has 2 decimals).

    Output is the per-epoch-day overlap profile: pair count and total
    overlap mass (strict overlap: max(start) < min(end)).
    """
    e = table(spark, sf_dir, "events")

    def _ivals(kind: str) -> DataFrame:
        from .aggregates import scaled_long

        base = e.filter(F.col("event_type") == kind).select(
            F.col("event_id").alias(f"{kind}_id"),
            F.col("user_id").alias(f"{kind}_user"),
            F.expr("unix_micros(cast(ts as timestamp)) div 10000").alias(
                f"{kind}_s"
            ),
            scaled_long("value").alias("len_cs"),
        )
        return base.select(
            f"{kind}_id",
            f"{kind}_user",
            f"{kind}_s",
            (F.col(f"{kind}_s") + F.col("len_cs")).alias(f"{kind}_e"),
        )

    return overlap_profile(
        _ivals("click"), _ivals("view"), band_cs=_OVERLAP_BAND_CS
    )


def overlap_profile(
    clicks_iv: DataFrame, views_iv: DataFrame, *, band_cs: int
) -> DataFrame:
    """The banded interval-overlap core (see join_interval_overlap):
    inputs are interval tables with columns ``{kind}_user``,
    ``{kind}_s``, ``{kind}_e`` (integer centiseconds). Exposed at
    module level so the arbitrary-interval-length proof can be pinned
    by a test with intervals LONGER than one band."""

    def _banded(df: DataFrame, s: str, epos: str) -> DataFrame:
        b0 = F.expr(f"{s} div {band_cs}")
        b1 = F.expr(f"{epos} div {band_cs}")
        return df.withColumn("band", F.explode(F.sequence(b0, b1)))

    clicks = _banded(clicks_iv, "click_s", "click_e")
    views = _banded(views_iv, "view_s", "view_e")
    pairs = (
        clicks.join(views, "band")
        .filter(
            (F.col("click_user") != F.col("view_user"))
            & (F.col("click_s") < F.col("view_e"))
            & (F.col("view_s") < F.col("click_e"))
        )
        .withColumn("mx_s", F.greatest("click_s", "view_s"))
        # ownership: of all banded copies of a true pair, exactly one
        # has band == band(max start), and both sides always emit it
        .filter(F.col("band") == F.expr(f"mx_s div {band_cs}"))
        .select(
            F.expr("mx_s div 8640000").alias("epoch_day"),
            (
                F.least("click_e", "view_e") - F.col("mx_s")
            ).alias("overlap_cs"),
        )
    )
    return pairs.groupBy("epoch_day").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("overlap_cs").alias("sum_overlap_cs"),
    )


ORACLE_JOIN_INTERVAL_OVERLAP = """
WITH iv AS (
  SELECT
    event_id,
    user_id,
    event_type,
    epoch_us(ts) // 10000 AS s,
    epoch_us(ts) // 10000
      + CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS e
  FROM events
  WHERE event_type IN ('click', 'view')
),
pairs AS (
  SELECT
    GREATEST(a.s, b.s) AS mx_s,
    LEAST(a.e, b.e) - GREATEST(a.s, b.s) AS overlap_cs
  FROM iv a JOIN iv b
    ON a.event_type = 'click' AND b.event_type = 'view'
   AND a.user_id <> b.user_id
   AND a.s < b.e AND b.s < a.e
)
SELECT
  mx_s // 8640000 AS epoch_day,
  COUNT(*) AS n_pairs,
  CAST(SUM(overlap_cs) AS BIGINT) AS sum_overlap_cs
FROM pairs
GROUP BY epoch_day
"""


def join_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema join: fact (orders) against a dimension CHAIN
    (customer -> nation -> region), rolled up to revenue per region and
    order year — the TPC-H Q5 shape and the bread-and-butter BI query a
    warehouse engine must plan well.

    Strategy mix is the point: customer is fact-scale (shuffle hash /
    SMJ territory — left to Catalyst + AQE, which broadcasts it at
    local SFs and switches to a shuffle join when it outgrows the
    threshold), while nation (25 rows) and region (5) are FORCED
    broadcasts — a star plan should never shuffle the fact table for
    kilobyte dimensions. Revenue is exact integer cents
    (scaled_long -> unscale), counts BIGINT.

    At 100 TB: one fact-scale exchange at most (orders x customer on
    custkey), dimension hops are map-side; the final rollup is a
    mergeable hash aggregate on a (region x year)-sized key space.
    Reference scope: beyond J1 (task.ts joins exactly one dimension,
    task.ts:122-128; the chain form is what warehouses actually run).
    """
    from .aggregates import scaled_long, unscale

    o = table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.year("o_orderdate").alias("order_year"),
        scaled_long("o_totalprice").alias("price_c"),
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    r = table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), "order_year")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            unscale(F.sum("price_c")).alias("revenue"),
        )
    )


ORACLE_JOIN_STAR = """
SELECT
  r.r_name AS region,
  CAST(YEAR(o.o_orderdate) AS INT) AS order_year,
  COUNT(*) AS n_orders,
  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY 1, 2
"""


QUERIES = {
    "join_broadcast_left": sql_spec(
        ORACLE_JOIN_BROADCAST_LEFT,
        "reference:J1", "reference:O2",
        doc="broadcast hash left-outer join (build-side map), task.ts:114-125,228",
    ),
    "join_semi": sql_spec(
        ORACLE_JOIN_SEMI, "reference:J3",
        doc="left-semi ACL membership join, task.ts:209-212",
    ),
    "join_anti": sql_spec(
        ORACLE_JOIN_ANTI, "reference:J4",
        doc="left-anti complement of the ACL gate, task.ts:209-273",
    ),
    "join_sortmerge": spec(
        join_sortmerge, ORACLE_JOIN_SORTMERGE, "beyond",
        doc="large x large sort-merge join + exact decimal agg (forced SMJ)",
    ),
    "join_large": spec(
        join_large, ORACLE_JOIN_SORTMERGE, "beyond",
        doc="large x large join, engine-chosen plan (bench row)",
    ),
    "join_bucketed": spec(
        join_bucketed, ORACLE_JOIN_SORTMERGE, "beyond",
        doc="co-located bucketed join: zero-shuffle SMJ via layout",
    ),
    "join_salted": spec(
        join_salted, ORACLE_JOIN_SALTED, "beyond",
        doc="salted skew join: hot keys spread over N_SALT reducers",
    ),
    "join_asof": spec(
        join_asof, ORACLE_JOIN_ASOF, "beyond",
        doc="as-of join via union + running max (no range explosion)",
    ),
    "join_asof_fwd": spec(
        join_asof_fwd, ORACLE_JOIN_ASOF_FWD, "beyond",
        doc="forward as-of join with 1h tolerance (union + running min)",
    ),
    "join_asof_nearest": spec(
        join_asof_nearest, ORACLE_JOIN_ASOF_NEAREST, "beyond",
        doc="nearest as-of join (either direction, 1h tolerance, "
            "earlier-click ties) — one exchange, two window passes",
    ),
    "join_range": spec(
        join_range, ORACLE_JOIN_RANGE, "beyond",
        doc="same-relation range join as one range-frame window pass",
    ),
    "join_range_banded": spec(
        join_range_banded, ORACLE_JOIN_RANGE, "beyond",
        doc="banded range join: equi-join on time buckets + exact filter",
    ),
    "join_interval_overlap": spec(
        join_interval_overlap, ORACLE_JOIN_INTERVAL_OVERLAP, "beyond",
        doc="keyless interval-overlap join via temporal banding + "
            "max-start ownership dedup",
    ),
    "join_star": spec(
        join_star, ORACLE_JOIN_STAR, "beyond",
        doc="star-schema dimension chain (fact shuffle join + forced "
            "kilobyte-dim broadcasts), revenue by region x year",
    ),
}
