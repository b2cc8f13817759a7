"""Window functions (SURVEY.md §2.5 — beyond-reference except W1).

The reference has no window functions, but its last-wins dedup IS the
row_number window (see operators/dedup.py). The engine ships the full
family. Scale notes: a window = one shuffle on partitionBy keys + a sort
within each key group; frames are evaluated streaming (running
aggregates keep O(1) state per row for UNBOUNDED PRECEDING..CURRENT).
Skewed partition keys are the hazard — prefer keys with bounded group
size (here: order key, user id), never a constant; the one global window
in sorts.sort_orderby is flagged as test-scale-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import spec, sql_spec


ORACLE_WIN_ROWNUM = """
SELECT o_custkey, o_orderkey AS last_orderkey, o_totalprice
FROM (
  SELECT *,
         ROW_NUMBER() OVER (
           PARTITION BY o_custkey
           ORDER BY o_orderdate DESC, o_orderkey DESC
         ) AS rn
  FROM orders
)
WHERE rn = 1
"""


ORACLE_WIN_RANK = """
SELECT o_orderpriority, o_orderkey, o_totalprice, rnk
FROM (
  SELECT *,
         RANK() OVER (
           PARTITION BY o_orderpriority
           ORDER BY o_totalprice DESC, o_orderkey
         ) AS rnk
  FROM orders
)
WHERE rnk <= 3
"""


def win_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame: running quantity per order (ROWS UNBOUNDED PRECEDING).

    The running sum accumulates exact scale-2 LONGs so every prefix is
    exact in both engines (a double running sum would drift
    engine-specifically; a decimal one is ~4x slower in the window loop —
    see aggregates.py module docstring).
    """
    from .aggregates import scaled_long, unscale

    li = table(spark, sf_dir, "lineitem")
    # total order within the partition (see dedup_lastwins note): with a
    # non-total ORDER BY, tied rows would take engine-dependent prefixes.
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber", "l_quantity", "l_extendedprice", "l_partkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        unscale(F.sum(scaled_long("l_quantity")).over(w), 2).alias(
            "running_qty"
        ),
    )


ORACLE_WIN_FRAME = """
SELECT
  l_orderkey,
  l_linenumber,
  CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) OVER (
    PARTITION BY l_orderkey
    ORDER BY l_linenumber, l_quantity, l_extendedprice, l_partkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ) AS DOUBLE) AS running_qty
FROM lineitem
"""


def win_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag: inter-event gap per user in microseconds (event deltas)."""
    ev = table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        us.alias("ts_us"),
        (us - F.lag(us).over(w)).alias("gap_us"),
    )


ORACLE_WIN_LAG = """
SELECT
  event_id,
  user_id,
  epoch_us(ts) AS ts_us,
  epoch_us(ts) - LAG(epoch_us(ts)) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
  ) AS gap_us
FROM events
"""


# percent_rank and cume_dist are count ratios ((rank-1)/(n-1), a single
# double division of exact integers), so they compare bit-identically
# across engines; the ORDER BY is made total with the key column.
#
# Parallelism ceiling (deliberate): the window partitions by
# c_mktsegment, 5 values, so the sort runs on at most 5 tasks at ANY
# scale. That is inherent to exact distribution functions over whole
# segments, not a plan defect (every engine must totally order each
# segment somewhere). The scale path when a segment outgrows one task
# is the two-phase range-partitioned rank in
# sorts.bucketed_global_rank: range-split the segment, rank within
# splits, add broadcast per-split offsets; ntile/percent_rank/cume_dist
# are then count ratios off that rank and the per-segment counts. At
# the bench SFs the 5-task form is both faster (no extra exchange) and
# the shape DuckDB runs, so the ratio compares like-for-like; its sf1
# timing spread is scheduling variance on 5 long tasks, priced by the
# two-run agreement protocol, not plan instability.
ORACLE_WIN_NTILE = """
SELECT
  c_custkey,
  c_mktsegment,
  NTILE(4) OVER w AS quartile,
  ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
  ROUND(CUME_DIST() OVER w, 6) AS cume
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
"""


# The frame MUST be the full partition (unbounded both ways) for
# LAST_VALUE to mean the partition's last row: the default frame
# (unbounded preceding .. current row) silently makes LAST_VALUE the
# current row, the classic window footgun both engines share.
ORACLE_WIN_FIRST_LAST = """
SELECT
  l_orderkey,
  l_linenumber,
  FIRST_VALUE(l_quantity) OVER w AS first_qty,
  LAST_VALUE(l_quantity) OVER w AS last_qty,
  NTH_VALUE(l_quantity, 2) OVER w AS second_qty
FROM lineitem
WINDOW w AS (
  PARTITION BY l_orderkey
  ORDER BY l_linenumber, l_quantity, l_extendedprice, l_partkey
  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
)
"""


RANGE_FRAME_US = 10 * 60 * 1_000_000  # 10 minutes in microseconds


def win_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference: time-based RANGE frame — per-user rolling
    10-minute sum over event time.

    RANGE frames bound by *value distance*, not row count: every peer
    within [ts - 10min, ts] joins the frame regardless of how many rows
    that is — the semantics sliding-window features (rolling rates,
    monitoring counters) actually need. Spark's DataFrame rangeBetween
    takes numeric offsets, so the ordering column is exact epoch
    microseconds; the SQL form (`RANGE BETWEEN INTERVAL 10 MINUTES
    PRECEDING AND CURRENT ROW`) compiles to the same SpecifiedWindowFrame.
    The sum accumulates exact cents (aggregates.py discipline).
    """
    from .aggregates import scaled_long, unscale

    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-RANGE_FRAME_US, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        unscale(F.sum(scaled_long("value")).over(w), 2).alias("rolling_10m"),
    )


ORACLE_WIN_RANGE_INTERVAL = """
SELECT
  event_id,
  user_id,
  epoch_us(ts) AS ts_us,
  CAST(CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) OVER (
         PARTITION BY user_id ORDER BY ts
         RANGE BETWEEN INTERVAL '10 minutes' PRECEDING AND CURRENT ROW
       ) AS DECIMAL(38,0)) / 100 AS DOUBLE) AS rolling_10m
FROM events
"""


SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 minutes, = streaming session gap


def win_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference: batch sessionization (gaps-and-islands).

    The window-function twin of ``stream_session``'s session_window: a
    new session starts when the gap to the previous event is >= 30 min
    (session_window merges an event iff it lands strictly inside the
    gap after the previous one — same break condition as the streaming
    oracle, streaming/windows.py:110). Two window passes over ONE
    (user_id, ts) sort — lag -> boundary flag -> running sum = session
    ordinal — then a hash aggregate per (user, session). Catalyst plans
    both window functions in a single Window operator, so the total
    cost is one shuffle + one sort: the classic large-scale
    sessionization shape. Ties in ts are broken by event_id so both
    engines walk an identical total order.
    """
    e = table(spark, sf_dir, "events")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    order = Window.partitionBy("user_id").orderBy(ts_us, F.col("event_id"))
    gap = ts_us - F.lag(ts_us).over(order)
    is_new = F.when(
        gap.isNull() | (gap >= SESSION_GAP_US), F.lit(1)
    ).otherwise(F.lit(0))
    run = Window.partitionBy("user_id").orderBy(
        ts_us, F.col("event_id")
    ).rowsBetween(Window.unboundedPreceding, 0)
    with_sess = e.select(
        "user_id",
        ts_us.alias("ts_us"),
        F.sum(is_new).over(run).alias("session_no"),
    )
    return with_sess.groupBy("user_id", "session_no").agg(
        F.min("ts_us").alias("session_start_us"),
        F.max("ts_us").alias("session_end_us"),
        F.count(F.lit(1)).alias("n_events"),
    )


ORACLE_WIN_SESSIONIZE = """
WITH flagged AS (
  SELECT
    user_id,
    event_id,
    epoch_us(ts) AS ts_us,
    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w IS NULL
           OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w >= 30 * 60 * 1000000
         THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
),
numbered AS (
  SELECT
    user_id,
    ts_us,
    -- CAST: DuckDB SUM(int) is HUGEINT -> pandas float64 vs Spark int64
    -- under the driver's dtype-sensitive hash (round-2 hash FAIL)
    CAST(SUM(is_new) OVER (
      PARTITION BY user_id ORDER BY ts_us, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS BIGINT) AS session_no
  FROM flagged
)
SELECT
  user_id,
  session_no,
  MIN(ts_us) AS session_start_us,
  MAX(ts_us) AS session_end_us,
  COUNT(*) AS n_events
FROM numbered
GROUP BY user_id, session_no
"""


FUNNEL_WINDOW_US = 30 * 60 * 1_000_000


def win_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference: funnel / sequence detection (MATCH_RECOGNIZE's
    common case) — count click->purchase conversions within 30 minutes.

    A conversion is an adjacent-event transition in the user's
    event-time order: previous event is a click, current is a purchase,
    gap inside the window. One lag pass over one (user, time) sort —
    the same single-shuffle shape as sessionization — then a count per
    user. The general k-step funnel iterates the same lag/flag trick k
    times over the SAME sorted pass; nothing re-shuffles.
    """
    e = table(spark, sf_dir, "events")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy(ts_us, F.col("event_id"))
    prev_type = F.lag("event_type").over(w)
    prev_ts = F.lag(ts_us).over(w)
    conv = (
        (prev_type == F.lit("click"))
        & (F.col("event_type") == F.lit("purchase"))
        & ((ts_us - prev_ts) <= FUNNEL_WINDOW_US)
    ).cast("long")
    return (
        e.select("user_id", conv.alias("conv"))
        .groupBy("user_id")
        .agg(F.sum("conv").alias("n_conversions"))
        .filter(F.col("n_conversions") > 0)
    )


ORACLE_WIN_FUNNEL = """
WITH lagged AS (
  SELECT
    user_id,
    event_type,
    epoch_us(ts) AS ts_us,
    LAG(event_type) OVER w AS prev_type,
    LAG(epoch_us(ts)) OVER w AS prev_ts
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
)
SELECT user_id, CAST(SUM(conv) AS BIGINT) AS n_conversions FROM (
  SELECT
    user_id,
    CAST(prev_type = 'click' AND event_type = 'purchase'
         AND ts_us - prev_ts <= 30 * 60 * 1000000 AS BIGINT) AS conv
  FROM lagged
)
GROUP BY user_id
HAVING SUM(conv) > 0
"""


# Relative-position windows: percent_rank + cume_dist of every order's
# price within its priority class, the normalized-score shape (price
# percentile vs peers) scoring/binning pipelines use. Both are ratios of
# two window-computed integers ((rank-1)/(n-1), peers<=x / n) evaluated
# in ONE IEEE division, so the doubles are bit-identical across engines.
# The o_orderkey tie-break makes ranks unique and the output fully
# deterministic. One shuffle on the partition key + one sort, the
# win_rownum plan.
ORACLE_WIN_RELRANK = """
SELECT
  o_orderkey,
  o_orderpriority,
  o_totalprice,
  PERCENT_RANK() OVER w AS price_prank,
  CUME_DIST() OVER w AS price_cume
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
"""


def win_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact running count-distinct per user: how many distinct event
    types has this user produced up to and including each event — the
    engagement-breadth signal feature pipelines attach per event.

    A sliding DISTINCT cannot ride one frame (distinct state is not
    mergeable across frame slides — same impossibility ts_rolling_dau
    documents), so this is the standard exact rewrite: flag each
    (user, type) pair's FIRST occurrence with one row_number window,
    then running-SUM the flags over the user's timeline. Two window
    passes; the second re-exchanges from (user, type) to (user) —
    unavoidable, since the flag needs per-type order and the running
    sum needs the whole user. Both orders share the same (ts,
    event_id) total order, so results are deterministic and
    engine-identical (integer flags, integer sums).

    At 100 TB: state per task is O(1) for both windows (running
    aggregates stream); skew bounded by per-user event counts.
    """
    e = table(spark, sf_dir, "events")
    w1 = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    flagged = e.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(F.row_number().over(w1) == 1, 1).otherwise(0).alias("fst"),
    )
    return flagged.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.sum("fst").over(w2).alias("n_distinct_types"),
    )


ORACLE_WIN_RUNNING_DISTINCT = """
WITH f AS (
  SELECT event_id, user_id, ts, event_type,
         CASE WHEN ROW_NUMBER() OVER (
                PARTITION BY user_id, event_type ORDER BY ts, event_id
              ) = 1 THEN 1 ELSE 0 END AS fst
  FROM events
)
SELECT event_id, user_id, ts, event_type,
       CAST(SUM(fst) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS n_distinct_types
FROM f
"""


#: regex over per-user event-initial sequences: a view, any number of
#: clicks, then a purchase — the regex generalization of win_funnel's
#: fixed adjacent transition (MATCH_RECOGNIZE's PATTERN clause shape).
SEQ_PATTERN = "VC*P"


def win_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern matching per user: encode each user's event-time
    ordered history as a character string (event-type initials — all
    five types have distinct initials) and count non-overlapping regex
    matches of SEQ_PATTERN. MATCH_RECOGNIZE semantics for patterns a
    lag-chain can't express (unbounded repetition between anchors).

    Both engines scan leftmost-first with greedy quantifiers, and the
    pattern has no alternation whose priority could differ — match
    counts are engine-identical (and the per-user sequence is built on
    the same (ts, event_id) total order on both sides).

    At 100 TB: one shuffle on user_id; each group reduces to one bounded
    string (a user's event count), then the regex scan is per-group
    linear work — the same skew contract as sessionization. The string
    never leaves the executor; output is one row per user.
    """
    e = table(spark, sf_dir, "events")
    ch = F.upper(F.substring("event_type", 1, 1))
    seq = F.concat_ws(
        "",
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", ch.alias("ch")))
            ),
            lambda x: x["ch"],
        ),
    )
    return (
        e.groupBy("user_id")
        .agg(seq.alias("seq"))
        .select(
            "user_id",
            F.length("seq").alias("seq_len"),
            F.regexp_count("seq", F.lit(SEQ_PATTERN)).alias("n_matches"),
        )
    )


ORACLE_WIN_PATTERN_MATCH = f"""
WITH seqs AS (
  SELECT user_id,
         STRING_AGG(UPPER(SUBSTRING(event_type, 1, 1)), ''
                    ORDER BY ts, event_id) AS seq
  FROM events
  GROUP BY user_id
)
SELECT user_id,
  CAST(LEN(seq) AS INTEGER) AS seq_len,
  CAST(LEN(regexp_extract_all(seq, '{SEQ_PATTERN}')) AS INTEGER)
    AS n_matches
FROM seqs
"""


def win_session_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch session attribution — the conversion-credit query
    every events pipeline runs: purchases are credited to the FIRST
    click of their session (win_sessionize's 30-min gap sessions), and
    revenue rolls up by the epoch-day of that first click.

    One exchange on user_id carries everything: the same two-window
    sessionization pass as win_sessionize (lag -> boundary flag ->
    running sum, one Window operator), then a hash aggregate per
    (user, session) computes the first-click timestamp and the
    purchase revenue side by side, keeps only sessions that HAVE both
    a click and a purchase (attribution defined), and a final
    day-grouped aggregate emits exact-cent revenue (DECIMAL-routed,
    bit-identical cross-engine).

    At 100 TB: sessionization's standard shape — one shuffle, one
    sort, grid-sized output; no self-join between clicks and purchases
    because the session aggregate carries both roles in one pass.
    """
    from .aggregates import scaled_long, unscale

    e = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    order = Window.partitionBy("user_id").orderBy(ts_us, F.col("event_id"))
    gap = ts_us - F.lag(ts_us).over(order)
    is_new = F.when(
        gap.isNull() | (gap >= SESSION_GAP_US), F.lit(1)
    ).otherwise(F.lit(0))
    run = Window.partitionBy("user_id").orderBy(
        ts_us, F.col("event_id")
    ).rowsBetween(Window.unboundedPreceding, 0)
    with_sess = e.select(
        "user_id",
        "event_type",
        ts_us.alias("ts_us"),
        scaled_long("value").alias("value_c"),
        F.sum(is_new).over(run).alias("session_no"),
    )
    sessions = (
        with_sess.groupBy("user_id", "session_no")
        .agg(
            F.min(
                F.when(F.col("event_type") == "click", F.col("ts_us"))
            ).alias("first_click_us"),
            F.sum(
                F.when(
                    F.col("event_type") == "purchase", F.col("value_c")
                ).otherwise(F.lit(0))
            ).alias("revenue_c"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("n_purchases"),
        )
        .filter(
            F.col("first_click_us").isNotNull() & (F.col("n_purchases") > 0)
        )
    )
    return sessions.groupBy(
        F.expr("first_click_us div 86400000000").alias("epoch_day")
    ).agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_purchases").alias("n_purchases"),
        unscale(F.sum("revenue_c"), 2).alias("attributed_revenue"),
    )


ORACLE_WIN_SESSION_ATTRIBUTION = """
WITH flagged AS (
  SELECT
    user_id,
    event_id,
    event_type,
    epoch_us(ts) AS ts_us,
    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS value_c,
    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w IS NULL
           OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w >= 30 * 60 * 1000000
         THEN 1 ELSE 0 END AS is_new
  FROM events
  WHERE event_type IN ('click', 'purchase')
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
),
numbered AS (
  SELECT *,
    CAST(SUM(is_new) OVER (
      PARTITION BY user_id ORDER BY ts_us, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS BIGINT) AS session_no
  FROM flagged
),
sessions AS (
  SELECT
    user_id,
    session_no,
    MIN(CASE WHEN event_type = 'click' THEN ts_us END) AS first_click_us,
    CAST(SUM(CASE WHEN event_type = 'purchase' THEN value_c ELSE 0 END)
         AS BIGINT) AS revenue_c,
    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         AS BIGINT) AS n_purchases
  FROM numbered
  GROUP BY user_id, session_no
)
SELECT
  first_click_us // 86400000000 AS epoch_day,
  COUNT(*) AS n_sessions,
  CAST(SUM(n_purchases) AS BIGINT) AS n_purchases,
  CAST(CAST(SUM(revenue_c) AS DECIMAL(38,0)) / 100 AS DOUBLE)
    AS attributed_revenue
FROM sessions
WHERE first_click_us IS NOT NULL AND n_purchases > 0
GROUP BY epoch_day
"""


QUERIES = {
    "win_rownum": sql_spec(
        ORACLE_WIN_ROWNUM, "beyond", "reference:J2",
        doc="row_number top-1 per group (the last-wins primitive)",
    ),
    "win_rank": sql_spec(
        ORACLE_WIN_RANK, "beyond",
        doc="rank top-N per group",
    ),
    "win_frame": spec(
        win_frame, ORACLE_WIN_FRAME, "beyond",
        doc="running-sum frame, exact scaled-long accumulation",
    ),
    "win_lag": spec(
        win_lag, ORACLE_WIN_LAG, "beyond",
        doc="lag event deltas per user",
    ),
    "win_ntile": sql_spec(
        ORACLE_WIN_NTILE, "beyond",
        doc="ntile/percent_rank/cume_dist distribution windows",
    ),
    "win_range_interval": spec(
        win_range_interval, ORACLE_WIN_RANGE_INTERVAL, "beyond",
        doc="time-based RANGE frame: rolling 10-minute sum per user",
    ),
    "win_first_last": sql_spec(
        ORACLE_WIN_FIRST_LAST, "beyond",
        doc="first/last/nth_value navigation over full-partition frames",
    ),
    "win_sessionize": spec(
        win_sessionize, ORACLE_WIN_SESSIONIZE, "beyond",
        doc="batch gaps-and-islands sessionization (one sort, two windows)",
    ),
    "win_session_attribution": spec(
        win_session_attribution, ORACLE_WIN_SESSION_ATTRIBUTION, "beyond",
        doc="first-touch session attribution: purchase revenue credited "
            "to the session's first click (one exchange, no self-join)",
    ),
    "win_funnel": spec(
        win_funnel, ORACLE_WIN_FUNNEL, "beyond",
        doc="funnel conversion detection (lag transition flags, one sort)",
    ),
    "win_relrank": sql_spec(
        ORACLE_WIN_RELRANK, "beyond",
        doc="percent_rank + cume_dist price percentile within priority",
    ),
    "win_running_distinct": spec(
        win_running_distinct, ORACLE_WIN_RUNNING_DISTINCT, "beyond",
        doc="exact running count-distinct via first-occurrence flags",
    ),
    "win_pattern_match": spec(
        win_pattern_match, ORACLE_WIN_PATTERN_MATCH, "beyond",
        doc="regex sequence matching over per-user event histories",
    ),
}
