"""Aggregations (reference A1/A2 + the full beyond-reference family).

The reference's aggregation surface is exactly: a COUNT used as loop
control (task.ts:127) and a distinct-set accumulator (task.ts:198,214).
The engine exposes Spark's full hash-aggregate family; Catalyst always
plans partial (map-side combine) + final aggregation, so a group-by over
100 TB shuffles only one row per (partition, group), not the data.

Float determinism: SUM(double) is order-sensitive, and the DuckDB oracle
would disagree in the last ulp. Every money/quantity sum is computed
exactly and order-insensitively, then cast to DOUBLE once at the end, so
both engines produce bit-identical values. Averages are derived as
exact-sum / count in double, never AVG(double).

Two exact-sum strategies:

* ``SUM(CAST(x AS DECIMAL(28,s)))`` — the oracles' form. Always safe,
  but Spark's >18-digit decimals leave the compact-long representation
  and aggregate through BigDecimal (~4x slower than a long sum in the
  hash-agg loop).
* ``scaled_long``/``unscale`` — the fast path used by the hot queries:
  values with <= s true decimals become exact integers at scale 10^s,
  SUM(LONG) runs entirely in whole-stage codegen, and one decimal
  division per *group* converts back (long -> double directly would
  double-round above 2^53). Identical results to the decimal oracle.
  Overflow bound: sum of |x|*10^s must stay under 2^63 — at scale 6 and
  ~1e5 magnitudes that is ~10^7 rows *per group* per the TPC-H column
  profile, fine through sf100; a 100 TB deployment either switches to
  ``SUM(CAST(x AS DECIMAL(28,s)))`` or pre-aggregates per partition
  before the final long sum (partial sums can't overflow a partition's
  bound).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import spec, sql_spec


def scaled_long(col, ndec: int = 2) -> F.Column:
    """Exact integer form of a <=ndec-decimal double: floor(x*10^ndec + .5).

    The half-offset absorbs float representation error in either
    direction (42.07 is stored as 42.07000000000000028, 42.06 as
    42.059999999999999); the result is the same unscaled integer a
    CAST(x AS DECIMAL(p,ndec)) produces. floor() stays a native codegen
    primitive where Spark's round() detours through BigDecimal for
    doubles (~40% slower in the scan loop). Precondition: true values
    have <= ndec decimals, so x*10^ndec is never at an exact .5 boundary
    (where floor+offset and HALF_UP rounding would disagree for
    negatives).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * (10 ** ndec) + F.lit(0.5))


def unscale(sum_long: F.Column, ndec: int = 2) -> F.Column:
    """LONG sum at scale ndec -> exact DOUBLE, via one decimal division.

    Routing through DECIMAL keeps the conversion correctly rounded from
    the exact rational u/10^ndec (a long->double cast would round once at
    2^53 and again at the division — observable vs the oracle).
    """
    return (sum_long.cast("decimal(38,0)") / F.lit(10 ** ndec)).cast("double")


ORACLE_AGG_COUNT = """
SELECT COUNT(*) AS cnt FROM lineitem WHERE l_discount > 0.02
"""


ORACLE_AGG_DISTINCT = """
SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
"""


# COUNT(DISTINCT) per group expands to a two-phase aggregate in Spark
# (distinct shuffle then count), exact.
ORACLE_AGG_COUNT_DISTINCT = """
SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_custs
FROM orders GROUP BY o_orderstatus
"""


def agg_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference: TPC-H Q1-shaped pricing summary.

    The canonical hash-aggregate benchmark: filter -> group -> 6 aggs.
    Inputs have <= 2 true decimals, so every term has an exact integer
    form (price scale 2, disc_price scale 4, charge scale 6) and the
    whole aggregate runs as SUM(LONG) inside whole-stage codegen — same
    values as the oracle's decimal arithmetic, ~4x faster than decimal
    sums (see module docstring for the strategy and overflow bound).
    """
    li = table(spark, sf_dir, "lineitem")
    price_c = scaled_long("l_extendedprice")            # cents
    disc_b = scaled_long("l_discount")                  # basis points /100
    tax_b = scaled_long("l_tax")
    disc_price_u = price_c * (F.lit(100) - disc_b)      # scale 4
    charge_u = disc_price_u * (F.lit(100) + tax_b)      # scale 6
    filtered = li.filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz")
    )
    grouped = filtered.groupBy("l_returnflag", "l_linestatus").agg(
        unscale(F.sum(scaled_long("l_quantity", 4)), 4).alias("sum_qty"),
        unscale(F.sum(price_c), 2).alias("sum_base_price"),
        unscale(F.sum(disc_price_u), 4).alias("sum_disc_price"),
        unscale(F.sum(charge_u), 6).alias("sum_charge"),
        F.count(F.lit(1)).alias("count_order"),
    )
    return grouped.withColumn(
        "avg_qty", F.col("sum_qty") / F.col("count_order")
    ).withColumn("avg_price", F.col("sum_base_price") / F.col("count_order"))


ORACLE_AGG_GROUPBY = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
           * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
           * (1 - CAST(l_discount AS DECIMAL(4,2)))
           * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
  COUNT(*) AS count_order,
  CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) / COUNT(*) AS avg_price
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference: ROLLUP over the region->nation hierarchy."""
    r = table(spark, sf_dir, "region")
    n = table(spark, sf_dir, "nation")
    c = table(spark, sf_dir, "customer")
    j = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return j.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_custs"),
        unscale(F.sum(scaled_long("c_acctbal")), 2).alias("sum_bal"),
    )


ORACLE_AGG_ROLLUP = """
SELECT
  r_name,
  n_name,
  COUNT(*) AS n_custs,
  CAST(SUM(CAST(c_acctbal AS DECIMAL(28,2))) AS DOUBLE) AS sum_bal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference: CUBE over orders dimensions."""
    o = table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        unscale(F.sum(scaled_long("o_totalprice")), 2).alias("sum_price"),
    )


ORACLE_AGG_CUBE = """
SELECT
  o_orderstatus,
  o_orderpriority,
  COUNT(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference: HyperLogLog++ approximate distinct, oracle-checked
    on its ERROR BOUND rather than the sketch value.

    Sketch-based — the 100 TB answer to COUNT(DISTINCT) when ~2% error is
    acceptable: one pass, fixed memory, mergeable partials, no distinct
    shuffle. The raw estimate is engine-specific (Spark HLL++ != DuckDB
    HLL), so the comparable contract is "each engine's sketch lands
    within 10% (5 sigma at rsd=0.02) of the exact count" — both sides
    emit that boolean next to the exact count, and the exact count also
    pins the data itself. The exact COUNT(DISTINCT) here exists only to
    judge the sketch; production use is the sketch alone.

    Band calibration (ADVICE r2): measured max relative error across
    sf0.001/0.01/0.1 is <=0.5% for DuckDB's HLL and ~2% (one rsd) for
    Spark's HLL++, so the 10% band carries a >=5x margin on the worse
    engine; a sketch drifting anywhere near the boundary indicates a
    real regression, not noise.

    Plan shape (r15): the exact judge and the sketch must NOT share one
    mixed distinct/non-distinct aggregate — Spark plans that as a
    two-phase distinct whose phase-1 groups by (returnflag, partkey)
    and carries the partial HLL++ buffer (413 LONG slots at rsd=0.02)
    PER DISTINCT KEY through the exchange: ~200k keys x 413 longs at
    sf0.1, measured 1.96 s isolated. Instead, pre-aggregate to the
    distinct (returnflag, partkey) keys once (narrow 3-column
    exchange), then build the sketch over the DEDUPED rows — HLL
    registers are a max over hashed values, so duplicates cannot
    change them and the estimate is bit-identical; the exact judge
    becomes a plain count and n_rows a sum of the carried per-key
    counts. Same-protocol fresh-JVM A/B: 1.96 -> 0.85 s (the canonical
    number, matching SCALE.md §30j and the registry note; the 0.27 s
    this note once cited was a warm long-lived-session re-run of the
    after form only — different conditions, reconciled r16 per ADVICE).
    Identical output (parity-pinned).
    """
    li = table(spark, sf_dir, "lineitem")
    per_key = li.groupBy("l_returnflag", "l_partkey").agg(
        F.count(F.lit(1)).alias("c")
    )
    g = per_key.groupBy("l_returnflag").agg(
        # count over the key column, not count(1): a NULL key group
        # must stay excluded exactly as count_distinct excluded it
        F.count("l_partkey").alias("exact_parts"),
        F.approx_count_distinct("l_partkey", 0.02).alias("_sk"),
        F.sum("c").alias("n_rows"),
    )
    return g.select(
        "l_returnflag",
        "exact_parts",
        (
            F.abs(F.col("_sk").cast("double") - F.col("exact_parts").cast("double"))
            <= 0.10 * F.col("exact_parts").cast("double")
        ).alias("sketch_within_5sigma"),
        "n_rows",
    )


def agg_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference: MERGEABLE DataSketches HLL — per-group sketches
    whose union answers the rollup without re-reading the data.

    This is the property agg_approx's approx_count_distinct cannot show:
    ``hll_sketch_agg`` produces a binary sketch per o_orderstatus, and
    the 'ALL' row comes from ``hll_union_agg`` over those THREE sketches
    — not from a second scan. At 100 TB that is the entire sketch value
    proposition: 1000 executors emit kilobyte partials, any cube/rollup
    cell is a merge, never a rescan. (The exact global distinct below is
    a second scan, but it exists only to JUDGE the merged sketch, same
    contract as agg_approx: each engine's estimate must land within 10%
    of its own exact count; the exact counts also pin the data.)

    lgConfigK=12 -> relative std error ~1.6%, so the 10% band is >6
    sigma — a boundary hit means regression, not noise.
    """
    o = table(spark, sf_dir, "orders")
    g = o.groupBy("o_orderstatus").agg(
        F.hll_sketch_agg("o_custkey", F.lit(12)).alias("sk"),
        F.count_distinct("o_custkey").alias("exact_custs"),
    )
    def banded(est, exact):
        return (
            F.abs(est.cast("double") - exact.cast("double"))
            <= F.lit(0.10) * exact.cast("double")
        ).alias("sketch_ok")

    per = g.select(
        F.col("o_orderstatus").alias("grp"),
        "exact_custs",
        banded(F.hll_sketch_estimate("sk"), F.col("exact_custs")),
    )
    merged = (
        g.agg(F.hll_union_agg("sk").alias("sk"))
        .crossJoin(
            F.broadcast(
                o.agg(F.count_distinct("o_custkey").alias("exact_custs"))
            )
        )
        .select(
            F.lit("ALL").alias("grp"),
            "exact_custs",
            banded(F.hll_sketch_estimate("sk"), F.col("exact_custs")),
        )
    )
    return per.unionByName(merged)


ORACLE_AGG_SKETCH_MERGE = """
SELECT o_orderstatus AS grp,
  COUNT(DISTINCT o_custkey) AS exact_custs,
  abs(CAST(approx_count_distinct(o_custkey) AS DOUBLE)
      - CAST(COUNT(DISTINCT o_custkey) AS DOUBLE))
    <= 0.10 * CAST(COUNT(DISTINCT o_custkey) AS DOUBLE) AS sketch_ok
FROM orders GROUP BY o_orderstatus
UNION ALL
SELECT 'ALL' AS grp,
  COUNT(DISTINCT o_custkey) AS exact_custs,
  abs(CAST(approx_count_distinct(o_custkey) AS DOUBLE)
      - CAST(COUNT(DISTINCT o_custkey) AS DOUBLE))
    <= 0.10 * CAST(COUNT(DISTINCT o_custkey) AS DOUBLE) AS sketch_ok
FROM orders
"""


ORACLE_AGG_APPROX = """
SELECT
  l_returnflag,
  COUNT(DISTINCT l_partkey) AS exact_parts,
  abs(CAST(approx_count_distinct(l_partkey) AS DOUBLE)
      - CAST(COUNT(DISTINCT l_partkey) AS DOUBLE))
    <= 0.10 * CAST(COUNT(DISTINCT l_partkey) AS DOUBLE)
    AS sketch_within_5sigma,
  COUNT(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
"""


def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference: variance / stddev / correlation, order-insensitive.

    Spark's stddev/corr accumulate doubles (order-sensitive, oracle-
    mismatching), so the moments are accumulated EXACTLY instead: every
    sum is a LONG of exact integers (the y² term is decomposed into
    dollar/cent cross-terms to stay under 2^63 — see inline comment),
    then the textbook formulas run in double on those exact moments —
    every arithmetic step is identical in both engines, so the results
    are bit-identical. This is also the scalable shape: one pass, eight
    mergeable long partials per group, all in whole-stage codegen.
    """
    li = table(spark, sf_dir, "lineitem")
    x = scaled_long("l_quantity")        # scale 2, <= ~5e3 (qty <= 50)
    y = scaled_long("l_extendedprice")   # scale 2, up to ~1e7
    # y*y reaches 1e14 and its sum would overflow 2^63; split y into
    # dollars/cents (y = 100*yd + yr) so every squared term sums in a
    # long: y^2 = 1e4*yd^2 + 200*yd*yr + yr^2, recombined exactly in
    # decimal AFTER aggregation. x*y (<= 5e10) sums long-safe directly.
    yd = F.floor(y / F.lit(100))
    yr = y - yd * 100
    # x*y (<= 5.5e10/row) is decomposed the same way (ADVICE r1):
    # x*y = 100*(x*yd) + x*yr, so BOTH engines sum the identical long
    # partials and recombine in decimal — one shared overflow-free
    # strategy instead of Spark-long vs oracle-decimal divergence.
    mom = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),       # <= ~1e13/row: long ok
        F.sum(x * yd).alias("sxyd"),     # <= ~5.5e8/row
        F.sum(x * yr).alias("sxyr"),     # <= ~5e5/row
        F.sum(yd * yd).alias("sydd"),    # <= ~1.2e10/row: the bound
        F.sum(yd * yr).alias("sydr"),
        F.sum(yr * yr).alias("syrr"),
    )
    # Tightest per-row term is yd^2 <= ~1.21e10, so partial sums stay
    # exact below 2^63/1.21e10 ~ 7.6e8 rows PER GROUP; asserted at
    # runtime (both engines would need a wider decomposition past it).
    mom = mom.filter(
        F.assert_true(
            F.col("n") < F.lit(700_000_000),
            F.lit("agg_stats: per-group row count exceeds the exact-long "
                  "moment bound (~7e8); widen the decomposition"),
        ).isNull()
    )
    sxy_dec = (
        F.col("sxyd").cast("decimal(38,0)") * 100
        + F.col("sxyr").cast("decimal(38,0)")
    )
    syy_dec = (
        F.col("sydd").cast("decimal(38,0)") * 10_000
        + F.col("sydr").cast("decimal(38,0)") * 200
        + F.col("syrr").cast("decimal(38,0)")
    )
    # Exact integers -> double once, then identical double arithmetic.
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    sxy = sxy_dec.cast("double")
    syy = syy_dec.cast("double")
    var_x = (n * sxx - sx * sx) / (n * (n - F.lit(1.0))) / F.lit(1e4)
    corr = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    return mom.select(
        "l_returnflag",
        F.col("n").alias("n_rows"),
        F.round(var_x, 6).alias("var_qty"),
        F.round(F.sqrt(var_x), 6).alias("std_qty"),
        F.round(corr, 6).alias("corr_qty_price"),
    )


ORACLE_AGG_STATS = """
WITH mom AS (
  SELECT
    l_returnflag,
    COUNT(*) AS n,
    SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) AS sx,
    SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS sy,
    SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)
        * CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) AS sxx,
    -- x*y and y*y decomposed into dollar/cent cross terms summed as
    -- BIGINT and recombined in DECIMAL, mirroring the Spark plan's
    -- exact-long strategy term for term
    CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)
         * CAST(FLOOR(FLOOR(l_extendedprice * 100 + 0.5) / 100) AS BIGINT)) AS DECIMAL(38,0)) * 100
      + CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)
         * (CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
            - 100 * CAST(FLOOR(FLOOR(l_extendedprice * 100 + 0.5) / 100) AS BIGINT))) AS DECIMAL(38,0)) AS sxy,
    CAST(SUM(CAST(FLOOR(FLOOR(l_extendedprice * 100 + 0.5) / 100) AS BIGINT)
         * CAST(FLOOR(FLOOR(l_extendedprice * 100 + 0.5) / 100) AS BIGINT)) AS DECIMAL(38,0)) * 10000
      + CAST(SUM(CAST(FLOOR(FLOOR(l_extendedprice * 100 + 0.5) / 100) AS BIGINT)
         * (CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
            - 100 * CAST(FLOOR(FLOOR(l_extendedprice * 100 + 0.5) / 100) AS BIGINT))) AS DECIMAL(38,0)) * 200
      + CAST(SUM((CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
            - 100 * CAST(FLOOR(FLOOR(l_extendedprice * 100 + 0.5) / 100) AS BIGINT))
         * (CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
            - 100 * CAST(FLOOR(FLOOR(l_extendedprice * 100 + 0.5) / 100) AS BIGINT))) AS DECIMAL(38,0)) AS syy
  FROM lineitem
  GROUP BY l_returnflag
)
SELECT
  l_returnflag,
  n AS n_rows,
  ROUND((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) / 1e4, 6) AS var_qty,
  ROUND(SQRT((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) / 1e4), 6) AS std_qty,
  ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        / (SQRT(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           * SQRT(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
    AS corr_qty_price
FROM mom
"""


N_SALT = 16


def agg_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference: two-phase salted aggregation for skewed keys.

    l_returnflag has 3 distinct values — at 100 TB a direct group-by puts
    a third of the table through each of 3 reducers. Salting splits each
    hot group into N_SALT subgroups (phase 1: group by (key, salt), the
    shuffle spreads over 3*N_SALT reducers), then re-aggregates the tiny
    partials (phase 2). Works because the scaled-long sums and counts are
    associative — the exact property the oracle verifies (plain group-by
    must give bit-identical results). AQE's skew handling covers *join*
    skew automatically; aggregation skew needs this explicit rewrite.

    The salt must be deterministic per row (not rand()) or speculative
    task retries double-count: here it hashes ONE stable key column —
    hashing (l_orderkey, l_linenumber, l_partkey) was measured 10-15%
    slower at sf1 purely from scanning two extra columns, and a salt
    only needs uniformity across reducers, not row-uniqueness (the ~4
    lineitems of an order sharing a salt is irrelevant at N_SALT
    buckets per group).
    """
    li = table(spark, sf_dir, "lineitem")
    salt = F.pmod(F.xxhash64("l_orderkey"), F.lit(N_SALT))
    phase1 = (
        li.withColumn("salt", salt)
        .groupBy("l_returnflag", "salt")
        .agg(
            F.count(F.lit(1)).alias("pc"),
            F.sum(scaled_long("l_extendedprice")).alias("ps"),
        )
    )
    return (
        phase1.groupBy("l_returnflag")
        .agg(
            F.sum("pc").alias("n_items"),
            unscale(F.sum("ps"), 2).alias("revenue"),
        )
    )


ORACLE_AGG_SALTED = """
SELECT
  l_returnflag,
  COUNT(*) AS n_items,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS revenue
FROM lineitem
GROUP BY l_returnflag
"""


def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference: exact percentiles (sort-based, linearly
    interpolated — the same continuous-quantile definition DuckDB's
    quantile_cont uses: index p*(n-1), lerp between floor/ceil ranks).

    Exact percentile shuffles every value to its group; at 100 TB the
    scalable form is approx_percentile (KLL/GK sketches, mergeable
    partials) — registered separately under agg_approx's rows-only
    regime would go here if contractual exactness is dropped. Rounded to
    4 decimals: the lerp arithmetic is one subtraction+multiply+add in
    double, identical in both engines.
    """
    li = table(spark, sf_dir, "lineitem")
    pcts = F.percentile("l_extendedprice", F.array(F.lit(0.5), F.lit(0.95)))
    return li.groupBy("l_returnflag").agg(
        F.round(F.element_at(pcts, 1), 4).alias("p50"),
        F.round(F.element_at(pcts, 2), 4).alias("p95"),
    )


ORACLE_AGG_PERCENTILE = """
SELECT
  l_returnflag,
  ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
  ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95
FROM lineitem
GROUP BY l_returnflag
"""


def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference: sketch-based percentile, oracle-checked on its
    RANK-ERROR bound (the agg_approx pattern for quantiles).

    approx_percentile (Spark: Greenwald-Khanna; DuckDB: t-digest) gives
    each engine a different estimate, so the comparable contract is
    "each engine's p50/p95 estimate sits between the exact p45/p55 and
    p90/p99 quantiles respectively" — i.e. rank error within 5 points,
    far looser than either sketch's default accuracy, asserted against
    the engine's OWN exact quantiles. One pass, fixed memory, mergeable
    partials at 100 TB; the exact companion is agg_percentile.
    """
    li = table(spark, sf_dir, "lineitem")
    pct = F.percentile("l_extendedprice", F.array(*[
        F.lit(p) for p in (0.45, 0.55, 0.90, 0.99)
    ]))
    apx = F.percentile_approx(
        "l_extendedprice", F.array(F.lit(0.5), F.lit(0.95)), F.lit(10_000)
    )
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        (
            (F.element_at(apx, 1) >= F.element_at(pct, 1))
            & (F.element_at(apx, 1) <= F.element_at(pct, 2))
        ).alias("p50_within_5pt"),
        (
            (F.element_at(apx, 2) >= F.element_at(pct, 3))
            & (F.element_at(apx, 2) <= F.element_at(pct, 4))
        ).alias("p95_within_rank_band"),
    )


ORACLE_AGG_APPROX_PERCENTILE = """
SELECT
  l_returnflag,
  COUNT(*) AS n_rows,
  approx_quantile(l_extendedprice, 0.5)
    BETWEEN quantile_cont(l_extendedprice, 0.45)
        AND quantile_cont(l_extendedprice, 0.55) AS p50_within_5pt,
  approx_quantile(l_extendedprice, 0.95)
    BETWEEN quantile_cont(l_extendedprice, 0.90)
        AND quantile_cont(l_extendedprice, 0.99) AS p95_within_rank_band
FROM lineitem
GROUP BY l_returnflag
"""


# MODE with a DETERMINISTIC tie-break. Native mode() is unusable
# cross-engine (ties resolve arbitrarily, differently per engine and per
# partitioning), so the operator is spelled as what mode actually is:
# count per (group, value), then rank by (count desc, value) and keep
# rank 1. The raw data is reduced by the hash aggregate before any sort,
# so at 100 TB the window sees |groups x values| rows, not the corpus.
ORACLE_AGG_MODE = """
SELECT o_orderstatus, mode_priority, n_rows FROM (
  SELECT
    o_orderstatus,
    o_orderpriority AS mode_priority,
    COUNT(*) AS n_rows,
    ROW_NUMBER() OVER (
      PARTITION BY o_orderstatus
      ORDER BY COUNT(*) DESC, o_orderpriority
    ) AS rn
  FROM orders
  GROUP BY o_orderstatus, o_orderpriority
)
WHERE rn = 1
"""


def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference: set collection into a deterministic ARRAY result.

    collect_set order is engine- and partitioning-dependent; sort_array
    canonicalizes it, making an array-valued aggregate oracle-comparable
    (the driver canonicalizes arrays element-wise). The 100 TB caveat is
    cardinality: collected arrays live in one row — bounded domains only
    (statuses here), never unbounded user data.
    """
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        # joined to one string: same information, and a scalar value every
        # comparison harness can hash (raw arrays break pandas-based
        # canonicalizers — driver finding, round 1)
        F.array_join(
            F.sort_array(F.collect_set("o_orderstatus")), ","
        ).alias("statuses"),
        F.count(F.lit(1)).alias("n_orders"),
    )


ORACLE_AGG_COLLECT = """
SELECT
  o_orderpriority,
  array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
  COUNT(*) AS n_orders
FROM orders
GROUP BY o_orderpriority
"""


# Explicit GROUPING SETS, the general form ROLLUP and CUBE specialize:
# Catalyst expands to a single Expand + hash aggregate, one shuffle for
# all sets.
ORACLE_AGG_GROUPING_SETS = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


HIST_BIN_CENTS = 2_500_000  # $25,000-wide price bins


def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order value (the width_bucket shape).

    Bin assignment is pure integer arithmetic on the cents form —
    ``cents div bin_width`` — so bucket edges are exact in both engines
    (a float ``floor(x / 25000.0)`` can land edge values in the wrong
    bin). One mergeable hash aggregate; output cardinality is the bin
    count, independent of row count, so the reduction is total at any
    scale.
    """
    o = table(spark, sf_dir, "orders")
    bin_id = F.expr(
        f"cast(floor(o_totalprice * 100 + 0.5) as bigint)"
        f" div {HIST_BIN_CENTS}"
    )
    return (
        o.groupBy(bin_id.alias("bin_id"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            unscale(F.sum(scaled_long("o_totalprice")), 2).alias(
                "sum_price"
            ),
        )
        .select(
            "bin_id",
            (F.col("bin_id") * F.lit(HIST_BIN_CENTS / 100.0)).alias(
                "bin_lo"
            ),
            ((F.col("bin_id") + 1) * F.lit(HIST_BIN_CENTS / 100.0)).alias(
                "bin_hi"
            ),
            "n_orders",
            "sum_price",
        )
    )


ORACLE_AGG_HISTOGRAM = """
WITH binned AS (
  SELECT
    CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) // 2500000 AS bin_id,
    CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
)
SELECT
  bin_id,
  bin_id * 25000.0 AS bin_lo,
  (bin_id + 1) * 25000.0 AS bin_hi,
  COUNT(*) AS n_orders,
  CAST(CAST(SUM(cents) AS DECIMAL(38,0)) / 100 AS DOUBLE) AS sum_price
FROM binned
GROUP BY bin_id
"""


#: count-min sketch geometry: 4 hash rows x 64 buckets. Error bound:
#: est - true <= e/64 * N with prob 1 - e^-4 (~98%); the oracle checks
#: the exact arithmetic, a test checks the one-sided guarantee.
CMS_DEPTH = 4
CMS_WIDTH = 64


def agg_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimates vs exact counts for
    lineitem's supplier stream — the second mergeable sketch beside
    agg_sketch_merge's HLL (CMS answers "how often did key x occur"
    from fixed memory; HLL answers "how many distinct keys").

    Build (r11 rework, SCALE.md §25e): this query ALREADY computes the
    exact per-key histogram for the error-band exhibit, and the CMS
    bucket counts are a pure function of it — bucket(d,b) = sum of
    n_exact over keys hashing there. So the 4x hash explode runs over
    the DISTINCT-KEY table (|keys| rows), never the raw stream: md5
    cost drops from 4x|stream| to 4x|keys| (2.53 s -> 1.02 s measured
    at sf1, identical output). A production build WITHOUT the exact
    side would hash the stream directly — one pass, O(depth x width)
    state, map-side combinable — but paying that stream-scale hash
    here, beside an exact histogram that already exists, priced the
    pedagogy twice. Estimate: each key probes its 4 buckets and takes
    the min — the 256-row CMS broadcasts. Hashing is the cross-engine
    md5-slice (simhash/sampling discipline), so every bucket, count,
    and min is engine-identical; the oracle derives the sketch from
    the same histogram.

    At 100 TB: exact counts exist to exhibit the error band
    (est >= true always; test_properties pins it) and would be dropped
    at scale — exactly agg_sketch_merge's contract.
    """
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("k")
    )
    bucket_structs = F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                F.expr(
                    f"cast(conv(substring(md5(concat('{d}:', "
                    f"cast(k as string))), 1, 15), 16, 10) as bigint) "
                    f"% {CMS_WIDTH}"
                ).alias("b"),
            )
            for d in range(CMS_DEPTH)
        ]
    )
    # |keys|-sized; checkpointed so the sketch derivation and the final
    # join don't re-aggregate the stream
    exact = (
        li.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .localCheckpoint(eager=False)
    )
    key_buckets = exact.select(
        "k", "n_exact", F.explode(bucket_structs).alias("db")
    ).select("k", "n_exact", "db.d", "db.b")
    cms = key_buckets.groupBy("d", "b").agg(
        F.sum("n_exact").alias("n_bucket")
    )
    est = (
        key_buckets.join(F.broadcast(cms), ["d", "b"])
        .groupBy("k")
        .agg(F.min("n_bucket").alias("n_est"))
    )
    return exact.join(est, "k").select(
        F.col("k").alias("l_suppkey"), "n_exact", "n_est"
    )


ORACLE_AGG_COUNTMIN = f"""
WITH ex AS (
  SELECT l_suppkey AS k, COUNT(*) AS n_exact FROM lineitem GROUP BY 1
),
kb AS (
  SELECT k, n_exact, d.d,
         ('0x' || substring(md5(d.d || ':' || CAST(k AS VARCHAR)), 1, 15))
           ::BIGINT % {CMS_WIDTH} AS b
  FROM ex, (VALUES ('0'), ('1'), ('2'), ('3')) d(d)
),
cms AS (
  SELECT d, b, CAST(SUM(n_exact) AS BIGINT) AS n_bucket
  FROM kb GROUP BY d, b
),
est AS (
  SELECT kb.k, CAST(MIN(c.n_bucket) AS BIGINT) AS n_est
  FROM kb JOIN cms c USING (d, b) GROUP BY kb.k
)
SELECT ex.k AS l_suppkey, ex.n_exact, est.n_est
FROM ex JOIN est USING (k)
"""


# Conditional (FILTER-clause) aggregation: differently-predicated
# aggregates side by side in one pass, the replacement for N filtered
# subqueries re-scanning the table N times. Each compiles to conditional
# accumulation inside ONE hash aggregate (a single scan, a single
# exchange), which is the whole point at scale.
ORACLE_AGG_FILTERED = """
SELECT
  l_returnflag,
  COUNT(*) AS n_rows,
  COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
  CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
       FILTER (WHERE l_quantity > 25) AS BIGINT) AS hi_qty_revenue_c,
  COUNT(*) FILTER (WHERE l_linestatus = 'O') AS n_open
FROM lineitem
GROUP BY l_returnflag
"""


DAY_US_AGG = 86_400_000_000  # one day in microseconds (timezone-free)


def agg_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: stored daily partials
    plus today's delta merge into the same answer a full recompute
    gives — the contract that lets a 100 TB rollup absorb a new
    partition WITHOUT rescanning history.

    The query stages it explicitly: (1) daily partials per
    (event_type, day) — what the MV stores; (2) the history rollup
    (day < max) and the delta partial (day = max) aggregated
    SEPARATELY; (3) merged by summing partials. Because the stored
    state is (count, integer-cent sum) — both associative and
    commutative — the merge is exact, and the oracle is the FULL
    recompute: the driver's hash check IS the proof that incremental
    == from-scratch. (A mean or distinct stored directly would NOT
    merge; store (sum, count) / sketches instead — see
    agg_sketch_merge for the distinct case.)

    At 100 TB: history partials are day x type rows (metadata-sized);
    only the delta partition is scanned per refresh. The double
    aggregation here (partials, then merge) costs one extra tiny
    shuffle over the day-partial table — nothing against the rescan
    it replaces.

    Plan-shape note (r6 sf1 profile): the partial relation has three
    consumers (max_day, history, delta) whose pruned schemas differ, so
    Catalyst cannot ReuseExchange and the events scan runs per branch —
    8 jobs / 232 tasks / 0.66 s at sf1 for ~25 ms of aggregate work.
    All three single-scan rewrites were MEASURED SLOWER at sf1
    (localCheckpoint 0.89 s — eager materialization beats the saved
    scans; global-window max_day 0.83 s — adds a SinglePartition
    exchange; filter-identical ReuseExchange bait 0.76 s — pruning
    still splits the subtrees), so the multi-scan shape stands: the
    residual is Spark's per-stage constant on a metadata-sized plan.
    At 100 TB the question disappears — production PERSISTS the
    partials (they are the MV state; that operator is
    stream_mv_refresh), so nothing rescans anything.
    """
    e = table(spark, sf_dir, "events")
    day = F.expr(f"unix_micros(cast(ts as timestamp)) div {DAY_US_AGG}")
    parts = e.groupBy(F.col("event_type"), day.alias("day")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(scaled_long("value")).alias("c"),
    )
    max_day = parts.agg(F.max("day").alias("max_day"))
    parts = parts.crossJoin(F.broadcast(max_day))
    hist = (
        parts.filter(F.col("day") < F.col("max_day"))
        .groupBy("event_type")
        .agg(F.sum("n").alias("n"), F.sum("c").alias("c"))
    )
    delta = (
        parts.filter(F.col("day") == F.col("max_day"))
        .groupBy("event_type")
        .agg(F.sum("n").alias("n"), F.sum("c").alias("c"))
    )
    return (
        hist.unionByName(delta)
        .groupBy("event_type")
        .agg(
            F.sum("n").alias("n_events"),
            unscale(F.sum("c"), 2).alias("sum_value"),
        )
    )


#: the oracle is the FULL recompute — hash equality proves the
#: incremental merge loses nothing.
ORACLE_AGG_INCREMENTAL_MERGE = """
SELECT
  event_type,
  COUNT(*) AS n_events,
  CAST(CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS DECIMAL(38,0))
       / 100 AS DOUBLE) AS sum_value
FROM events
GROUP BY event_type
"""


#: heavy-hitter threshold denominator: report items whose global
#: frequency * (HH_K + 1) >= corpus rows, i.e. share > ~1/(K+1)
HH_K = 50


def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT frequent-item counts at corpus scale without shuffling the
    full distinct-item histogram: partition-local candidate pruning,
    then a broadcast-semi-join recount.

    The lemma (the Misra-Gries averaging argument): if an item's global
    count satisfies cnt*(K+1) >= n, then on at least ONE partition its
    local count clears the same local bar (sum both sides over
    partitions), so the union of per-partition locally-frequent items
    is a SUPERSET of every global heavy hitter. Phase 1 runs TRUE
    weighted Misra-Gries with K+1 counters inside a single Arrow pass
    per partition — per-partition state is K+1 counters plus one
    per-batch value_counts table (bounded by Arrow batch size), never
    the partition's distinct-item histogram. MG's undercount bound is
    n_local/(K+2), and any partition-local clearer of the bar has
    cnt_local >= n_local/(K+1) > n_local/(K+2), so every such item
    SURVIVES eviction — the emitted counter keys remain a candidate
    superset. (This is the one justified imperative-per-partition spot:
    a relational groupBy(pid, item) would ship every distinct
    (pid, item) group through the exchange — the exact cost the pruning
    exists to avoid; here only <=K+1 surviving candidates plus one
    row-count sentinel per partition ever leave the executor.) Phase 2
    re-counts ONLY candidate items (broadcast semi-join, map-side
    combine over a handful of groups) and applies the exact global bar.

    Output is partition-layout-independent even though the candidate
    set is not: phase 2's exact counts and the final filter see every
    occurrence of every candidate, and the lemma guarantees no true
    hitter is missing — so the result equals the plain
    groupBy-then-filter the oracle runs. Items are (lang, source)
    pairs of the documents corpus — the skewed "which source mixes
    dominate the corpus" audit a data-mixing pipeline runs (the
    synthetic corpus is en-heavy, so ~10% of the mixes clear a 1/51
    share bar and the rest prune).
    """
    import pyarrow as pa

    d = table(spark, sf_dir, "documents")
    items = d.select(
        F.concat_ws("|", "lang", "source").alias("item")
    )

    n_counters = HH_K + 1

    def local_candidates(batches):
        counters: dict[str, int] = {}
        n_local = 0
        for batch in batches:
            col = batch.column(0)
            for val, cnt in zip(*_value_counts_arrow(col)):
                n_local += cnt
                # weighted Misra-Gries arrival: absorb, insert, or
                # decrement-all by min(counter) and retry (the retry
                # always lands — eviction freed a slot)
                while cnt > 0:
                    if val in counters:
                        counters[val] += cnt
                        cnt = 0
                    elif len(counters) < n_counters:
                        counters[val] = cnt
                        cnt = 0
                    else:
                        d = min(cnt, min(counters.values()))
                        cnt -= d
                        for key in [
                            k for k, v in counters.items() if v == d
                        ]:
                            del counters[key]
                        for key in counters:
                            counters[key] -= d
        surviving = list(counters)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(surviving + [None], type=pa.string()),
                pa.array(
                    [0] * len(surviving) + [n_local], type=pa.int64()
                ),
            ],
            names=["item", "local_n"],
        )

    local = items.mapInArrow(
        local_candidates, "item string, local_n long"
    )
    cands = local.filter(F.col("item").isNotNull()).select("item").distinct()
    total = local.filter(F.col("item").isNull()).agg(
        F.sum("local_n").alias("n_total")
    )
    exact = (
        items.join(F.broadcast(cands), "item")
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        exact.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * (HH_K + 1) >= F.col("n_total"))
        .select(
            "item",
            "cnt",
            F.expr("cnt * 1000000 div n_total").alias("share_ppm"),
        )
    )


def _value_counts_arrow(col):
    """(values, counts) of an Arrow array/chunked array of strings."""
    import pyarrow.compute as pc

    vc = pc.value_counts(col)
    return (
        [v.as_py() for v in vc.field("values")],
        [c.as_py() for c in vc.field("counts")],
    )


ORACLE_AGG_HEAVY_HITTERS = f"""
WITH i AS (
  SELECT lang || '|' || source AS item FROM documents
),
c AS (
  SELECT item, COUNT(*) AS cnt FROM i GROUP BY item
),
t AS (SELECT COUNT(*) AS n_total FROM i)
SELECT
  c.item,
  c.cnt,
  CAST(c.cnt * 1000000 // t.n_total AS BIGINT) AS share_ppm
FROM c CROSS JOIN t
WHERE c.cnt * {HH_K + 1} >= t.n_total
"""


#: value-range bucket width (cents) for the weighted-median two-level
#: cumulative sum — ~26 buckets over lineitem's price domain; on a real
#: cluster this tracks (domain width / desired parallelism)
WM_BUCKET_C = 400_000


def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median per group — quantity-weighted median unit
    price per return flag (the robust central-tendency statistic
    percentile_approx cannot certify and plain median gets wrong when
    rows carry different weights).

    Histogram-first construction so the sort never sees row-scale data:

    1. one hash aggregate collapses lineitem to the (flag, price_cent)
       value histogram with summed weights — the only corpus-scale
       exchange, mergeable partials;
    2. a cumulative-weight window over the DISTINCT VALUES of each
       group (histogram-sized, not row-sized) finds the lower weighted
       median: the smallest value v with 2 * cumw(v) >= total_w.

    Exactness: prices ride as integer cents (scaled_long), weights as
    integer quantity units, and the median test ``2*cumw >= total`` is
    pure BIGINT — both engines agree bit-for-bit; the only float is the
    final unscale division.

    At 100 TB (and measured at sf0.1): a (group, value) pre-histogram
    buys nothing on a near-all-distinct value column (600k lineitem
    rows -> 594k histogram cells) — it just pays a full two-phase
    hash-agg shuffle before the window pays ANOTHER full shuffle into
    3 single-task sorts. Round-11 plan: the classic TWO-SCAN exact
    median — no row-scale exchange AT ALL:

    1. scan 1 collapses rows to (group, value-range bucket) totals
       (``price_c div {WM_BUCKET_C}``, map-side-combining aggregate,
       cell-sized exchange); a tiny window over the ~26x3 cells yields
       each bucket's exclusive carry-in and the group total, and a
       filter on ``carry < half <= carry + bw`` names the ONE median
       bucket per group;
    2. scan 2 re-reads the table, keeps only rows in a median bucket
       (broadcast semi-style join against the 3-row bucket table —
       ~1/26 of the data survives), collapses the survivors to a
       per-value histogram, and a small cumulative window finds the
       smallest value whose carry + running weight clears half the
       total. Ties are exact: within a tie class the LAST row's
       running sum equals cumw(v), so min(price_c) over qualifying
       rows is order-independent.

    The r10 plan shipped every row through one (group, bucket)
    exchange + per-bucket sort; its r11 exchange audit (SCALE.md §25e)
    pinned that cost as "any exact weighted median must pay it once" —
    WRONG once the scan is repeatable: a second parquet scan + a
    1/26-selectivity filter is cheaper than shuffling and sorting the
    full table (2.82 s -> 2.00 s at synthesized sf1, SCALE.md §26c),
    and at 100 TB a rescan is bandwidth while a full-data exchange is
    the cluster bisection. Two scans, two cell-sized exchanges, one
    bucket-sized sort.

    r14 constant-factor cut (the r13 verdict's worst stable sf1 row,
    3.5x): the bucket-total table is BOUNDED (#flags x ~26 cells by
    construction), so it is collected driver-side, the cumulative-sum
    median-bucket selection runs in Python (a Spark window over 78
    rows costs an AQE exchange + stage — +0.35 s measured at sf1 — to
    do microseconds of arithmetic), and scan 2's bucket membership
    becomes a LITERAL predicate on the RAW ``l_extendedprice``
    column — an OR-of-ANDs range filter the parquet reader receives
    as PushedFilters (Catalyst factors the common range: row-group
    min/max pruning where the file is value-clustered; vectorized
    pre-cast filtering everywhere else). That removes the broadcast
    hash join and the per-row DECIMAL cast + bucket division for the
    25/26 of rows outside the median buckets; the float range is
    widened a cent each side and the EXACT integer test re-applied on
    the survivors, so results are bit-identical. The collect is the
    bounded driver-side-state pattern (operators/sorts.py precedent):
    cell-sized, never row-scale. Measured sf1: 2.0 s -> 1.5 s
    (same-host, same-load window); the residual over DuckDB's 0.4 s
    single in-memory pass is two bare parquet scans (0.3 s each
    measured) + two job floors — the toy-scale price of the
    zero-row-scale-exchange shape (SCALE.md §29a decomposition).
    """
    from pyspark.sql import Window as W

    li = table(spark, sf_dir, "lineitem")
    rows = li.select(
        "l_returnflag",
        scaled_long("l_extendedprice").alias("price_c"),
        F.col("l_quantity").cast("long").alias("w"),
    ).withColumn("bkt", F.expr(f"price_c div {WM_BUCKET_C}"))
    btot = rows.groupBy("l_returnflag", "bkt").agg(
        F.sum("w").alias("bw")
    )
    # the bucket table is cell-sized (#flags x ~26 rows by
    # construction) — collect it and run the trivial cumulative-sum /
    # median-bucket selection in Python: a Spark window over 78 rows
    # costs an AQE exchange + stage (+0.35 s measured at sf1) to do
    # microseconds of arithmetic
    cells = sorted(
        btot.collect(), key=lambda r: (r["l_returnflag"], r["bkt"])
    )
    totals: dict[str, int] = {}
    for r in cells:
        totals[r["l_returnflag"]] = (
            totals.get(r["l_returnflag"], 0) + r["bw"]
        )
    med_rows = []
    run: dict[str, int] = {}
    for r in cells:
        flag = r["l_returnflag"]
        c = run.get(flag, 0)
        if 2 * c < totals[flag] <= 2 * (c + r["bw"]):
            med_rows.append(
                {
                    "l_returnflag": flag,
                    "bkt": r["bkt"],
                    "carry": c,
                    "totw": totals[flag],
                }
            )
        run[flag] = c + r["bw"]
    # empty input (or all-zero weights) -> no median bucket anywhere:
    # return the empty result frame directly instead of building a
    # None predicate (li.filter(None) raises; r14 advice)
    if not med_rows:
        return (
            li.select(
                "l_returnflag",
                F.lit(None).cast("double").alias("weighted_median_price"),
                F.lit(None).cast("long").alias("total_weight"),
            )
            .limit(0)
        )
    # literal pushdown predicate on the raw double column (coarse,
    # widened 1 cent each side) + exact integer bucket re-test
    coarse = None
    exact = None
    carry_e = None
    totw_e = None
    for r in med_rows:
        lo = (r["bkt"] * WM_BUCKET_C) / 100.0 - 0.01
        hi = ((r["bkt"] + 1) * WM_BUCKET_C) / 100.0 + 0.01
        flag_eq = F.col("l_returnflag") == r["l_returnflag"]
        c = (
            flag_eq
            & (F.col("l_extendedprice") >= lo)
            & (F.col("l_extendedprice") <= hi)
        )
        coarse = c if coarse is None else (coarse | c)
        e = flag_eq & (F.col("bkt") == r["bkt"])
        exact = e if exact is None else (exact | e)
        carry_e = (
            F.when(flag_eq, F.lit(r["carry"]))
            if carry_e is None
            else carry_e.when(flag_eq, F.lit(r["carry"]))
        )
        totw_e = (
            F.when(flag_eq, F.lit(r["totw"]))
            if totw_e is None
            else totw_e.when(flag_eq, F.lit(r["totw"]))
        )
    sub = (
        li.filter(coarse)
        .select(
            "l_returnflag",
            scaled_long("l_extendedprice").alias("price_c"),
            F.col("l_quantity").cast("long").alias("w"),
        )
        .withColumn("bkt", F.expr(f"price_c div {WM_BUCKET_C}"))
        .filter(exact)
        .withColumn("carry", carry_e)
        .withColumn("totw", totw_e)
    )
    hist = sub.groupBy("l_returnflag", "price_c", "carry", "totw").agg(
        F.sum("w").alias("wv")
    )
    cw = (
        W.partitionBy("l_returnflag")
        .orderBy("price_c")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = hist.select(
        "l_returnflag",
        "price_c",
        "totw",
        (F.col("carry") + F.sum("wv").over(cw)).alias("cumw"),
    )
    return (
        cum.filter(2 * F.col("cumw") >= F.col("totw"))
        .groupBy("l_returnflag")
        .agg(
            unscale(F.min("price_c"), 2).alias("weighted_median_price"),
            F.min("totw").alias("total_weight"),
        )
    )


ORACLE_AGG_WEIGHTED_MEDIAN = """
WITH hist AS (
  SELECT
    l_returnflag,
    CAST(CAST(l_extendedprice AS DECIMAL(28,2)) * 100 AS BIGINT)
      AS price_c,
    SUM(CAST(l_quantity AS BIGINT)) AS wv
  FROM lineitem GROUP BY 1, 2
),
cum AS (
  SELECT
    l_returnflag,
    price_c,
    SUM(wv) OVER (PARTITION BY l_returnflag ORDER BY price_c
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS cumw,
    SUM(wv) OVER (PARTITION BY l_returnflag) AS totw
  FROM hist
)
SELECT
  l_returnflag,
  CAST(CAST(MIN(price_c) AS DECIMAL(38,0)) / 100 AS DOUBLE)
    AS weighted_median_price,
  CAST(MIN(totw) AS BIGINT) AS total_weight
FROM cum
WHERE 2 * cumw >= totw
GROUP BY l_returnflag
"""


def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT key) per group via MERGEABLE bitmap
    partials — the roaring-bitmap pattern for dense integer key
    domains, relational end to end.

    Phase 1 collapses rows to (group, key div 64) buckets whose payload
    is a single BIGINT with bit (key mod 64) set, OR-merged — partial
    states are 8 bytes per 64-key bucket, associative and commutative
    (map-side combine applies), unlike plain COUNT(DISTINCT) whose
    partial state is the key SET itself. Phase 2 popcounts and sums.
    At 100 TB this is the difference between shuffling every distinct
    key once (exact distinct) and shuffling |domain|/64 fixed-width
    words: for a dense surrogate-key domain the wire cost drops 64x
    with NO approximation — the exact middle ground between
    count_distinct and HLL (agg_approx). Spark's signed shiftleft at
    bit 63 wraps to Long.MIN_VALUE; bit_or/bit_count are sign-blind,
    and the oracle's UBIGINT shift counts the same bit.
    """
    li = table(spark, sf_dir, "lineitem")
    b = (
        li.select(
            "l_returnflag",
            F.expr("l_partkey div 64").alias("bucket"),
            F.expr("shiftleft(1L, int(l_partkey % 64))").alias("bit"),
        )
        .groupBy("l_returnflag", "bucket")
        .agg(F.expr("bit_or(bit)").alias("bm"))
    )
    return b.groupBy("l_returnflag").agg(
        F.expr("sum(bit_count(bm))").cast("long").alias("n_distinct_parts"),
        F.count(F.lit(1)).alias("n_buckets"),
    )


ORACLE_AGG_BITMAP_DISTINCT = """
WITH b AS (
  SELECT l_returnflag,
         l_partkey // 64 AS bucket,
         bit_or(CAST(1 AS UBIGINT) << CAST(l_partkey % 64 AS INT)) AS bm
  FROM lineitem
  GROUP BY 1, 2
)
SELECT l_returnflag,
       CAST(SUM(bit_count(bm)) AS BIGINT) AS n_distinct_parts,
       COUNT(*) AS n_buckets
FROM b GROUP BY 1
"""


def agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Gini coefficient of (non-negative) customer balances
    — the inequality audit a curation pipeline runs over per-source
    contribution weights.

    Exact integer form of the sorted formula

        G = (2 * SUM(i * x_i) - (n + 1) * SUM(x)) / (n * SUM(x))

    with x_i the balances in cents ascending, i the 1-based rank under
    the total order (balance, custkey). Negative balances are excluded
    (Gini is defined over non-negative mass) so numerator/denominator
    arithmetic stays sign-stable and integer division is floor ==
    truncate in both engines. The rank window is PARTITIONED by nation
    (no single-task window); everything after it is one mergeable
    group-by. Output keeps the exact BIGINT numerator/denominator plus
    a ppm quotient, so the driver hash never touches a float.
    """
    c = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") >= 0)
        .select(
            "c_nationkey",
            "c_custkey",
            scaled_long("c_acctbal").alias("bal_c"),
        )
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("c_nationkey").orderBy("bal_c", "c_custkey")
    ranked = c.withColumn("i", F.row_number().over(w).cast("long"))
    g = ranked.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("bal_c").alias("sum_bal"),
        F.sum(F.col("i") * F.col("bal_c")).alias("sum_ibal"),
    )
    num = 2 * F.col("sum_ibal") - (F.col("n") + 1) * F.col("sum_bal")
    den = F.col("n") * F.col("sum_bal")
    return (
        g.filter(F.col("sum_bal") > 0)
        .select(
            "c_nationkey",
            "n",
            num.alias("gini_num"),
            den.alias("gini_den"),
            # num*1e6 tops 2e19 at sf1 (6k customers/nation) — wider
            # than BIGINT, so the quotient routes through DECIMAL(38,0)
            # (HUGEINT on the oracle side); num >= 0 and den > 0, so
            # floor == truncate in both engines.
            F.expr(
                "cast(2 * sum_ibal - (n + 1) * sum_bal as decimal(38,0))"
                " * 1000000 div (n * sum_bal)"
            ).alias("gini_ppm"),
        )
    )


ORACLE_AGG_GINI = """
WITH c AS (
  SELECT
    c_nationkey,
    c_custkey,
    CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_c
  FROM customer
  WHERE c_acctbal >= 0
),
r AS (
  SELECT
    c_nationkey,
    bal_c,
    CAST(ROW_NUMBER() OVER (
      PARTITION BY c_nationkey ORDER BY bal_c, c_custkey
    ) AS BIGINT) AS i
  FROM c
),
g AS (
  SELECT
    c_nationkey,
    COUNT(*) AS n,
    SUM(bal_c) AS sum_bal,
    SUM(i * bal_c) AS sum_ibal
  FROM r GROUP BY c_nationkey
)
SELECT
  c_nationkey,
  n,
  CAST(2 * sum_ibal - (n + 1) * sum_bal AS BIGINT) AS gini_num,
  CAST(n * sum_bal AS BIGINT) AS gini_den,
  CAST(CAST(2 * sum_ibal - (n + 1) * sum_bal AS HUGEINT) * 1000000
       // (n * sum_bal) AS BIGINT) AS gini_ppm
FROM g
WHERE sum_bal > 0
"""


def agg_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix per group, one pass — the
    feature-redundancy screen every ML feature store runs (which
    columns move together, per segment) and a staple of warehouse
    ANALYZE tooling.

    All ten moments (counts, sums, squares, cross-products) accumulate
    EXACTLY, with the cheapest type that cannot overflow: the
    narrow-domain moments (q <= 50, d <= 10 cents, so q*q <= 2500,
    d*d <= 100, q*d <= 500 — BIGINT-safe past 3e15 rows) sum as plain
    LONG, while every price-bearing moment (price_c^2 <= 1e14 per row
    overflows BIGINT within ~1e5 rows of summing) routes through
    DECIMAL(38,0). Measured at synthesized sf1: all-decimal 0.90 s ->
    mixed 0.73 s. No order-sensitive float accumulation anywhere; the
    textbook r then runs in DOUBLE on the exact moments with the
    identical expression in both engines (the ts_autocorr discipline),
    so every correlation is bit-identical to the oracle. ONE
    hash-aggregate exchange, map-side combined, output is |groups|
    rows — nothing else touches row-scale data.

    At 100 TB this is the shape corr must take: built-in ``corr()`` is
    float-accumulating (order-sensitive partials) and one-pair-per-call;
    the moment matrix gets every pair from the same single pass.
    """
    li = table(spark, sf_dir, "lineitem")
    rows = li.select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("q"),
        scaled_long("l_extendedprice").alias("p"),
        scaled_long("l_discount").alias("d"),
    )
    dec = "decimal(38,0)"
    mom = rows.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").alias("sq"),
        F.sum(F.expr("q*q")).alias("sqq"),
        F.sum("d").alias("sd"),
        F.sum(F.expr("d*d")).alias("sdd"),
        F.sum(F.expr("q*d")).alias("sqd"),
        F.sum(F.col("p").cast(dec)).alias("sp"),
        F.sum(F.expr("p*p").cast(dec)).alias("spp"),
        F.sum(F.expr("q*p").cast(dec)).alias("sqp"),
        F.sum(F.expr("p*d").cast(dec)).alias("spd"),
    )

    def r(a: str, b: str, ab: str) -> str:
        nd = "cast(n as double)"
        return (
            f"({nd} * cast(s{ab} as double)"
            f" - cast(s{a} as double) * cast(s{b} as double))"
            f" / (sqrt({nd} * cast(s{a}{a} as double)"
            f"          - cast(s{a} as double) * cast(s{a} as double))"
            f"    * sqrt({nd} * cast(s{b}{b} as double)"
            f"           - cast(s{b} as double) * cast(s{b} as double)))"
        )

    return mom.select(
        "l_returnflag",
        "n",
        F.expr(r("q", "p", "qp")).alias("corr_qty_price"),
        F.expr(r("q", "d", "qd")).alias("corr_qty_disc"),
        F.expr(r("p", "d", "pd")).alias("corr_price_disc"),
    )


ORACLE_AGG_CORR = """
WITH r AS (
  SELECT
    l_returnflag,
    CAST(l_quantity AS BIGINT) AS q,
    CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS p,
    CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) AS d
  FROM lineitem
),
m AS (
  SELECT
    l_returnflag,
    COUNT(*) AS n,
    SUM(CAST(q AS HUGEINT)) AS sq,
    SUM(CAST(p AS HUGEINT)) AS sp,
    SUM(CAST(d AS HUGEINT)) AS sd,
    SUM(CAST(q * q AS HUGEINT)) AS sqq,
    SUM(CAST(p * p AS HUGEINT)) AS spp,
    SUM(CAST(d * d AS HUGEINT)) AS sdd,
    SUM(CAST(q * p AS HUGEINT)) AS sqp,
    SUM(CAST(q * d AS HUGEINT)) AS sqd,
    SUM(CAST(p * d AS HUGEINT)) AS spd
  FROM r GROUP BY l_returnflag
)
SELECT
  l_returnflag,
  n,
  (CAST(n AS DOUBLE) * CAST(sqp AS DOUBLE)
   - CAST(sq AS DOUBLE) * CAST(sp AS DOUBLE))
  / (sqrt(CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE)
          - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
     * sqrt(CAST(n AS DOUBLE) * CAST(spp AS DOUBLE)
            - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE)))
    AS corr_qty_price,
  (CAST(n AS DOUBLE) * CAST(sqd AS DOUBLE)
   - CAST(sq AS DOUBLE) * CAST(sd AS DOUBLE))
  / (sqrt(CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE)
          - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
     * sqrt(CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE)
            - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE)))
    AS corr_qty_disc,
  (CAST(n AS DOUBLE) * CAST(spd AS DOUBLE)
   - CAST(sp AS DOUBLE) * CAST(sd AS DOUBLE))
  / (sqrt(CAST(n AS DOUBLE) * CAST(spp AS DOUBLE)
          - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))
     * sqrt(CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE)
            - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE)))
    AS corr_price_disc
FROM m
"""


QUERIES = {
    "agg_count": sql_spec(
        ORACLE_AGG_COUNT, "reference:A1",
        doc="COUNT as control flow, task.ts:127",
    ),
    "agg_distinct": sql_spec(
        ORACLE_AGG_DISTINCT, "reference:A2",
        doc="distinct-set accumulation, task.ts:198,214",
    ),
    "agg_count_distinct": sql_spec(
        ORACLE_AGG_COUNT_DISTINCT, "reference:A2",
        doc="exact COUNT(DISTINCT) per group",
    ),
    "agg_groupby": spec(
        agg_groupby, ORACLE_AGG_GROUPBY, "beyond",
        doc="TPC-H Q1-shaped hash aggregate, decimal-exact",
    ),
    "agg_rollup": spec(
        agg_rollup, ORACLE_AGG_ROLLUP, "beyond",
        doc="ROLLUP hierarchy aggregate",
    ),
    "agg_cube": spec(
        agg_cube, ORACLE_AGG_CUBE, "beyond",
        doc="CUBE aggregate",
    ),
    "agg_approx": spec(
        agg_approx, ORACLE_AGG_APPROX, "beyond",
        doc="HLL++ approx distinct, oracle-checked on its error bound",
    ),
    "agg_stats": spec(
        agg_stats, ORACLE_AGG_STATS, "beyond",
        doc="variance/stddev/corr from exact integer moments",
    ),
    "agg_grouping_sets": sql_spec(
        ORACLE_AGG_GROUPING_SETS, "beyond",
        doc="GROUPING SETS via single Expand + hash aggregate",
    ),
    "agg_salted": spec(
        agg_salted, ORACLE_AGG_SALTED, "beyond",
        doc="two-phase salted aggregation for skewed group keys",
    ),
    "agg_percentile": spec(
        agg_percentile, ORACLE_AGG_PERCENTILE, "beyond",
        doc="exact linear-interpolated percentiles per group",
    ),
    "agg_approx_percentile": spec(
        agg_approx_percentile, ORACLE_AGG_APPROX_PERCENTILE, "beyond",
        doc="sketch percentile, oracle-checked on its rank-error bound",
    ),
    "agg_mode": sql_spec(
        ORACLE_AGG_MODE, "beyond",
        doc="MODE with deterministic tie-break (count rank over groups)",
    ),
    "agg_weighted_median": spec(
        agg_weighted_median, ORACLE_AGG_WEIGHTED_MEDIAN, "beyond",
        doc="exact weighted median per group (histogram + cumulative "
            "weight, integer cents)",
    ),
    "agg_bitmap_distinct": spec(
        agg_bitmap_distinct, ORACLE_AGG_BITMAP_DISTINCT, "beyond",
        doc="exact distinct via mergeable 64-bit bitmap partials "
            "(8 B per 64-key bucket on the wire)",
    ),
    "agg_collect": spec(
        agg_collect, ORACLE_AGG_COLLECT, "beyond",
        doc="sorted collect_set joined to a deterministic scalar string",
    ),
    "agg_histogram": spec(
        agg_histogram, ORACLE_AGG_HISTOGRAM, "beyond",
        doc="fixed-width value histogram, integer-exact bin edges",
    ),
    "agg_sketch_merge": spec(
        agg_sketch_merge, ORACLE_AGG_SKETCH_MERGE, "beyond",
        doc="mergeable HLL sketches: rollup cell = sketch union, "
            "error-band oracle",
    ),
    "agg_countmin": spec(
        agg_countmin, ORACLE_AGG_COUNTMIN, "beyond",
        doc="count-min sketch frequency estimates vs exact (4x64, "
            "cross-engine md5 buckets)",
    ),
    "agg_incremental_merge": spec(
        agg_incremental_merge, ORACLE_AGG_INCREMENTAL_MERGE, "beyond",
        doc="incremental MV maintenance: history partials + delta == "
            "full recompute (oracle is the rescan)",
    ),
    "agg_filtered": sql_spec(
        ORACLE_AGG_FILTERED, "beyond",
        doc="FILTER-clause aggregates: N predicates, one scan, one agg",
    ),
    "agg_gini": spec(
        agg_gini, ORACLE_AGG_GINI, "beyond",
        doc="per-group exact Gini coefficient (integer sorted formula, "
            "partitioned rank window)",
    ),
    "agg_corr": spec(
        agg_corr, ORACLE_AGG_CORR, "beyond",
        doc="pairwise Pearson matrix per group from exact DECIMAL "
            "moments, one pass (bit-identical r)",
    ),
    "agg_heavy_hitters": spec(
        agg_heavy_hitters, ORACLE_AGG_HEAVY_HITTERS, "beyond",
        doc="exact frequent items via partition-local candidate pruning "
            "(lossless by the averaging lemma) + broadcast recount",
    ),
}
