"""Sorts, limits, top-k (reference L1/L2 + beyond, SURVEY.md §2.6).

Scale notes:

* ``topk`` compiles to TakeOrderedAndProject — each partition keeps a
  k-sized heap, the driver merges k*partitions rows; no global sort.
* ``sort_orderby`` materializes a global position WITHOUT a single-task
  sort: quantile-bucket the sort key, count rows per bucket, prefix-sum
  the bucket offsets driver-side (bucket-count-sized, never data), and
  add each bucket's offset to its bucket-local row_number — the
  two-pass plan SCALE.md §5 documents, now the implementation.
* ``limit_offset`` is the reference's page-size LIMIT (L1); OFFSET at
  scale is an anti-pattern (see operators/scans.py keyset form).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import spec, sql_spec
from .aggregates import scaled_long

#: buckets for the distributed global-rank plan. On a real cluster this
#: tracks the shuffle parallelism; 32 matches local[32].
RANK_BUCKETS = 32


def bucketed_global_rank(
    df: DataFrame,
    value_col: str,
    order_cols: list[Column],
    *,
    descending: bool = False,
    n_buckets: int = RANK_BUCKETS,
) -> DataFrame:
    """Append a global ``pos`` (1-based position in the total order
    ``order_cols``) without ever sorting in one task.

    Three bounded passes, no unpartitioned window anywhere:

    1. approx-quantile boundaries of ``value_col`` (one small agg; the
       boundaries become LITERALS, so the bucketing is a deterministic
       pure function of row values — positions cannot drift between
       the counting pass and the ranking pass, unlike
       ``repartitionByRange`` whose sampled splits differ per job);
    2. rows-per-bucket counts, collected driver-side (bounded by
       ``n_buckets``, the same metadata-sized read as zipWithIndex's)
       and prefix-summed into per-bucket offsets;
    3. ``row_number`` over a window PARTITIONED by bucket plus the
       bucket's offset literal.

    Requirements: ``value_col`` must be the leading sort key and
    ``order_cols`` a total order (unique tiebreaker), so equal values
    land in one bucket and the within-bucket order extends the global
    one. NULL placement is READ FROM the leading order column (its
    NULLS FIRST/LAST modifier, or Spark's defaults: ASC=>first,
    DESC=>last) and NULL ``value_col`` rows are routed to a dedicated
    first or last bucket accordingly — so the bucket routing can never
    silently disagree with the window's own null ordering.

    Quantile boundaries keep buckets balanced under skew; duplicate
    boundaries collapse (a mega-tie-class degrades to fewer, fatter
    buckets — correct, and no worse than the tie class itself).
    """
    probs = [i / n_buckets for i in range(1, n_buckets)]
    # accuracy 1000 bounds the per-boundary rank error at n/1000 —
    # boundaries only steer load balance (a few-percent bucket-size
    # wobble), never positions, and the sketch insert cost at 10000
    # was 2.2x the whole pass (measured sf0.1)
    row = df.agg(
        F.percentile_approx(
            value_col, F.array(*[F.lit(p) for p in probs]), F.lit(1_000)
        ).alias("bs")
    ).first()
    bounds = sorted({b for b in (row["bs"] or []) if b is not None})
    # NULL routing must match the window's own null ordering. Parse the
    # leading order column's expression text: an explicit NULLS
    # FIRST/LAST wins; otherwise Spark's defaults apply (ASC => nulls
    # first, DESC => nulls last). NULLs then get a dedicated bucket
    # BEFORE bucket 0 (id -1) or AFTER the last one — the offset
    # prefix-sum below sorts bucket ids, so both placements fall out of
    # the same counting pass.
    lead = str(order_cols[0]).upper()
    if "NULLS LAST" in lead:
        nulls_last = True
    elif "NULLS FIRST" in lead:
        nulls_last = False
    else:
        nulls_last = " DESC" in lead
    null_bucket = (len(bounds) if bounds else 1) if nulls_last else -1
    if bounds:
        arr = F.array(*[F.lit(b) for b in bounds])
        v = F.col(value_col)
        in_bucket = F.size(
            F.filter(arr, (lambda b: b > v) if descending else (lambda b: b < v))
        )
        bucket = F.when(v.isNull(), F.lit(null_bucket)).otherwise(in_bucket)
    else:
        bucket = F.when(
            F.col(value_col).isNull(), F.lit(null_bucket)
        ).otherwise(F.lit(0))
    bucketed = df.withColumn("__bucket", bucket)
    cnts = {
        r["__bucket"]: r["cnt"]
        for r in bucketed.groupBy("__bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for b in sorted(cnts):
        offsets[b] = acc
        acc += cnts[b]
    off_map = F.create_map(
        *[F.lit(x) for b, o in offsets.items() for x in (b, o)]
    )
    w = Window.partitionBy("__bucket").orderBy(*order_cols)
    ranked = bucketed.withColumn(
        "pos", off_map[F.col("__bucket")] + F.row_number().over(w)
    ).drop("__bucket")
    # total row count falls out of the counting pass for free; callers
    # that need it (exact NTILE arithmetic in maintain_zorder) read it
    # from this attribute instead of paying another count job.
    ranked._bucketed_rank_total = acc  # type: ignore[attr-defined]
    return ranked


def sort_orderby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global ORDER BY with explicit null placement + position column.

    Implemented with ``bucketed_global_rank`` (quantile buckets +
    driver prefix-sum + bucket-partitioned row_number): no single-task
    WindowExec, identical positions to the one-window form because the
    bucketing is monotone in the total order. At 100 TB each pass is a
    balanced shuffle/agg; the only driver-side data is one count per
    bucket.
    """
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    return bucketed_global_rank(
        c,
        "c_acctbal",
        [F.col("c_acctbal").desc_nulls_last(), F.col("c_custkey")],
        descending=True,
    ).select("c_custkey", "c_acctbal", "pos")


ORACLE_SORT_ORDERBY = """
SELECT
  c_custkey,
  c_acctbal,
  ROW_NUMBER() OVER (ORDER BY c_acctbal DESC NULLS LAST, c_custkey) AS pos
FROM customer
"""


# Top-k: ORDER BY + LIMIT compiles to TakeOrderedAndProject (a heap per
# partition, no global sort).
ORACLE_TOPK = """
SELECT o_orderkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 10
"""


# L1: the reference's page-size LIMIT (50/page, task.ts:119).
ORACLE_LIMIT_OFFSET = """
SELECT c_custkey, c_name FROM customer ORDER BY c_custkey LIMIT 20 OFFSET 5
"""


#: rows kept per (lang, source) group
TOPN_PER_KEY = 5


# Top-N rows per key: "keep the 5 longest documents per (lang, source)",
# the standard curation shape for per-source caps in training-data
# pipelines (the grouped cousin of topk). The rank filter compiles to
# WindowGroupLimit on both sides of the exchange (Spark 3.5+ rank-limit
# pushdown): each map task keeps only N rows per key BEFORE the
# shuffle, so the exchange carries at most N*keys*partitions rows, not
# the table (asserted in tests/test_relational.py). At 100 TB there is
# no global sort and no skew trap: a hot key still sends only N rows
# per map task, where groupBy + collect_list + slice would shuffle
# every row of the hot key to one reducer. (n_chars DESC, doc_id) is a
# total order (doc_id is unique), so the kept set is deterministic.
ORACLE_SORT_TOPN_PER_KEY = f"""
SELECT doc_id, lang, source, n_chars, rn FROM (
  SELECT
    doc_id, lang, source, n_chars,
    ROW_NUMBER() OVER (
      PARTITION BY lang, source ORDER BY n_chars DESC, doc_id
    ) AS rn
  FROM documents
) WHERE rn <= {TOPN_PER_KEY}
"""


def skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier): parts not dominated on
    (minimize p_retailprice, maximize p_size) — "the price/size
    frontier of the catalog", the classic dominance query.

    q dominates p iff q.price <= p.price AND q.size >= p.size with at
    least one strict. So p survives iff

        max(size | price <  p.price) <  p.size   AND
        max(size | price == p.price) <= p.size

    which reduces the all-pairs NOT EXISTS to ONE exclusive running
    max over the price-ordered per-price group maxima. The running max
    is computed without a single-task window, the sort_orderby way:
    the group table is quantile-bucketed on price (literal
    boundaries), per-bucket maxima are collected driver-side (bounded
    by n_buckets) and prefix-maxed into per-bucket carry-in literals,
    and the within-bucket exclusive running max runs under a window
    PARTITIONED by bucket. Parts then equi-join their price group
    (grouped table, far smaller than the fact) and filter.

    Prices compare in exact cents (scaled_long), so bucket boundaries
    and the oracle's ORDER BY agree bit-for-bit. At 100 TB: one
    groupBy shuffle on price, one bounded driver read, one equi-join —
    no cross join, no global sort.
    """
    p = table(spark, sf_dir, "part").select(
        "p_partkey",
        scaled_long("p_retailprice").alias("price_c"),
        F.col("p_size").cast("long").alias("size"),
    )
    g = p.groupBy("price_c").agg(F.max("size").alias("gmax"))

    n_buckets = RANK_BUCKETS
    probs = [i / n_buckets for i in range(1, n_buckets)]
    row = g.agg(
        F.percentile_approx(
            "price_c", F.array(*[F.lit(pb) for pb in probs]), F.lit(1_000)
        ).alias("bs")
    ).first()
    bounds = sorted({b for b in (row["bs"] or []) if b is not None})
    if bounds:
        arr = F.array(*[F.lit(b) for b in bounds])
        bucket = F.size(F.filter(arr, lambda b: b < F.col("price_c")))
    else:
        bucket = F.lit(0)
    bucketed = g.withColumn("__bucket", bucket)
    # per-bucket max, prefix-maxed driver-side into each bucket's
    # carry-in (max over all STRICTLY EARLIER buckets)
    bmax = {
        r["__bucket"]: r["m"]
        for r in bucketed.groupBy("__bucket")
        .agg(F.max("gmax").alias("m"))
        .collect()
    }
    carry: dict[int, int] = {}
    acc = None
    for b in sorted(bmax):
        carry[b] = acc if acc is not None else -1
        acc = bmax[b] if acc is None else max(acc, bmax[b])
    carry_map = F.create_map(
        *[F.lit(x) for b, c in carry.items() for x in (b, c)]
    )
    w = (
        Window.partitionBy("__bucket")
        .orderBy("price_c")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    frontier = bucketed.select(
        "price_c",
        "gmax",
        F.greatest(
            F.coalesce(F.max("gmax").over(w), F.lit(-1)),
            carry_map[F.col("__bucket")],
        ).alias("mlt"),
    )
    return (
        p.join(frontier, "price_c")
        .filter((F.col("mlt") < F.col("size")) & (F.col("gmax") <= F.col("size")))
        .select("p_partkey", "price_c", "size")
    )


ORACLE_SKYLINE_PARETO = """
WITH p AS (
  SELECT
    p_partkey,
    CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT) AS price_c,
    CAST(p_size AS BIGINT) AS size
  FROM part
),
g AS (
  SELECT price_c, MAX(size) AS gmax FROM p GROUP BY price_c
),
m AS (
  SELECT
    price_c,
    gmax,
    COALESCE(MAX(gmax) OVER (
      ORDER BY price_c ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
    ), -1) AS mlt
  FROM g
)
SELECT p.p_partkey, p.price_c, p.size
FROM p JOIN m USING (price_c)
WHERE m.mlt < p.size AND m.gmax <= p.size
"""


QUERIES = {
    "sort_orderby": spec(
        sort_orderby, ORACLE_SORT_ORDERBY, "beyond",
        doc="global sort with null placement + position",
    ),
    "topk": sql_spec(
        ORACLE_TOPK, "beyond",
        doc="top-k via TakeOrderedAndProject",
    ),
    "limit_offset": sql_spec(
        ORACLE_LIMIT_OFFSET, "reference:L1",
        doc="page-size limit/offset, task.ts:119",
    ),
    "sort_topn_per_key": sql_spec(
        ORACLE_SORT_TOPN_PER_KEY, "beyond",
        doc="top-N per key via WindowGroupLimit (map-side rank pushdown)",
    ),
    "skyline_pareto": spec(
        skyline_pareto, ORACLE_SKYLINE_PARETO, "beyond",
        doc="Pareto frontier via bucketed exclusive running max (no "
        "all-pairs, no single-task window)",
    ),
}
