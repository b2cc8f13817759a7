"""Data-quality audits over the relational surface (SURVEY.md §2 S3
adjacent — the dataset-level complement of the row-level validators in
operators/scans.py; reference validates per-record at ingest,
task.ts:104-106/155-158).

Two batch audits a warehouse runs before trusting a drop:

* referential integrity — orphan counts per declared FK relationship
  (anti-join cardinality), reported even when zero so the report shape
  is stable;
* key uniqueness — rows vs distinct keys per declared primary key.

Both reduce full tables to a handful of audit rows, so at 100 TB the
output is O(relationships). The anti-joins are plain equi-joins —
Catalyst broadcasts the dim side when it fits and shuffles otherwise;
nothing here pins a strategy. The uniqueness audit is one mergeable
(count, count distinct) pass per table; exact distinct does its usual
two-phase expand, which is the point of an audit (approx_count_distinct
is the scale escape hatch when a bound is acceptable — see agg_approx).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import spec, sql_spec

#: (name, child table, child FK col, parent table, parent key col)
FK_RELATIONSHIPS = (
    ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem->supplier", "lineitem", "l_suppkey", "supplier",
     "s_suppkey"),
    ("events->customer", "events", "user_id", "customer", "c_custkey"),
)

#: (table, primary-key col)
PRIMARY_KEYS = (
    ("customer", "c_custkey"),
    ("orders", "o_orderkey"),
    ("events", "event_id"),
    ("documents", "doc_id"),
    ("embeddings", "vec_id"),
)


def dq_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan-FK audit: one row per relationship with total child rows
    and the count whose FK has no parent (NULL FKs count as orphans —
    an audit reports missing lineage, whatever the cause).

    ONE scan per child table (r15, found 30x floor-adjusted by the
    bench-rotation probe): all of a child's relationships ride the
    same scan as chained LEFT joins against the parent key columns
    (parents are key-projected and distinct-free — they are declared
    primary keys — so the joins preserve cardinality), and
    ``n_orphans`` is a conditional count on the null-extended parent
    key, which matches the old anti-join + NULL-FK semantics exactly.
    The old form paid TWO aggregate branches per relationship (a
    count crossJoin an anti-join count): 10 lineitem-family scans
    where this pays 3 total (1.60 -> ~0.5 s at sf0.1). The per-child
    single row is unpivoted via stack() to keep the stable
    one-row-per-relationship report shape. Join strategy is left to
    Catalyst/AQE — dimension parents broadcast at test scale; a
    row-scale parent (lineitem->orders at 100 TB) shuffles, exactly
    as the anti-join form would."""
    by_child: dict[str, list[tuple[str, str, str, str]]] = {}
    for name, child_t, fk, parent_t, pk in FK_RELATIONSHIPS:
        by_child.setdefault(child_t, []).append((name, fk, parent_t, pk))
    rows = []
    for child_t, rels in by_child.items():
        fks = sorted({fk for _, fk, _, _ in rels})
        df = table(spark, sf_dir, child_t).select(*fks)
        for i, (name, fk, parent_t, pk) in enumerate(rels):
            parent = table(spark, sf_dir, parent_t).select(
                F.col(pk).alias(f"__pk_{i}")
            )
            df = df.join(
                parent, df[fk] == parent[f"__pk_{i}"], "left"
            )
        aggs = [F.count(F.lit(1)).alias("n_rows")] + [
            F.count(F.when(F.col(f"__pk_{i}").isNull(), 1)).alias(
                f"__orph_{i}"
            )
            for i in range(len(rels))
        ]
        one = df.agg(*aggs)
        stack_args = ", ".join(
            f"'{name}', __orph_{i}" for i, (name, _, _, _) in enumerate(rels)
        )
        rows.append(
            one.select(
                F.expr(
                    f"stack({len(rels)}, {stack_args}) AS "
                    "(relationship, n_orphans)"
                ),
                "n_rows",
            ).select("relationship", "n_rows", "n_orphans")
        )
    return reduce(DataFrame.unionByName, rows)


ORACLE_DQ_REFERENTIAL = """
SELECT 'orders->customer' AS relationship,
       (SELECT COUNT(*) FROM orders) AS n_rows,
       (SELECT COUNT(*) FROM orders o
         WHERE NOT EXISTS (SELECT 1 FROM customer c
                            WHERE c.c_custkey = o.o_custkey)) AS n_orphans
UNION ALL
SELECT 'lineitem->orders',
       (SELECT COUNT(*) FROM lineitem),
       (SELECT COUNT(*) FROM lineitem l
         WHERE NOT EXISTS (SELECT 1 FROM orders o
                            WHERE o.o_orderkey = l.l_orderkey))
UNION ALL
SELECT 'lineitem->part',
       (SELECT COUNT(*) FROM lineitem),
       (SELECT COUNT(*) FROM lineitem l
         WHERE NOT EXISTS (SELECT 1 FROM part p
                            WHERE p.p_partkey = l.l_partkey))
UNION ALL
SELECT 'lineitem->supplier',
       (SELECT COUNT(*) FROM lineitem),
       (SELECT COUNT(*) FROM lineitem l
         WHERE NOT EXISTS (SELECT 1 FROM supplier s
                            WHERE s.s_suppkey = l.l_suppkey))
UNION ALL
SELECT 'events->customer',
       (SELECT COUNT(*) FROM events),
       (SELECT COUNT(*) FROM events e
         WHERE NOT EXISTS (SELECT 1 FROM customer c
                            WHERE c.c_custkey = e.user_id))
"""


# Primary-key uniqueness audit: rows vs distinct keys per declared key;
# n_dup_rows is the excess (rows beyond the first per key). NULL keys
# are counted separately: COUNT(DISTINCT) drops them, and an audit must
# not.
ORACLE_DQ_UNIQUENESS = "\nUNION ALL\n".join(
    f"""SELECT '{tbl}.{key}' AS key, COUNT(*) AS n_rows,
  COUNT(DISTINCT {key}) AS n_keys,
  COUNT(*) - COUNT(DISTINCT {key})
    - COUNT(CASE WHEN {key} IS NULL THEN 1 END) AS n_dup_rows,
  COUNT(CASE WHEN {key} IS NULL THEN 1 END) AS n_nulls FROM {tbl}"""
    for tbl, key in PRIMARY_KEYS
)


#: (table, column) pairs the completeness/cardinality profile covers.
PROFILE_COLUMNS = (
    ("events", ("event_type", "user_id", "value")),
    ("documents", ("lang", "source")),
)


def dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile audit: rows / nulls / exact distinct per declared
    column — the completeness + cardinality report a warehouse snapshots
    per drop (min/max are deliberately absent: casting heterogeneous
    types to string for one report column is engine-formatting-dependent
    and would break the exact comparison this audit itself exists for).

    One aggregate pass per TABLE (not per column): Spark plans the
    multi-column count-distinct via a single expand + two-phase
    aggregate, so each table is scanned once however many columns are
    profiled. Output is O(columns) rows.
    """
    outs = []
    for tbl, cols in PROFILE_COLUMNS:
        t = table(spark, sf_dir, tbl)
        agg = t.agg(
            F.count(F.lit(1)).alias("n_rows"),
            *[F.count(c).alias(f"nn_{c}") for c in cols],
            *[F.count_distinct(c).alias(f"nd_{c}") for c in cols],
        )
        rows = F.array(
            *[
                F.struct(
                    F.lit(f"{tbl}.{c}").alias("column_name"),
                    F.col("n_rows").alias("n_rows"),
                    (F.col("n_rows") - F.col(f"nn_{c}")).alias("n_null"),
                    F.col(f"nd_{c}").alias("n_distinct"),
                )
                for c in cols
            ]
        )
        outs.append(agg.select(F.explode(rows).alias("r")).select("r.*"))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


ORACLE_DQ_PROFILE = "\nUNION ALL\n".join(
    f"""SELECT '{tbl}.{c}' AS column_name, COUNT(*) AS n_rows,
  COUNT(*) - COUNT({c}) AS n_null,
  COUNT(DISTINCT {c}) AS n_distinct FROM {tbl}"""
    for tbl, cols in PROFILE_COLUMNS
    for c in cols
)


#: snapshot split for the drift audit: orders before the pivot form the
#: reference distribution, on/after it the current one.
DRIFT_PIVOT = "1995-07-01"
#: equal-width bin for the one numeric feature (o_totalprice spans
#: ~1k-550k; 25k-wide bins give ~22 populated buckets at every sf).
DRIFT_PRICE_BIN = 25000.0


def drift_pairs(orders: DataFrame) -> DataFrame:
    """(is_ref, feature, category) exploded rows for the drift audit —
    shared by the batch audit (dq_drift) and its streaming twin
    (streaming/upsert.py stream_drift), so both fold the identical
    feature space."""
    feats = [
        ("o_orderstatus", F.col("o_orderstatus")),
        ("o_orderpriority", F.col("o_orderpriority")),
        (
            "o_totalprice_bin",
            F.floor(F.col("o_totalprice") / F.lit(DRIFT_PRICE_BIN))
            .cast("string"),
        ),
    ]
    pairs = F.array(
        *[
            F.struct(
                F.lit(n).alias("feature"), c.cast("string").alias("category")
            )
            for n, c in feats
        ]
    )
    return orders.select(
        (F.col("o_orderdate") < F.lit(DRIFT_PIVOT).cast("timestamp"))
        .cast("bigint")
        .alias("is_ref"),
        F.explode(pairs).alias("p"),
    ).select("is_ref", "p.feature", "p.category")


def drift_tvd(counts: DataFrame) -> DataFrame:
    """Finish the drift audit from (feature, category, cnt_ref,
    cnt_cur) partials: per-feature totals, the BIGINT-exact numerator,
    and the single final IEEE division. Mergeable by construction —
    partial counts from any sharding (or micro-batch fold) sum to the
    same inputs."""
    totals = counts.groupBy("feature").agg(
        F.sum("cnt_ref").alias("n_ref"),
        F.sum("cnt_cur").alias("n_cur"),
        F.count(F.lit(1)).alias("n_categories"),
    )
    numer = counts.join(F.broadcast(totals), "feature").groupBy(
        "feature"
    ).agg(
        F.sum(
            F.abs(
                F.col("cnt_ref") * F.col("n_cur")
                - F.col("cnt_cur") * F.col("n_ref")
            )
        ).alias("numer")
    )
    return totals.join(numer, "feature").select(
        "feature",
        "n_ref",
        "n_cur",
        "n_categories",
        (
            F.col("numer")
            / (F.lit(2.0) * F.col("n_ref") * F.col("n_cur"))
        ).alias("tvd"),
    )


def dq_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift audit between two snapshots of a table — the
    monitor a training-data pipeline runs before accepting a new drop
    (did the feature mix shift vs the reference window?).

    Per feature (two categoricals + one equal-width-binned numeric on
    ``orders``), compares the category distribution before vs on/after
    ``DRIFT_PIVOT`` via **total variation distance**. TVD is chosen
    over PSI/KL deliberately: it needs no logarithm, so the whole
    statistic is exact integer arithmetic until one final IEEE
    division — ``tvd = sum_cat |cnt_ref*N_cur - cnt_cur*N_ref| /
    (2*N_ref*N_cur)`` — and both engines produce the bit-identical
    double (the package's decimal/integer float discipline; a
    transcendental-based PSI would drift in the last ulp between
    JVM and libm).

    One scan: each row explodes into its (feature, category) pairs
    with an is_ref flag; one (feature, category) count aggregate
    (map-side combined), one tiny per-feature rollup, one broadcast
    join back. Missing categories on either side contribute their
    full mass via the zero count — no outer-join special case needed.

    100 TB: output is O(features); the only wide shuffle is the
    (feature, category) count whose cardinality is the category
    space, not the row count. The explode multiplies rows by
    n_features pre-shuffle (dq_profile's expand caveat applies: keep
    feature sets per-audit, not per-column-of-everything).
    """
    counts = drift_pairs(table(spark, sf_dir, "orders")).groupBy(
        "feature", "category"
    ).agg(
        F.sum("is_ref").alias("cnt_ref"),
        F.sum(F.lit(1) - F.col("is_ref")).alias("cnt_cur"),
    )
    return drift_tvd(counts)


ORACLE_DQ_DRIFT = f"""
WITH base AS (
  SELECT CAST(o_orderdate < TIMESTAMP '{DRIFT_PIVOT}' AS BIGINT) AS is_ref,
         p.feature, p.category
  FROM orders,
       LATERAL (
         SELECT UNNEST([
           {{'feature': 'o_orderstatus',
             'category': o_orderstatus}},
           {{'feature': 'o_orderpriority',
             'category': o_orderpriority}},
           {{'feature': 'o_totalprice_bin',
             'category': CAST(CAST(FLOOR(o_totalprice / {DRIFT_PRICE_BIN})
                              AS BIGINT) AS VARCHAR)}}
         ], recursive := true)
       ) AS p
),
counts AS (
  SELECT feature, category,
         CAST(SUM(is_ref) AS BIGINT) AS cnt_ref,
         CAST(SUM(1 - is_ref) AS BIGINT) AS cnt_cur
  FROM base GROUP BY feature, category
),
totals AS (
  SELECT feature,
         CAST(SUM(cnt_ref) AS BIGINT) AS n_ref,
         CAST(SUM(cnt_cur) AS BIGINT) AS n_cur,
         COUNT(*) AS n_categories
  FROM counts GROUP BY feature
),
numer AS (
  SELECT c.feature,
         CAST(SUM(ABS(c.cnt_ref * t.n_cur - c.cnt_cur * t.n_ref))
              AS BIGINT) AS numer
  FROM counts c JOIN totals t USING (feature)
  GROUP BY c.feature
)
SELECT t.feature, t.n_ref, t.n_cur, t.n_categories,
       n.numer / (2.0 * t.n_ref * t.n_cur) AS tvd
FROM totals t JOIN numer n USING (feature)
"""


#: Benford's law expected first-digit mass, ppm: round(log10(1+1/d)*1e6).
#: LITERALS in both engines (not computed via log10 at query time) so a
#: 1-ulp libm difference between JVM Math.log10 and C log10 can never
#: split the hash.
_BENFORD_PPM = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}


def dq_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit over order totals — the fraud /
    synthetic-data screen a data-quality layer runs on monetary
    columns (synthetic uniform prices are exactly what Benford flags).

    First digit comes from the exact cents integer rendered as a
    string (both engines print BIGINT identically; no float log10 in
    the digit extraction). One scan, one 9-row aggregate; observed
    shares and deviations are integer ppm (total > 0 always: orders is
    non-empty and prices are positive). At 100 TB this is a map-side
    combine down to 9 groups.
    """
    o = table(spark, sf_dir, "orders")
    from .aggregates import scaled_long

    d = o.select(
        F.substring(
            scaled_long("o_totalprice").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    counts = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n_obs"))
    exp_map = F.create_map(
        *[F.lit(x) for k, v in _BENFORD_PPM.items() for x in (k, v)]
    )
    total = counts.agg(F.sum("n_obs").alias("total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n_obs",
            F.expr("n_obs * 1000000 div total").alias("obs_ppm"),
            exp_map[F.col("digit")].alias("exp_ppm"),
            (
                F.expr("n_obs * 1000000 div total")
                - exp_map[F.col("digit")]
            ).alias("dev_ppm"),
        )
    )


ORACLE_DQ_BENFORD = f"""
WITH d AS (
  SELECT CAST(SUBSTRING(
    CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR),
    1, 1) AS INT) AS digit
  FROM orders
),
c AS (
  SELECT digit, COUNT(*) AS n_obs FROM d GROUP BY digit
),
e(digit, exp_ppm) AS (
  VALUES {', '.join(f'({k}, {v})' for k, v in _BENFORD_PPM.items())}
)
SELECT
  c.digit,
  c.n_obs,
  CAST(c.n_obs * 1000000 // t.total AS BIGINT) AS obs_ppm,
  e.exp_ppm,
  CAST(c.n_obs * 1000000 // t.total - e.exp_ppm AS BIGINT) AS dev_ppm
FROM c
JOIN e ON e.digit = c.digit
CROSS JOIN (SELECT SUM(n_obs) AS total FROM c) t
"""


QUERIES = {
    "dq_referential": spec(
        dq_referential, ORACLE_DQ_REFERENTIAL, "beyond",
        doc="orphan-FK audit: anti-join cardinality per relationship",
    ),
    "dq_uniqueness": sql_spec(
        ORACLE_DQ_UNIQUENESS, "beyond",
        doc="primary-key uniqueness audit (rows vs distinct vs nulls)",
    ),
    "dq_profile": spec(
        dq_profile, ORACLE_DQ_PROFILE, "beyond",
        doc="column completeness + exact-cardinality profile "
            "(single-pass-per-table expand aggregate)",
    ),
    "dq_drift": spec(
        dq_drift, ORACLE_DQ_DRIFT, "beyond",
        doc="snapshot-drift audit: per-feature total variation distance "
            "(integer-exact numerators, one scan)",
    ),
    "dq_benford": spec(
        dq_benford, ORACLE_DQ_BENFORD, "beyond",
        doc="Benford first-digit audit: observed vs expected ppm per "
            "digit (literal expected table, integer deviations)",
    ),
}
