"""Deduplication (reference J2, SURVEY.md §2.3/§2.5).

The reference's "last wins": ``Map.set(source_id, lease)`` overwrites on
duplicate keys, so the last arrival wins (task.ts:123; the v1.17.0
duplicate-lease fix, CHANGELOG.md:16). Spark does not preserve arrival
order, so "last" must be defined by an explicit ordering column — here
the natural per-key ordinal.

:func:`last_wins` is a ``max_by(struct(all columns), struct(order
columns))`` hash aggregate, deterministic when the ordering tuple is
unique per key (the engine's documented precondition). It is the 100 TB
default: partial aggregation runs MAP-SIDE (each scan task pre-reduces
to one candidate per key before the shuffle) and no sort happens at
all. ~25% faster locally than the row_number window the oracle runs,
and arbitrarily better at scale when keys repeat often.

Whole-row ``SELECT DISTINCT`` (``dedup_exact_rows``) is the
order-insensitive cousin, cheapest of all; deduplicating on a key alone
that way leaves WHICH row survives undefined, so the engine never uses
it where the reference semantics ("last") matter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import spec, sql_spec


def last_wins(df: DataFrame, key: list[str], order: list) -> DataFrame:
    """Keep the last row per key, 'last' defined by ``order`` ascending.

    Hash-aggregate argmax (see module docstring): max_by on the order
    tuple, whole row carried as a struct and unpacked after. When every
    non-key column is part of the ordering tuple, argmax degenerates to
    plain ``max(struct(order))`` — one buffered struct instead of
    max_by's separate (value, ordering) pair, measured ~40% faster on
    dedup_lastwins — so that fast path is taken automatically. Library
    form used by the flagship pipeline and the upsert sink. Requires
    the order tuple to be unique per key for a deterministic winner
    (same precondition the window form has for a deterministic rn=1).
    """
    cols = df.columns
    # fast path requires key/order disjoint, else the projection below
    # would emit duplicate column names (ADVICE r2)
    if set(cols) == set(key) | set(order) and not set(key) & set(order):
        agg = df.groupBy(*key).agg(
            F.max(F.struct(*[F.col(c) for c in order])).alias("__row")
        )
        return agg.select(
            *key, *[F.col(f"__row.{c}").alias(c) for c in order]
        ).select(*cols)
    row = F.struct(*[F.col(c) for c in cols])
    ord_t = F.struct(*[F.col(c) for c in order])
    agg = df.groupBy(*key).agg(F.max_by(row, ord_t).alias("__row"))
    return agg.select(*[F.col(f"__row.{c}").alias(c) for c in cols])


def dedup_lastwins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: last-wins dedup — keep the highest line number per order.

    lineitem has multiple lines per l_orderkey; l_linenumber is the
    deterministic arrival ordinal (fixtures carry page_idx/ord for the
    same purpose, FIXTURES.md).
    """
    li = table(spark, sf_dir, "lineitem")
    # (l_orderkey, l_linenumber) is NOT unique in this data — the full
    # 4-column ordering below is total (verified unique at every sf),
    # which is exactly the SURVEY §7.4 point: "last" needs a
    # deterministic order. Every non-key column is PART of the ordering
    # tuple, so last_wins takes its max(struct) fast path — ~40% off
    # the whole query at sf0.1 (0.93 s -> 0.57 s), and at scale the
    # shuffle carries exactly the ordering tuple, nothing else.
    return last_wins(
        li.select(
            "l_orderkey", "l_linenumber", "l_quantity",
            "l_extendedprice", "l_partkey",
        ),
        ["l_orderkey"],
        ["l_linenumber", "l_quantity", "l_extendedprice", "l_partkey"],
    ).select(
        "l_orderkey",
        F.col("l_linenumber").alias("last_line"),
        "l_quantity",
    )


ORACLE_DEDUP_LASTWINS = """
SELECT l_orderkey, l_linenumber AS last_line, l_quantity
FROM (
  SELECT *,
         ROW_NUMBER() OVER (
           PARTITION BY l_orderkey
           ORDER BY l_linenumber DESC, l_quantity DESC,
                    l_extendedprice DESC, l_partkey DESC
         ) AS rn
  FROM lineitem
)
WHERE rn = 1
"""


# Whole-row dedup: a hash aggregate on every selected column, partial
# combine map-side, one shuffle on the full row hash.
ORACLE_DEDUP_EXACT_ROWS = """
SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
"""


QUERIES = {
    "dedup_lastwins": spec(
        dedup_lastwins, ORACLE_DEDUP_LASTWINS, "reference:J2", "reference:W1",
        doc="last-wins dedup via max(struct) hash aggregate, task.ts:123",
    ),
    "dedup_exact_rows": sql_spec(
        ORACLE_DEDUP_EXACT_ROWS, "beyond",
        doc="order-insensitive exact whole-row dedup (SELECT DISTINCT)",
    ),
}
