"""Single source of truth: query name -> (Spark callable, oracle SQL).

Each operator family module exposes a ``QUERIES: dict[str, QuerySpec]``;
this module merges them. ``__spark_entry__.py`` re-exports the merged
registry to the correctness driver.

Conventions (BASELINE.md / driver contract):

* every callable has signature ``(spark, sf_dir) -> DataFrame``;
* every computed column is aliased identically in the Spark code and the
  oracle SQL (the driver sorts columns by name before hashing);
* float aggregations that are order-sensitive route through DECIMAL and
  cast back to DOUBLE so both engines produce bit-identical values;
* ``oracle=None`` marks genuinely non-SQL-expressible operators (LSH
  banding, streaming state, pandas-UDF ANN) -> driver runs the weaker
  rows-only check;
* driver surfaces must be FLAT: array/struct cells are unhashable in
  the driver's canonicalizer (an array column of flagship_features
  crashed it) — emit ``to_json(...)`` / ``array_join(...)`` string
  columns instead, with the oracle producing the identical
  serialization.
* EAGER-CONSTRUCTION contract: building a callable runs no Spark job
  once the session has read its tables (``catalog.table`` memoizes each
  file's inferred schema), except for the named allow-list
  ``BUILD_JOB_ALLOW`` in tests/test_relational.py, each name bounded by
  its measured count. Those run bounded jobs at DataFrame-CONSTRUCTION
  time: eager superstep checkpoints (graph, k-means, BPE), driver-side
  reads of a cell-sized table that parameterize the plan
  (agg_weighted_median's median-bucket pick, ts_lttb's cell table), or
  files landed and read back (scan_*_land, maintain_*, the upsert
  streams). Such a plan is frozen against the source as read at build
  time: rebuild via the registry callable after any data change
  instead of caching the DataFrame.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .catalog import sql

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    """One registered engine capability.

    Attributes:
        fn: the Spark implementation, ``(spark, sf_dir) -> DataFrame``.
        oracle: equivalent SQL DuckDB can run on the testdata views, or
            None for rows-only checks.
        tags: provenance labels, e.g. ``{"reference:J1", "beyond"}``.
        doc: one-line description for SURVEY §2 traceability.
    """

    fn: QueryFn
    oracle: str | None
    tags: frozenset[str] = field(default_factory=frozenset)
    doc: str = ""


def spec(
    fn: QueryFn, oracle: str | None, *tags: str, doc: str = ""
) -> QuerySpec:
    return QuerySpec(fn=fn, oracle=oracle, tags=frozenset(tags), doc=doc)


def sql_spec(text: str, *tags: str, doc: str = "") -> QuerySpec:
    """A spec whose callable runs its oracle ``text`` on Spark through
    :func:`.catalog.sql`, tagged ``"sql-shared"``: the oracle check is
    then two engines agreeing on one text, not an independent
    implementation, so use it only where the callable would restate
    its oracle."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        return sql(spark, sf_dir, text)

    return spec(fn, text, "sql-shared", *tags, doc=doc)


# The correctness driver hard-checks only the FIRST 50 insertion-order
# entries of build_registry(); PRIORITY_ORDER names those 50.
#
# Rotation rule: slot 1 is the flagship; then (a) queries that have
# never had a driver row; then (b) queries whose implementation or
# oracle changed since their last driver row (comment-only edits don't
# count), the most recent change first; then (c) a fill of the queries
# whose newest hash-green driver row is oldest, alphabetical within one
# evidence cohort. Each name a change seats in (b) displaces the last
# (c) row; when (c) is empty, it displaces the oldest (b) row. Either
# way the window stays at 50. A query past slot 50 has a
# driver-green row for its current code, plus the parity coverage of
# tools/parity_check.py over all registered queries.
PRIORITY_ORDER: tuple[str, ...] = (
    # flagship
    "flagship_flat",
    # (b) implementation changed, most recent first
    "llm_kmeans_assign",
    "llm_embed_rp",
    "mm_binary_stats",
    "mm_feature_extract",
    "mm_feature_extract_arrow",
    "llm_sim_search",
    "udf_pandas",
    "llm_kmeans_train",
    "llm_sim_ann_pq",
    "filter_conj",
    "filter_isin",
    "join_broadcast_left",
    "join_semi",
    "join_anti",
    "topk",
    "limit_offset",
    "sort_topn_per_key",
    "dedup_exact_rows",
    "win_relrank",
    "cdc_snapshot_diff",
    "geo_geofence_join",
    "cdc_merge_ops",
    "agg_count",
    "agg_distinct",
    "agg_count_distinct",
    "agg_filtered",
    "agg_mode",
    "dq_uniqueness",
    "fx_cond",
    "fx_math",
    "ts_ewma",
    "ts_anomaly_zscore",
    "ts_winsorize",
    "set_union",
    "set_intersect",
    "set_except",
    "set_except_all",
    "set_intersect_all",
    "win_rownum",
    "win_rank",
    "win_ntile",
    "win_first_last",
    "subquery_exists",
    "subquery_in",
    "subquery_scalar",
    "subquery_lateral",
    "subquery_not_in",
    "agg_grouping_sets",
    "udtf_bigrams",
)


def build_registry() -> dict[str, QuerySpec]:
    """Merge every operator family's QUERIES dict. Import is deferred so a
    failure in one family (e.g. optional deps) surfaces per-query, not at
    module import of the driver entry point."""
    from .operators import aggregates, cdc, dedup, filters, geo, graph
    from .operators import joins, layout
    from .operators import projections, quality, reshape, scans, setops
    from .operators import sorts, subqueries, timeseries, windows
    from .functions import scalars, udtfs
    from .pipeline import features
    from .llm import bpe
    from .llm import dedup as llm_dedup
    from .llm import multimodal, packing, sampling, similarity, text
    from .streaming import dedup as stream_dedup_ops
    from .streaming import joins as stream_joins
    from .streaming import stateful as stream_stateful
    from .streaming import windows as stream_windows
    from .streaming import upsert

    merged: dict[str, QuerySpec] = {}
    for module in (
        scans,
        filters,
        projections,
        joins,
        dedup,
        aggregates,
        windows,
        timeseries,
        sorts,
        setops,
        reshape,
        layout,
        subqueries,
        quality,
        graph,
        cdc,
        geo,
        scalars,
        udtfs,
        features,
        llm_dedup,
        bpe,
        similarity,
        text,
        sampling,
        packing,
        multimodal,
        stream_windows,
        stream_stateful,
        stream_joins,
        stream_dedup_ops,
        upsert,
    ):
        overlap = merged.keys() & module.QUERIES.keys()
        if overlap:
            raise ValueError(f"duplicate query names: {sorted(overlap)}")
        merged.update(module.QUERIES)
    missing = [n for n in PRIORITY_ORDER if n not in merged]
    if missing:
        raise ValueError(f"PRIORITY_ORDER names not registered: {missing}")
    ordered = {n: merged[n] for n in PRIORITY_ORDER}
    ordered.update((n, s) for n, s in merged.items() if n not in ordered)
    return ordered
