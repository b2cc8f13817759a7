"""Benchmark harness (driver contract: at most two JSON lines on stdout).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS]. Each query executes through a noop sink so
the timing covers the full physical plan (scan -> shuffle -> sink)
without driver-side row serialization skew. A DuckDB run of the same
oracle SQL is timed alongside (informational: the BASELINE target is
"within 2x of DuckDB per query"). A synthesized sf1 section runs in a
fresh child process.

The harness is three parts:

* **measure** — ``measure`` turns one timing window (``_timed``:
  min/med/n/spread) into a row, or into an error row when it raises.
  Rows are keyed by (tree_id, cpus, sf, engine, kind, query) with
  engine in {spark, duckdb} and kind in {warm, cold}. A row without a
  query is a section outcome: floors and host telemetry, a skip
  (``insufficient_disk``, ``no_time``) or an error such as a dead
  child's exit code.
* **log** — every row is appended to ``BENCH_LOG.jsonl`` and flushed the
  moment it exists; the sf1 child appends to the same log as it goes.
  A run starts by dropping the rows of other trees. Only appends reach
  the repo: a run writes nothing else in the checkout.
* **reduce** — one pure function turns the log into the detail record
  and the final stdout line: per key, the minimum over this tree's rows
  (this run's rows only when the tree is ``unknown``). Keys that should
  have a row and have none are the sf1 ``deadline_skipped`` list, so
  resuming is measuring what the log lacks: the sf1 child runs keys
  with no row first, then keys whose every row is unstable.

Stdout carries an early ``{"partial": true, ...}`` line after the sf0.1
section, then ONE final line under STDOUT_LINE_BUDGET bytes. The detail
record goes to $SPARK_GRAFT_BENCH_DETAIL (default /tmp/bench_full.json).
``BENCH_FULL.json`` in the repo is the last record of the harness that
preceded the log, kept frozen.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_verkada_spark.catalog import TABLES
from etl_verkada_spark.registry import build_registry
from etl_verkada_spark.session import get_spark

#: queries that represent each operator family at scale; quadratic
#: pair-ops (llm_sim_pairs, llm_dedup_ngram) are correctness-scale only.
HEADLINE = [
    "agg_groupby",
    "join_large",
    "join_broadcast_left",
    "flagship_flat",
    "win_rownum",
    "win_frame",
    "topk",
    "dedup_lastwins",
    "upsert_merge",
    "stream_tumble",
    "stream_session",
    "llm_dedup_exact",
    "llm_text_stats",
    "llm_fingerprint",
    "llm_sim_search",
    "udf_pandas",
    "join_asof",
    "join_range",
    "pivot",
    "subquery_exists",
    "agg_stats",
    "win_ntile",
    "llm_dedup_embed",
    "llm_sim_ann_ivf",
    "agg_salted",
    "win_sessionize",
    "ts_gapfill",
    "llm_bm25",
    "mm_feature_extract",
    "mm_feature_extract_arrow",
    # round-4 operators with bench-stable plans (no checkpoint caching)
    "ts_ohlc",
    "cdc_snapshot_diff",
    # round-6 additions: real PPM codec kernels + stride-1 span dedup.
    # mm_resize is correctness-checked but NOT benched: its oracle only
    # verifies the metadata surface while the Spark side does the real
    # 224x224x3 pixel resample, so the ratio would compare unequal work
    # (measured 524x — a statement about the oracle, not the plan).
    "mm_decode",
    "llm_dedup_substring",
    # round-7 additions: WindowGroupLimit top-N, digest-window soft
    # dedup, linear quality fusion, canonical-pick dedup, incremental
    # SCD2 fold (history from the landed fixture; delta-only work)
    "sort_topn_per_key",
    "llm_dedup_soft",
    "llm_quality_ensemble",
    "llm_dedup_keep_best",
    "scd2_apply",
    # round-7 session-2 additions: vocabulary-collapsed BPE pair
    # counting, prefix-filter exact similarity join, length-bucket
    # batch manifests, gaps-and-islands streaks
    "llm_bpe_pair_count",
    "llm_dedup_prefixfilter",
    "llm_length_buckets",
    "ts_streaks",
    "llm_vocab_coverage",
    "graph_degree_hist",
    "graph_label_propagation",
    # round-8 additions: regex-free sequence matching, interval-union
    # islands, once-scanned rollup cascade, grid-blocked kNN join, and
    # the 3-iteration relational BPE trainer/encoder
    "win_pattern_match",
    "ts_interval_merge",
    "ts_rollup_hierarchy",
    "geo_knn",
    "llm_bpe_train",
    "llm_bpe_encode",
    # round-9 additions: MERGE-with-deletes apply, forward as-of,
    # histogram weighted median, frontier BFS, integer Simpson
    # diversity, histogram-CDF perplexity gate, boilerplate coverage
    "cdc_merge_ops",
    "join_asof_fwd",
    "agg_weighted_median",
    "graph_bfs_levels",
    "llm_lexical_diversity",
    "llm_perplexity_filter",
    "llm_boilerplate_coverage",
    "stream_mv_apply",
    "ts_rolling_median",
    "ts_seasonal_baseline",
    "subquery_all",
    "agg_bitmap_distinct",
    "ts_cusum",
    "fx_bitwise",
    # round-10 additions: bucketed-prefix-max skyline, exact per-group
    # Gini, broadcast geofence containment, banded keyless interval
    # overlap, Benford digit audit, winnowing fingerprints
    "skyline_pareto",
    "agg_gini",
    "geo_geofence_join",
    "join_interval_overlap",
    "dq_benford",
    "llm_winnowing",
    # round-10 batch 2: combiner-pruned exact heavy hitters, exact-size
    # hash reservoir, blocked ROUGE-style n-gram recall, MAD anomalies
    "agg_heavy_hitters",
    "llm_sample_reservoir",
    "llm_eval_ngram_recall",
    "ts_mad_anomaly",
    # round-10 batch 3 (graph_clustering_coeff is sf1-only, same
    # wedge-join cost family as graph_triangle_count)
    "ts_autocorr",
    # round-11 additions: delta-only drift fold, binary-seg changepoint,
    # nearest as-of (graph_kcore is sf1-only — wedge-join cost family)
    "stream_drift_apply",
    "ts_changepoint",
    "join_asof_nearest",
    "llm_dedup_bloom",
    "win_session_attribution",
    # round-11 session-2 additions: wedge-join Jaccard link prediction,
    # two-scan winsorized mean, centroid-anchored LTTB decimation,
    # per-lang BPE fertility, star-schema dim chain (stream_topk is a
    # streaming fold — benched at sf1 only, with the replay rows)
    "graph_jaccard",
    "ts_winsorize",
    "ts_lttb",
    "llm_tokenizer_fertility",
    "join_star",
    # mm_phash is sf0.1-only: its oracle re-derives every pixel BYTE in
    # SQL (generate_series per position) — a correctness twin, not an
    # equal-work plan; at sf1 that explode is ~200M rows of ascii() and
    # would price the oracle's construction, not the hash (the
    # mm_resize not-benched precedent, relaxed to sf0.1 where the twin
    # is 2M rows and honest).
    "mm_phash",
    "llm_dataset_card",
    # session-2 batch 3: one-pass exact Pearson matrix, steady-state
    # leaderboard refresh, NOT-IN three-valued-logic pin
    "agg_corr",
    "stream_topk_apply",
    "subquery_not_in",
    "llm_lang_confusion",
    # sf0.1-only like llm_dedup_prefixfilter and for the same reason:
    # the correctness twin is brute-force all-pairs, which prices pair
    # materialization (not the asymmetric prefix blocking) on the
    # perturbed sf1 corpus; the directional family's scale argument is
    # in the operator docstring.
    "llm_dedup_containment",
    # geo_dbscan is correctness-only (the mm_resize precedent): its
    # oracle is brute-force all-pairs + WITH RECURSIVE reachability,
    # whose cost is quadratic in cluster size — measured >300 s at
    # sf0.1 where eps=0.5deg makes each nation one giant cluster. The
    # sf0.01 gate exercises the intended sparse regime (177 cores /
    # 1500 points); the Spark side's scale story is in its docstring.
    #
    # --- round-14 rotation (verdict item 1): 58 first-time pairs ---
    # 119 of 228 registered queries had never been timed at any scale;
    # everything below was probed at sf0.1 first (spark warm 0.15-3 s,
    # duck 2-700 ms) and is honest equal-work vs its oracle. Still
    # excluded, with reasons:
    #   * llm_dedup_minhash/simhash/ngram/fuzzy/passage/cc/semantic,
    #     llm_sim_pairs — their oracles are brute-force all-pairs
    #     correctness twins (the prefixfilter/containment precedent):
    #     the ratio would price pair materialization, not the banded
    #     plan (minhash probed 7.3 s vs a 0.4 s exact-Jaccard twin).
    #   * join_bucketed — rebuilds its bucketed saveAsTable fixtures
    #     inside the query (production buckets once); a repeated-run
    #     ratio prices table WRITES against a read-only oracle.
    #   * scan_rest_*/maintain_*/mm_* stubs, stream_* folds without
    #     oracles — rows-only checks, nothing to ratio against.
    # scalar-function family (fx_bitwise already benched)
    "fx_string",
    "fx_date",
    "fx_math",
    "fx_array",
    "fx_json",
    "fx_map",
    "fx_regex",
    "fx_cond",
    "fx_hash",
    # set operators
    "set_union",
    "set_intersect",
    "set_except",
    "set_intersect_all",
    "set_except_all",
    # subqueries (exists/all/not_in already benched)
    "subquery_in",
    "subquery_scalar",
    "subquery_lateral",
    # window family remainder
    "win_lag",
    "win_first_last",
    "win_rank",
    "win_relrank",
    "win_range_interval",
    "win_funnel",
    "win_running_distinct",
    # aggregate family remainder
    "agg_rollup",
    "agg_cube",
    "agg_grouping_sets",
    "agg_percentile",
    "agg_mode",
    "agg_histogram",
    "agg_filtered",
    "agg_sketch_merge",
    "agg_collect",
    # filters
    "filter_conj",
    "filter_isin",
    "filter_nullsafe",
    # join family remainder
    "join_anti",
    "join_semi",
    "join_sortmerge",
    "join_salted",
    "join_range_banded",
    # scans / layout / reshape
    "dedup_exact_rows",
    "limit_offset",
    "sort_orderby",
    "project_struct",
    "scan_partition_pruned",
    "unpivot",
    # LLM-pipeline remainder (non-pair-quadratic)
    "llm_lang_id",
    "llm_token_count",
    "llm_tfidf",
    "llm_sample_hash",
    "llm_sample_stratified",
    "llm_shard",
    "llm_pack_sequences",
    # timeseries remainder (ts_interpolate found O(n^2)-framed by this
    # very rotation and fixed in r14 — SCALE.md §29f)
    "ts_rolling_dau",
    "ts_cohort_retention",
    "ts_interpolate",
    "scd2_build",
    # --- round-15 rotation (r14 verdict item 3): 31 first-time pairs,
    # every candidate probed warm-spark + duck at sf0.1 first. The 29
    # still-never-benched queries, each with its reason:
    #   * llm_dedup_minhash/simhash/ngram/fuzzy/passage/cc/semantic,
    #     llm_sim_pairs — brute-force all-pairs correctness-twin
    #     oracles (the r14 exclusion, unchanged).
    #   * stream_dedup/slide/stateful/static_join/stream_join — replay
    #     rows whose oracles are one-shot recomputes: the ratio would
    #     price streaming-harness tax against a single pass (the
    #     pre-r15 stream_topk mismatch); a matched chunk-fold twin per
    #     query is the r16 path if coverage is wanted.
    #   * scan_csv/json/orc_land, scan_schema_evolution,
    #     scan_manifest_log — these LAND files inside the call (write
    #     mode overwrite, no fixture cache), so repeated-run timing
    #     prices Spark table WRITES against a read-only oracle (the
    #     join_bucketed exclusion).
    #   * scan_rest_page/cursor — local HTTP stub server rows.
    #   * maintain_compact/zorder — layout-maintenance writes.
    #   * mm_resize(+stub)/mm_frame_sample — oracle verifies the
    #     metadata surface while Spark does the pixel work (mm_resize
    #     measured 524x in r6; precedent documented there).
    #   * llm_kmeans_train — iterative Lloyd steps localCheckpoint per
    #     round; min-of-N would time the cache (the graph_pagerank
    #     problem, which SF1_COLD_QUERIES solves only for sf1).
    #   * geo_dbscan, join_bucketed — excluded above, unchanged.
    #   * flagship_features — flagship_flat (benched) plus Feature-doc
    #     serialization over the same pipeline; a second row would
    #     double-count the shared plan.
    # aggregate remainder
    "agg_count",
    "agg_distinct",
    "agg_count_distinct",
    "agg_approx",
    "agg_approx_percentile",
    # data-quality audits
    "dq_profile",
    "dq_referential",
    "dq_uniqueness",
    # projection/filter remainder
    "enrich_when",
    "project_struct_nested",
    # geo
    "geo_density",
    # LLM-pipeline remainder
    "llm_bigram_lm",
    "llm_clean_pipeline",
    "llm_decontaminate",
    "llm_dedup_incremental",
    "llm_mix_weights",
    "llm_pii_scrub",
    "llm_quality",
    "llm_quality_repetition",
    "llm_sample_importance",
    "llm_embed_quantize",
    "llm_embed_rp",
    "llm_kmeans_assign",
    "llm_sim_ann_lsh",
    # scans / validation (read-only paths)
    "scan_page",
    "scan_cursor",
    "validate_json",
    "validate_failfast",
    "validate_expectations",
    # multimodal (metadata-honest pair)
    "mm_binary_stats",
    # Python UDTF row path (the deliberate slow-path row, §2.10)
    "udtf_bigrams",
]


N_RUNS = 5  # min-of-N: sub-second timings carry ~20% scheduler noise

#: floor-band policy, the single definition (r14 advice: these were
#: duplicated in tools/weak_set.py and could drift): a >2x row whose
#: Spark absolute is within FLOOR_BAND_SPARK_S against a DuckDB
#: denominator under FLOOR_BAND_DUCK_S prices fixed per-job
#: scheduling, not the plan.
FLOOR_BAND_SPARK_S = 1.5
FLOOR_BAND_DUCK_S = 0.25


def _duck_connect():
    """DuckDB connection with spills pinned to /tmp: the default
    temp_directory is cwd-relative ".tmp" (i.e. inside the repo), and a
    big sf1 window sort spilling there alongside Spark's own shuffle
    temp once filled the disk mid-run and killed the whole sf1 section.
    """
    import duckdb

    con = duckdb.connect()
    con.execute("SET temp_directory='/tmp/duckdb_bench_tmp'")
    # bound the spill so a pathological query (the iterative pagerank
    # twin spills >79 GB) fails fast with a clean error instead of
    # driving the shared disk to 0 bytes free — the r5/r6 full runs both
    # lost the remainder of the sf1 section to that exhaustion.
    con.execute("SET max_temp_directory_size='40GB'")
    return con


#: adaptive repeat cutoff: once a single run exceeds this, further
#: repeats buy noise-rejection at an unacceptable wall-clock (and, for
#: the disk-heavy sf1 DuckDB sorts, repeated multi-GB spills); two runs
#: still reject a single spike.
SLOW_RUN_CUTOFF_S = 10.0


def _stats(times: list[float]) -> dict:
    """min/med/n/spread of one timing window (see _timed)."""
    lo, hi = min(times), max(times)
    return {
        "min": round(lo, 3),
        "med": round(statistics.median(times), 3),
        "n": len(times),
        "spread": round(hi / lo, 2) if lo > 0 else 1.0,
    }


def _timed(run_once, n_runs: int) -> dict:
    """Repeat ``run_once`` up to n_runs times and return the full
    dispersion record, not just a point estimate:

    * ``min`` — the plan's cost (local noise is strictly additive:
      GC, scheduler, steal time — the minimum is the honest floor);
    * ``med`` — the typical cost on THIS host at THIS moment;
    * ``n`` — runs actually timed (the adaptive cutoff can shrink it,
      so cross-round deltas are interpretable — ADVICE r5 #4);
    * ``spread`` — max/min; >2.0 means the environment, not the plan,
      dominated the window and the number should be read as
      unmeasured (r5 verdict: two same-day sf1 runs disagreed 28x).

    Queries slower than SLOW_RUN_CUTOFF_S repeat only once more.
    """
    times: list[float] = []
    for i in range(n_runs):
        t0 = time.perf_counter()
        run_once()
        times.append(time.perf_counter() - t0)
        if min(times) > SLOW_RUN_CUTOFF_S and i >= 1:
            break
    return _stats(times)


def _noop(fn, spark, sf_dir: str) -> None:
    """One execution of a registry callable through the noop sink."""
    fn(spark, sf_dir).write.mode("overwrite").format("noop").save()


def run_spark(fn, spark, sf_dir: str, n_runs: int = N_RUNS) -> dict:
    """Steady-state timing: one warmup run (JIT + page cache), then the
    dispersion record of n_runs timed runs (see _timed).

    DuckDB gets the same treatment in run_duckdb for a fair comparison.
    """
    _noop(fn, spark, sf_dir)
    return _timed(lambda: _noop(fn, spark, sf_dir), n_runs)


def run_duckdb(con, sql: str, n_runs: int = N_RUNS) -> dict:
    con.execute(sql).fetchall()  # warmup (page cache)
    return _timed(lambda: con.execute(sql).fetchall(), n_runs)


#: hard wall-clock budget for ONE sf1 DuckDB query (warmup + all timed
#: runs). The round-9 full run lost the ENTIRE sf1 section to the
#: subprocess's 5400 s timeout with zero output — no single query
#: wedged (every twin probes <12 s cold), the 48-query set simply
#: outgrew the budget at min-of-5 per engine. The budget turns an
#: over-slow query into a per-query `dnf_budget` error instead of a
#: section-wide loss.
SF1_DUCK_QUERY_BUDGET_S = 150.0

#: per-query budget overrides: llm_eval_ngram_recall's equal-work twin
#: runs ~43 s per pass (11.5M list_intersect pairs), so warmup + 2
#: timed runs sits exactly at the default budget and interrupts under
#: load (r11 run 2 lost the pair run 1 had recorded; the r13 run-1
#: interrupt at 300 s under a loadavg-17 window repeated the lesson).
#: 450 s fits three ~50%-degraded passes while staying bounded.
SF1_DUCK_BUDGET_OVERRIDES = {"llm_eval_ngram_recall": 450.0}


def run_duckdb_budgeted(
    con, sql: str, n_runs: int = N_RUNS, budget_s: float | None = None
) -> dict:
    """run_duckdb under a wall budget: a timer thread calls
    ``con.interrupt()`` when the budget expires; the partially-timed
    window is returned if at least one run finished, else the
    InterruptException propagates (caller records dnf). The timer
    callback is guarded by a done flag so a budget expiring in the gap
    between the last fetchall and timer.cancel() cannot leave a
    pending interrupt on the shared connection (ADVICE r9)."""
    import threading

    done = threading.Event()

    def _interrupt() -> None:
        if not done.is_set():
            con.interrupt()

    timer = threading.Timer(
        budget_s if budget_s is not None else SF1_DUCK_QUERY_BUDGET_S,
        _interrupt,
    )
    timer.start()
    times: list[float] = []
    try:
        con.execute(sql).fetchall()  # warmup
        for i in range(n_runs):
            t0 = time.perf_counter()
            con.execute(sql).fetchall()
            times.append(time.perf_counter() - t0)
            if min(times) > SLOW_RUN_CUTOFF_S and i >= 1:
                break
    except Exception:
        if not times:
            raise
    finally:
        done.set()
        timer.cancel()
    return _stats(times)


# ---------------------------------------------------------------------------
# sf1 crossover: the "ratios are constants, not asymptotics" claim, measured.
#
# The driver ships sf0.1 at most; sf1 is synthesized once (cached in /tmp)
# by replicating sf0.1 SF1_REPLICAS x with consistent key shifts — every
# foreign key moves by the same per-domain offset, so join cardinalities
# scale linearly and group counts grow with the data. Unlike the driver's
# single-row-group files, the copy is written as multi-file parquet, so
# Spark scans parallelize the way they would on a real cluster.
# ---------------------------------------------------------------------------

SF1_REPLICAS = 10
SF1_GEN_VERSION = 5  # bump to invalidate cached copies

#: one in SF1_PERTURB_STRIDE document tokens is mutated per replica
#: (replica-specific suffix at positions offset by the replica index).
#: This is the round-9 verdict's "perturbed-replica mode": verbatim
#: clones made every exact-similarity pair query price ~C(100,2)x500 =
#: 2.5M cloning-artifact pairs instead of the algorithm. A 10% token
#: mutation drops clone-pair 4-gram Jaccard to ~0.2-0.43 (below
#: PF_TAU=0.5, computed in SCALE.md §24), so pair ops at sf1 now
#: measure real pruning over a corpus whose near-dup structure is the
#: per-replica copy of sf0.1's own. Deterministic (token index +
#: replica index only), so re-synthesis is reproducible.
SF1_PERTURB_STRIDE = 10


def _perturb_text(text, i: int):
    """Replica-i text mutation: tag every SF1_PERTURB_STRIDE-th token
    (offset i) with a replica-specific suffix. Pure builtin
    split/transform/array_join — no Python boundary."""
    from pyspark.sql import functions as F

    return F.array_join(
        F.transform(
            F.split(text, " "),
            lambda tok, idx: F.when(
                (idx + F.lit(i)) % SF1_PERTURB_STRIDE == 0,
                F.concat(tok, F.lit(f"~r{i}")),
            ).otherwise(tok),
        ),
        " ",
    )

#: per-table replica overrides. documents/embeddings/events are tiny
#: even at sf1 (5k docs / 5k vectors / 1M events), so their queries
#: stay fixed-overhead-dominated and the crossover never shows; the
#: override makes them big enough that both engines do real work.
#: Events sit at 40x (40M rows), not 100x: two full runs measured the
#: comparison engine's window sorts over 100M-row events spilling
#: tens of GB of temp alongside Spark's accumulated sf1 shuffle files,
#: transiently filling this host's ~80 GB effective free disk and
#: killing the section ("No space left on device") — 40x keeps the
#: worst single sort's spill inside budget while remaining a 40x
#: crossover signal. The benched joins all stay within one factor
#: group (events.user_id joins only events-derived queries here), so
#: their cardinality models hold — BUT quality.py's FK_RELATIONSHIPS
#: declares events.user_id -> customer.c_custkey, and with events at
#: 40x vs customer at 10x the synthesized user_ids in replicas 10-39
#: are orphans: dq_referential must NOT join SF1_QUERIES unless
#: user_id is shifted modulo the customer key span.
SF1_TABLE_REPLICAS = {"documents": 100, "embeddings": 100, "events": 40}

#: the worst floor-adjusted sf0.1 ratios — the queries whose 2x verdict
#: hinges on whether the gap shrinks with data size (r5 widening: every
#: headline query >6x floor-adjusted at sf0.1 now has a crossover row).
SF1_QUERIES = [
    # DEGRADATION-AWARE ORDER (round-10 run 2/3 lesson): the sf1
    # section runs under a wall deadline and drops the TAIL of this
    # list first, so it is ordered by evidence value, not history:
    #   A. queries with no sf1 pair yet (r8-r10 additions) — cheap,
    #      fresh evidence first;
    #   B. established pairs (re-measured when budget allows);
    #   C. the heavy tail — multi-second on BOTH engines; these burn
    #      minutes for one row and degrade first.
    # llm_dedup_prefixfilter is sf0.1-only now: on the PERTURBED sf1
    # corpus the tau>=0.5 similarity join is genuinely huge (~2.5M
    # qualifying pairs; 136 s Spark, DuckDB twin past its budget), so
    # an sf1 row prices pair materialization, not the blocking
    # strategy — the banded family's scale row is the minhash/simhash
    # path, and the prefix filter's scale argument stays in its
    # docstring.
    # -- A: fresh pairs --
    "ts_streaks",
    "llm_vocab_coverage",
    "llm_bpe_pair_count",
    "graph_label_propagation",
    "ts_interval_merge",
    "ts_rollup_hierarchy",
    "geo_knn",
    "llm_bpe_train",
    "win_pattern_match",
    "cdc_merge_ops",
    "join_asof_fwd",
    "agg_weighted_median",
    "llm_lexical_diversity",
    "llm_perplexity_filter",
    "llm_boilerplate_coverage",
    "stream_mv_apply",
    "ts_rolling_median",
    "ts_seasonal_baseline",
    "agg_bitmap_distinct",
    "ts_cusum",
    "skyline_pareto",
    "agg_gini",
    "geo_geofence_join",
    "join_interval_overlap",
    "dq_benford",
    "llm_winnowing",
    "agg_heavy_hitters",
    "llm_sample_reservoir",
    "ts_mad_anomaly",
    "ts_autocorr",
    # r11 additions — cheap fresh pairs first (stream_drift_apply is
    # the delta-only fold; ts_changepoint is grid-sized after one
    # rollup; graph_kcore's build shares the triangle wedge join)
    "stream_drift_apply",
    "ts_changepoint",
    "graph_kcore",
    "join_asof_nearest",
    "llm_dedup_bloom",
    "win_session_attribution",
    # r11 session-2 additions — fresh pairs (graph_jaccard shares the
    # wedge-join cost family; stream_topk's fold replays 4 triggers,
    # priced against the one-shot ranking like the other fold rows)
    "ts_winsorize",
    "ts_lttb",
    "llm_tokenizer_fertility",
    "join_star",
    "graph_jaccard",
    "stream_topk",
    "llm_dataset_card",
    "agg_corr",
    "stream_topk_apply",
    "subquery_not_in",
    "llm_lang_confusion",
    # -- B: established pairs --
    "flagship_flat",
    "dedup_lastwins",
    "scd2_apply",
    "llm_dedup_soft",
    "sort_topn_per_key",
    "upsert_merge",
    "llm_bm25",
    "llm_chunk_rag",
    "mm_decode",
    "win_rownum",
    "stream_session",
    "stream_tumble",
    "subquery_exists",
    "win_ntile",
    "pivot",
    "join_asof",
    "join_range",
    "join_large",
    "agg_groupby",
    "llm_text_stats",
    "llm_sim_search",
    "topk",
    "ts_ohlc",
    "ts_gapfill",
    "agg_salted",
    "cdc_snapshot_diff",
    "dq_drift",
    "stream_ohlc",
    "agg_incremental_merge",
    "agg_countmin",
    # graph_triangle_count / graph_clustering_coeff moved UP out of the
    # heavy tail (r11): their DuckDB twins are 3-18 s warm when run in
    # isolation (measured this round against the same sf1 copy), so the
    # r10 interrupts were tail-of-run contention, not algorithm cost —
    # running them before the genuinely heavy pairs gives them a clean
    # window and turns two forfeits into honest ratio pairs.
    "graph_triangle_count",
    "graph_clustering_coeff",
    # -- C: heavy tail (degrades first, ordered by marginal evidence
    # value: llm_eval_ngram_recall moved here in r11 — its equal-work
    # twin carries a 300 s budget (SF1_DUCK_BUDGET_OVERRIDES) and in
    # run 3 that bite cost the section its two cold pairs; the two
    # replay-stress rows sit last because their steady-state price is
    # already the *_apply rows' job) --
    "llm_sim_ann_pq",
    "llm_bigram_score",
    "llm_dedup_substring",
    "llm_eval_ngram_recall",
    "stream_drift",
    "stream_mv_refresh",
]

#: Spark-timed at sf1 WITHOUT a DuckDB twin: the comparison engine's
#: 16-LAG / frame-sum windows over the 40M-row events table spilled
#: >75 GB of sort temp (measured — it exhausted this host's disk before
#: finishing even once), while Spark's streaming window-frame executor
#: computes the same result in one pass with O(frame) state per task
#: (plan tests pin the one-exchange/one-sort shape). The Spark absolute
#: is recorded so the claim is a number, not an assertion.
SF1_SPARK_ONLY = ["ts_ewma", "ts_anomaly_zscore"]

#: sf1-only SQL substitutions: queries whose correctness oracle is a
#: deliberately naive twin that cannot finish at sf1 on any engine get
#: an EQUAL-WORK DuckDB implementation of the same algorithm for the
#: crossover measurement (recorded in the sf1 section's
#: ``sql_overrides`` so the record is explicit about it). Correctness
#: at sf0.01 still runs the naive oracle.
def _sf1_sql_overrides() -> dict[str, str]:
    from etl_verkada_spark.llm.dedup import SF1_TWIN_LLM_DEDUP_PREFIXFILTER
    from etl_verkada_spark.llm.text import SF1_TWIN_LLM_EVAL_NGRAM_RECALL
    from etl_verkada_spark.streaming.upsert import SF1_TWIN_STREAM_TOPK

    return {
        "llm_dedup_prefixfilter": SF1_TWIN_LLM_DEDUP_PREFIXFILTER,
        "llm_eval_ngram_recall": SF1_TWIN_LLM_EVAL_NGRAM_RECALL,
        # r15 (r14 verdict item 7): same two-trigger chunk-pair fold as
        # the Spark replay — the one-shot-ranking denominator priced a
        # structural mismatch; stays IN the ratio (the true oracle CAN
        # finish at sf1, so the exclusion criterion does not apply)
        "stream_topk": SF1_TWIN_STREAM_TOPK,
    }


#: twin-denominator pairs EXCLUDED from the sf1 ``ratio``/
#: ``ratio_floor_adjusted`` maps (and so from every aggregate computed
#: over them): their DuckDB side is the equal-work twin above, not the
#: correctness oracle, so the pair is not oracle-vs-engine (r11 verdict
#: item 4). The measured twin comparison still ships — under
#: ``twin_ratio`` — with its annotation. Membership criterion: the TRUE
#: oracle cannot finish at sf1 on this host (llm_eval_ngram_recall's
#: inverted-index oracle re-tested r12 with full MATERIALIZED CTE
#: discipline: >360 s — the pairs x shingles intermediate is ~2.3B rows
#: by construction). llm_dedup_prefixfilter's twin stays IN the ratio
#: maps: its true oracle is brute-force all-pairs (deliberately naive
#: at any sf), the twin is the per-pair-count-matched same-algorithm
#: form, and the r10/r11 records adjudicated that pair as fair.
SF1_TWIN_EXCLUDED = ["llm_eval_ngram_recall"]


#: annotations shipped with the sf1 record: context the raw ratio
#: misstates on its own (r9 verdict #4).
SF1_ANNOTATIONS = {
    "stream_mv_refresh": (
        "replay-stress row: replays ALL chunks through availableNow "
        "micro-batch machinery (4 triggers + state versioning) vs a "
        "one-shot batch twin; the steady-state incremental refresh "
        "cost is the stream_mv_apply row"
    ),
    "llm_dedup_prefixfilter": (
        "DuckDB side runs the equal-work prefix-filter twin (see "
        "sql_overrides), not the brute-force correctness oracle; "
        "documents replicas are token-perturbed so pairs price the "
        "algorithm, not verbatim clones"
    ),
    "llm_eval_ngram_recall": (
        "DuckDB side runs the equal-work blocked list_intersect twin "
        "(see sql_overrides), not the inverted-index correctness "
        "oracle (re-tested r12 with full MATERIALIZED CTE discipline: "
        ">360 s at sf1 — its pairs x shingles intermediate is ~2.3B "
        "rows by construction); because the pair is therefore not "
        "oracle-vs-engine it is EXCLUDED from ratio aggregates and "
        "reported under twin_ratio (r11 verdict item 4); on the "
        "perturbed corpus the fp blocking yields 11.48M metric pairs, "
        "so both engines price per-pair set intersection at identical "
        "pair counts (SCALE.md §25a)"
    ),
    "stream_drift": (
        "replay-stress row: replays ALL chunks through availableNow "
        "micro-batch machinery (4 triggers + a full state overwrite "
        "per trigger) vs a one-shot batch twin; the steady-state "
        "incremental refresh cost is the stream_drift_apply row"
    ),
    "llm_dedup_bloom": (
        "the fixed test-scale filter (4096 bits) SATURATES at sf1: "
        "every probe is a maybe and the exact verify carries the full "
        "incoming set — the undersized-filter failure mode, priced "
        "deliberately (production sizes m to history; see the operator "
        "docstring's operating-range note)"
    ),
    "stream_topk": (
        "replay row with a MATCHED-WORK denominator since r15 (r14 "
        "verdict item 7): the DuckDB side folds the identical two "
        "chunk-pair batches — per-batch top-K prune then semilattice "
        "prune-merge (see sql_overrides; result provably equals the "
        "one-shot ranking the correctness row checks). The residual "
        "ratio prices Spark's streaming machinery (offsets log, state "
        "versioning I/O) against an in-process fold, deliberately"
    ),
    "upsert_merge": (
        "floor/constant-bound (r14 adjudication, SCALE.md §29e): the "
        "operator IS two scheduled runs (S9) and the oracle does the "
        "same two-phase work by design; decomposition = 2 filtered "
        "orders scans + 2 WindowGroupLimit merges against a 0.26 s "
        "in-memory denominator — per-stage constants, not plan"
    ),
    "win_session_attribution": (
        "floor/constant-bound (r14 adjudication, SCALE.md §29e): ONE "
        "user_id exchange total (the session/day aggregates reuse the "
        "window's partitioning), no self-join; the scan+shuffle floor "
        "alone is 48% of the Spark absolute against a 0.2 s in-memory "
        "denominator"
    ),
    "llm_dedup_containment": (
        "decomposed (SCALE.md §30a, rewritten r15 6.8x -> ~2.6x "
        "floor-adjusted): one tokenize+explode (0.56 s bare), two "
        "row-scale exchanges (s-window df, doc-rank), candidate join "
        "+ exact verify — ~6 sequential stage waves at the ~0.2 s "
        "wave floor against a sub-0.5 s in-memory denominator; a "
        "hash-the-shingles variant was built and measured NO-WIN"
    ),
    "graph_bfs_levels": (
        "decomposed (SCALE.md §30b): edge build ~1.0 s + 4 eager "
        "supersteps + final union at the ~0.28 s per-job floor; both "
        "structural alternatives (fully lazy bounded-depth plan, "
        "two-level fold) were BUILT and measured slower — per-round "
        "job tax, amortizes at cluster scale"
    ),
    "llm_boilerplate_coverage": (
        "decomposed (SCALE.md §30c, double occ build removed r15 "
        "2.10 -> 1.61 s): the stride-1 window-string build is 0.6-0.7 "
        "s of the absolute (md5 adds nothing); remainder is one "
        "digest exchange + match join + coverage window vs a ~0.25 s "
        "in-memory denominator — §24c stage-wave regime"
    ),
    "llm_dedup_substring": (
        "decomposed (SCALE.md §30c): the stride-1 occ build is 0.69 s "
        "= 52% of the 1.34 s absolute; remainder one digest-window "
        "exchange + doc-coverage window + final join vs a 0.24 s "
        "in-memory denominator — same stage-wave regime as its "
        "boilerplate sibling"
    ),
    "graph_label_propagation": (
        "compute-bound supersteps (SCALE.md §28c, re-adjudicated §30e "
        "on the r15 edge build): sf1 measures 1.42x raw — the sf0.1 "
        "ratio is the §24c per-superstep job tax against a sub-0.3 s "
        "denominator, not a plan defect"
    ),
    "ts_lttb": (
        "decomposed (SCALE.md §29b/§28a): two scans + a bounded "
        "cell-table driver fold; the residual over DuckDB is the "
        "decimal-packing ledger (~0.5 s) — a BIGINT-area variant was "
        "built r14 and measured NO-WIN; committed rows before r15 "
        "rode loaded windows (§29i note)"
    ),
    "agg_weighted_median": (
        "floor/constant-bound (SCALE.md §29a decomposition, "
        "annotated-closed r15 §30g): the zero-row-scale-exchange "
        "two-scan shape pays two bare parquet scans + two job floors "
        "against DuckDB's single in-memory pass; the one named "
        "residual lever (row-group min/max pruning on the pushed "
        "price band) needs a value-clustered layout the testdata "
        "does not have — a data-layout property, not a plan change"
    ),
    "dq_referential": (
        "floor/constant-bound (r15 probe + decomposition, SCALE.md "
        "§30d): a 5-relationship FK audit = 3 child scans + 4 "
        "broadcast builds + per-branch aggregates against DuckDB's "
        "~44 ms in-memory NOT EXISTS subqueries — per-stage "
        "constants, not plan (r15 cut the scan count from 10 to 3; "
        "the join strategy is Catalyst's, dimension parents "
        "broadcast, a row-scale parent would shuffle)"
    ),
    "agg_approx_percentile": (
        "deliberate dual computation: the operator's contract is the "
        "rank-error certificate, so BOTH engines compute the sketch "
        "AND the exact quantile bands; Spark's exact percentile is an "
        "object-hash aggregate vs DuckDB's vectorized quantile_cont — "
        "a constant-factor engine gap on equal work, one pass, "
        "mergeable partials"
    ),
    "udtf_bigrams": (
        "the deliberate Python-row-path row (§2.10): a lateral Python "
        "UDTF prices per-row interpreter crossing by design — the "
        "vectorized counterpart is the pandas_udf family; kept benched "
        "so the slow path's cost stays on record"
    ),
    "graph_jaccard": (
        "r13: JACC_MIN_COMMON 2 -> 1 — the old floor emptied the "
        "output at sf0.1 AND sf1 (both engines ground the wedge join "
        "to a verified 0-row answer), so the pair now measures a "
        "populated result at every benched scale (1396 rows sf0.1)"
    ),
}

#: iteration-heavy operators where a min-of-N would measure a cache, not
#: the computation (graph_pagerank localCheckpoints its ranks; scd2_build
#: is ~8s/run): ONE timed cold run each, reported as `cold_sec` /
#: `cold_duckdb_sec` so the honest cost is on record.
SF1_COLD_QUERIES = ["scd2_build", "graph_pagerank"]

#: key columns shifted per replica, keyed by FK domain so references stay
#: consistent across tables (orders.o_custkey moves exactly like
#: customer.c_custkey). nation/region are unreplicated dims: their keys
#: appear as FKs in replicated tables and must keep their values.
SF1_KEY_DOMAINS: dict[str, dict[str, str]] = {
    "customer": {"c_custkey": "cust"},
    "orders": {"o_orderkey": "order", "o_custkey": "cust"},
    "lineitem": {"l_orderkey": "order", "l_partkey": "part",
                 "l_suppkey": "supp"},
    "part": {"p_partkey": "part"},
    "supplier": {"s_suppkey": "supp"},
    "events": {"event_id": "event", "user_id": "user"},
    "documents": {"doc_id": "doc"},
    "embeddings": {"vec_id": "vec"},
    "nation": {},
    "region": {},
}
SF1_DOMAIN_SOURCE = {
    "cust": ("customer", "c_custkey"),
    "order": ("orders", "o_orderkey"),
    "part": ("part", "p_partkey"),
    "supp": ("supplier", "s_suppkey"),
    "event": ("events", "event_id"),
    "user": ("events", "user_id"),
    "doc": ("documents", "doc_id"),
    "vec": ("embeddings", "vec_id"),
}
SF1_WIDE_TABLES = {  # 32 output files
    "lineitem", "orders", "events", "documents", "embeddings",
}
SF1_BASE = "/tmp/spark_graft_sf1"


def ensure_sf1(spark, src_dir: str) -> str:
    """Build (or reuse) the synthesized sf1 copy; returns its directory.

    Cached on a fingerprint of the source files + generator params;
    stale fingerprint dirs are pruned so /tmp holds at most one copy.
    """
    import shutil

    h = hashlib.md5(
        f"v{SF1_GEN_VERSION}:r{SF1_REPLICAS}:{sorted(SF1_TABLE_REPLICAS.items())}".encode()
    )
    for t in TABLES:
        st = os.stat(os.path.join(src_dir, f"{t}.parquet"))
        h.update(f"{t}:{st.st_mtime_ns}:{st.st_size};".encode())
    dest = f"{SF1_BASE}/{h.hexdigest()[:12]}"
    done = os.path.join(dest, "_DONE")
    if os.path.exists(done):
        return dest
    for old in os.listdir(SF1_BASE) if os.path.isdir(SF1_BASE) else []:
        shutil.rmtree(os.path.join(SF1_BASE, old), ignore_errors=True)

    import duckdb
    from pyspark.sql import functions as F

    from etl_verkada_spark.catalog import table as load_table

    con = _duck_connect()
    base: dict[str, int] = {}
    for dom, (t, col) in SF1_DOMAIN_SOURCE.items():
        base[dom] = (
            con.execute(
                f"SELECT MAX({col}) + 1 FROM '{src_dir}/{t}.parquet'"
            ).fetchone()[0]
        )
    con.close()

    for t in TABLES:
        df = load_table(spark, src_dir, t)
        shifts = SF1_KEY_DOMAINS[t]
        if shifts:
            n_rep = SF1_TABLE_REPLICAS.get(t, SF1_REPLICAS)
            replicas = []
            for i in range(n_rep):
                r = df
                for col, dom in shifts.items():
                    r = r.withColumn(col, F.col(col) + F.lit(i * base[dom]))
                if t == "documents" and i > 0:
                    # replica 0 keeps sf0.1's genuine text; the rest are
                    # near-dup-but-not-verbatim copies (see
                    # SF1_PERTURB_STRIDE)
                    r = r.withColumn("text", _perturb_text(F.col("text"), i))
                replicas.append(r)
            out = replicas[0]
            for r in replicas[1:]:
                out = out.unionByName(r)
            out = out.repartition(32 if t in SF1_WIDE_TABLES else 8)
        else:
            out = df.coalesce(1)
        out.write.mode("overwrite").parquet(os.path.join(dest, f"{t}.parquet"))
    with open(done, "w") as f:
        f.write("ok")
    return dest


#: free bytes below which the sf1 section refuses to start: both r5
#: full runs lost DuckDB's cold pagerank to ENOSPC when its spill temp
#: raced Spark's accumulated shuffle files. 40 GB covers the worst
#: measured single-query spill with margin.
SF1_MIN_FREE_BYTES = 40 * 1024**3


def _free_bytes(path: str = "/tmp") -> int:
    import shutil

    return shutil.disk_usage(path).free


def _clean_tmp(
    patterns=("/tmp/duckdb_bench_tmp",),
    min_age_s: float = 600,
    prune_spark_dirs: bool = False,
):
    """Best-effort disk hygiene: drop DuckDB's spill temp entirely and,
    ONLY when ``prune_spark_dirs`` (safe solely BEFORE this process
    creates its SparkSession), prune stale Spark scratch dirs.

    prune_spark_dirs is the round-6 postmortem: the age-based prune ran
    mid-section after a ~20-minute DuckDB pass and deleted the LIVE
    JVM's own >10-minute-old blockmgr dir — every subsequent query died
    with NoSuchFileException on its shuffle files (both full-run sf1
    wipeouts, 31 and 35 queries). Age cannot distinguish a stale dir
    from a long-lived live one, so pruning is confined to process
    startup, where this process provably owns no Spark dirs yet."""
    import glob
    import shutil

    now = time.time()
    for p in patterns:
        shutil.rmtree(p, ignore_errors=True)
    if not prune_spark_dirs:
        return
    for pat in ("/tmp/blockmgr-*", "/tmp/spark-*"):
        for d in glob.glob(pat):
            try:
                if now - os.path.getmtime(d) > min_age_s:
                    shutil.rmtree(d, ignore_errors=True)
            except OSError:
                pass


def _err(e: Exception) -> str:
    """Compact error record that keeps the ROOT CAUSE: the r6 run stored
    only ``str(e)[:200]``, which for a Py4J SparkException is pure
    boilerplate ("Job aborted ... Lost task N in stage M") — the actual
    failure (OOM, ENOSPC, codegen error) lives hundreds of lines down in
    the Java stack and was unrecoverable afterwards."""
    s = str(e)
    lines = [ln.strip() for ln in s.splitlines() if ln.strip()]
    head = f"{type(e).__name__}: " + (lines[0][:200] if lines else s[:200])
    cause = ""
    for ln in lines:
        if ln.startswith("Caused by") or "OutOfMemory" in ln or (
            "No space left" in ln
        ) or "java.io.IOException" in ln:
            cause = ln[:250]  # first real cause wins
            break
    return f"{head} | cause: {cause}" if cause else head


def _tree_id() -> str:
    """Content hash of the benchable tree (engine package + harness +
    driver entry), commit-independent: ``git ls-files -s`` blob hashes
    plus any uncommitted diff. The reducer folds only rows of the
    IDENTICAL tree (r13 verdict item 6) — a plan change between runs
    would let a stale faster min misrepresent the shipped code."""
    import subprocess

    here = os.path.dirname(os.path.abspath(__file__))
    h = hashlib.md5()
    try:
        for cmd in (
            ["git", "ls-files", "-s", "--", "etl_verkada_spark",
             "bench.py", "__spark_entry__.py"],
            ["git", "diff", "--", "etl_verkada_spark", "bench.py",
             "__spark_entry__.py"],
        ):
            out = subprocess.run(
                cmd, capture_output=True, cwd=here, timeout=30
            )
            if out.returncode != 0:
                return "unknown"
            h.update(out.stdout)
        return h.hexdigest()[:12]
    except Exception:  # noqa: BLE001 - "unknown" folds one run only
        return "unknown"


def measure(engine: str, kind: str, query: str | None, window) -> dict:
    """One log row: the stats of the timing window ``window()`` returns,
    or the root cause of its failure — an error row, so one failing
    query never ends a pass."""
    row = {"engine": engine, "kind": kind, "query": query}
    try:
        row.update(window())
    except Exception as e:  # noqa: BLE001 - recorded as an error row
        row["error"] = _err(e)
    return row


#: the committed measurement log, one JSON row per line
LOG_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "BENCH_LOG.jsonl"
)
_KEY_FIELDS = ("tree_id", "cpus", "sf", "run_id", "engine", "kind", "query")
UNSTABLE_SPREAD = 2.0  # window spread read as unmeasured (see _timed)


def _parse(line: str) -> dict | None:
    try:
        row = json.loads(line)
    except ValueError:
        return None
    return row if isinstance(row, dict) else None


def _log_lines(path: str | None = None) -> list[str]:
    try:
        with open(path or LOG_PATH) as f:
            return f.read().splitlines()
    except OSError:
        return []


def read_log(path: str | None = None) -> list[dict]:
    """Every parseable row of the log (default LOG_PATH), in append
    order; a line cut short by a killed writer is skipped."""
    return [r for r in map(_parse, _log_lines(path)) if r]


def _append(row: dict) -> None:
    """Append one row and flush it. A line left unterminated by a killed
    writer is closed first, so the new row never merges into it."""
    line = json.dumps(row, separators=(",", ":")) + "\n"
    with open(LOG_PATH, "a+b") as f:
        if f.seek(0, os.SEEK_END):
            f.seek(-1, os.SEEK_END)
            if f.read(1) != b"\n":
                line = "\n" + line
        f.write(line.encode())
        f.flush()


def _prune_log(tree_id: str) -> None:
    """Drop the rows of other trees (and unparseable lines) as a run
    starts: no reducer call can read them again."""
    lines = _log_lines()
    keep = [r for r in map(_parse, lines) if r and r.get("tree_id") == tree_id]
    if len(keep) < len(lines):
        with open(LOG_PATH + ".tmp", "w") as f:
            f.writelines(json.dumps(r, separators=(",", ":")) + "\n" for r in keep)
        os.replace(LOG_PATH + ".tmp", LOG_PATH)


class RunLog:
    """One run's writer for one section (sf) of the log: stamps each row
    with its key fields and appends it."""

    def __init__(self, tree_id: str, cpus: int, sf: str, run_id: str):
        self.stamp = {"tree_id": tree_id, "cpus": cpus, "sf": sf, "run_id": run_id}

    def append(self, row: dict) -> dict:
        row = {**self.stamp, **row}
        _append(row)
        return row

    def rows(self) -> list[dict]:
        """This section's rows of every run of the tree (of this run only
        when the tree is unknown): what a resuming run already has."""
        same = ["tree_id", "cpus", "sf"]
        if self.stamp["tree_id"] == "unknown":
            same.append("run_id")
        return [
            r for r in read_log() if all(r.get(k) == self.stamp[k] for k in same)
        ]


def _sf1_label(sf: str) -> str:
    """The sf of the sf1 section's rows: the headline sf, replicated."""
    return f"{sf}x{SF1_REPLICAS}"


def _run_key(sf_dir: str) -> tuple[str, int, str]:
    """(tree_id, cpus, sf) of a run over ``sf_dir``."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 8)
    return _tree_id(), cpus, sf_dir.rstrip("/").rsplit("sf", 1)[-1]


def _detail_path() -> str:
    return os.environ.get("SPARK_GRAFT_BENCH_DETAIL", "/tmp/bench_full.json")


def last_run(rows: list[dict]) -> tuple | None:
    """(tree_id, cpus, sf) of the newest headline row."""
    for r in reversed(rows):
        if not str(r.get("sf")).endswith(f"x{SF1_REPLICAS}"):
            return r.get("tree_id"), r.get("cpus"), r.get("sf")
    return None


def _by_key(rows: list[dict]) -> dict[tuple, list[dict]]:
    """Query rows grouped by (engine, kind, query), in append order."""
    out: dict[tuple, list[dict]] = {}
    for r in rows:
        if r.get("query") is not None:
            out.setdefault((r.get("engine"), r.get("kind"), r["query"]), []).append(r)
    return out


def _best(rs: list[dict]) -> dict | None:
    return min((r for r in rs if "min" in r), key=lambda r: r["min"], default=None)


def _unstable(rs: list[dict]) -> bool:
    timed = [r for r in rs if "min" in r]
    return bool(timed) and all(r["spread"] > UNSTABLE_SPREAD for r in timed)


def _resume_rank(rs: list[dict]) -> int:
    """Measuring order of a key: 0 no row yet, 1 every row unstable,
    2 measured (error rows included)."""
    return 0 if not rs else 1 if _unstable(rs) else 2


def _tag(engine: str, kind: str) -> str:
    return engine if kind == "warm" else f"{engine}_cold"


def _md5_names(names) -> str:
    """Pins the pair set an aggregate is computed over (r11 verdict item
    7: like-for-like round-over-round comparison)."""
    return hashlib.md5(",".join(sorted(names)).encode()).hexdigest()[:10]


def _reduce_section(rows: list[dict], cur: str | None) -> dict:
    """One section's fold. ``best``: the minimum row per key; ``header``:
    the current run's section rows merged in order, each floor the
    minimum over all runs (a floor is a lower bound); plus error-only
    keys, unstable keys and the runs that timed anything."""
    header: dict = {}
    floors: dict = {}
    for r in rows:
        if r.get("query") is None:
            meta = {k: v for k, v in r.items() if k not in _KEY_FIELDS}
            for k in ("floor_s", "floor_1row_s"):
                if k in meta:
                    floors[k] = min(floors.get(k, meta[k]), meta[k])
            if r.get("run_id") == cur:
                header.update(meta)
    by_key = _by_key(rows)
    best = {k: b for k, rs in by_key.items() if (b := _best(rs))}

    def mins(engine: str, kind: str) -> dict[str, float]:
        return {
            q: b["min"] for (e, k, q), b in best.items() if (e, k) == (engine, kind)
        }

    def details(engine: str) -> dict[str, dict]:
        return {
            q: {f: b.get(f) for f in ("min", "med", "n", "spread", "run_id")}
            for (e, k, q), b in best.items() if (e, k) == (engine, "warm")
        }

    return {
        "header": {**header, **floors},
        "keys": set(by_key),
        "spark": mins("spark", "warm"),
        "duckdb": mins("duckdb", "warm"),
        "spark_cold": mins("spark", "cold"),
        "duckdb_cold": mins("duckdb", "cold"),
        "spark_detail": details("spark"),
        "duckdb_detail": details("duckdb"),
        "errors": {
            f"{_tag(*k[:2])}:{k[2]}": rs[-1].get("error")
            for k, rs in by_key.items() if k not in best
        },
        "unstable": {k for k, rs in by_key.items() if _unstable(rs)},
        "runs": sorted({r.get("run_id") for r in rows if "min" in r}),
    }


def _sf1_expected() -> list[tuple]:
    """Every key the sf1 section should have a row for."""
    return (
        [("duckdb", "warm", n) for n in SF1_QUERIES]
        + [("duckdb", "cold", n) for n in SF1_COLD_QUERIES]
        + [("spark", "warm", n) for n in SF1_QUERIES + SF1_SPARK_ONLY]
        + [("spark", "cold", n) for n in SF1_COLD_QUERIES]
    )


def _sf1_record(rows: list[dict], cur: str | None) -> dict | None:
    """The sf1 section of the detail record (None: no sf1 row at all)."""
    if not rows:
        return None
    s = _reduce_section(rows, cur)
    out = dict(s["header"])
    if not s["keys"]:
        return out  # a section outcome only: skipped or error
    floor_s = out.get("floor_s", 0.0)
    timings, duck = s["spark"], s["duckdb"]
    paired = [n for n in duck if duck[n] > 0 and n in timings]

    def adjusted(n: str) -> float:
        return round(max(timings[n] - floor_s, 0.0) / duck[n], 2)

    ratio_fa = {n: adjusted(n) for n in paired if n not in SF1_TWIN_EXCLUDED}
    out.update({
        "replicas_of_sf0.1": SF1_REPLICAS,
        "table_replica_overrides": SF1_TABLE_REPLICAS,
        "queries": timings,
        "duckdb": duck,
        "spark_detail": s["spark_detail"],
        "duckdb_detail": s["duckdb_detail"],
        # a ratio is only as trustworthy as its noisiest side: a pair is
        # unstable when either engine has no row with spread <= 2x
        "unstable": sorted({q for _, k, q in s["unstable"] if k == "warm"}),
        "ratio": {
            n: round(timings[n] / duck[n], 2)
            for n in paired if n not in SF1_TWIN_EXCLUDED
        },
        "ratio_floor_adjusted": ratio_fa,
        # measured but aggregate-excluded (twin denominator, see
        # SF1_TWIN_EXCLUDED): the honest number, outside the averages
        "twin_ratio": {n: adjusted(n) for n in paired if n in SF1_TWIN_EXCLUDED},
        "cold_sec": s["spark_cold"],
        "cold_duckdb_sec": s["duckdb_cold"],
        "spark_only": {n: timings[n] for n in SF1_SPARK_ONLY if n in timings},
        "sql_overrides": sorted(n for n in _sf1_sql_overrides() if n in duck),
        "twin_excluded": SF1_TWIN_EXCLUDED,
        # sf0.1-only benched rows too: the adjudication report reads
        # annotations from this record
        "annotations": {
            n: note for n, note in SF1_ANNOTATIONS.items()
            if n in timings or n in duck or n in HEADLINE
        },
        "n_runs": N_RUNS_SF1,
        "pairs_md5": _md5_names(ratio_fa),
        "runs_merged": len(s["runs"]),
    })
    missing = [
        f"{_tag(e, k)}:{q}" for e, k, q in _sf1_expected() if (e, k, q) not in s["keys"]
    ]
    if missing:
        out["deadline_skipped"] = missing
    if s["errors"]:
        out["errors"] = s["errors"]
    return out


def reduce(
    rows: list[dict], tree_id: str, cpus: int, sf: str, partial: bool = False
) -> tuple[dict, str]:
    """The detail record and the stdout line for (tree_id, cpus, sf).

    Per key, the minimum over every row of the tree — of the current run
    (the last matching row's) only when the tree is ``unknown``, which
    cannot prove two runs measured the same code. The sf1 section is the
    rows at ``_sf1_label(sf)``. Pure: reads and writes nothing."""
    sf1_sf = _sf1_label(sf)
    mine = [
        r for r in rows
        if (r.get("tree_id"), r.get("cpus")) == (tree_id, cpus)
        and r.get("sf") in (sf, sf1_sf)
    ]
    cur = mine[-1].get("run_id") if mine else None
    if tree_id == "unknown":
        mine = [r for r in mine if r.get("run_id") == cur]
    head_rows = [r for r in mine if r["sf"] == sf]
    h = _reduce_section(head_rows, cur)
    header, timings, duck = h["header"], h["spark"], h["duckdb"]
    floor_s = header.get("floor_s", 0.0)
    value = round(sum(timings.values()), 3)
    detail = {
        "metric": f"headline query wall-clock, noop sink, min-of-{N_RUNS}",
        "value": value,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "duckdb": duck,
        "spark_fixed_overhead_sec": floor_s,
        "spark_fixed_overhead_1row_sec": header.get("floor_1row_s"),
        # ratio with the fixed per-job floor subtracted: the scale signal
        # (does the PLAN do more work than DuckDB's) as opposed to the
        # raw ratio (which at sub-second local scale mostly measures JVM
        # job orchestration). Clamped at 0 for queries at the floor.
        "ratio_floor_adjusted": {
            n: round(max(timings[n] - floor_s, 0.0) / duck[n], 2)
            for n in duck if duck[n] > 0 and n in timings
        },
        "sf1": _sf1_record([r for r in mine if r["sf"] == sf1_sf], cur),
        "partial": partial,
        "host": header.get("host"),
        "cpus": cpus,
        "tree_id": tree_id,
        "run_id": cur,
        "runs_merged": len(h["runs"]),
        "queries_detail": h["spark_detail"],
        "duckdb_detail": h["duckdb_detail"],
        **({"errors": h["errors"]} if h["errors"] else {}),
        **({"error": header["error"]} if "error" in header else {}),
    }
    n_current = sum(
        1 for r in head_rows
        if r.get("run_id") == cur and "min" in r
        and (r.get("engine"), r.get("kind")) == ("spark", "warm")
    )
    line = compact_stdout_line(
        value, sf, timings, floor_s, duck, detail["sf1"],
        _detail_path(),
        partial=partial,
        floor_1row_s=header.get("floor_1row_s"),
        host=header.get("host"),
        runs_merged=len(h["runs"]) if len(h["runs"]) > 1 else None,
        n_current_run=n_current,
    )
    return detail, line


def _host_telemetry() -> dict:
    """Load + free-memory snapshot (r12 verdict item 1: the official
    r12 record was taken on a loaded host and nothing in the record
    said so — every ratio figure is only interpretable alongside the
    contention state it was measured under)."""
    t: dict = {}
    try:
        t["load1"] = round(os.getloadavg()[0], 1)
    except OSError:
        pass
    try:
        with open("/proc/meminfo") as f:
            for ln in f:
                if ln.startswith("MemAvailable:"):
                    t["mem_avail_gb"] = round(
                        int(ln.split()[1]) / 1048576, 1
                    )
                    break
    except OSError:
        pass
    return t


# The driver captures only the LAST 2000 BYTES of bench stdout and
# parses the final line as JSON. BENCH_r02-r06 were all parsed:null
# because the final line outgrew that window (r6's 3800-byte cap was
# still ~2x too generous). Everything printed here must fit the budget
# below with the trailing newline; full detail goes to the detail file.
STDOUT_LINE_BUDGET = 1900


def compact_stdout_line(
    value: float,
    sf: float,
    timings: dict,
    floor_s: float,
    duck: dict,
    sf1: dict | None,
    detail_path: str,
    partial: bool = False,
    floor_1row_s: float | None = None,
    host: dict | None = None,
    runs_merged: int | None = None,
    n_current_run: int | None = None,
) -> str:
    """One JSON line < STDOUT_LINE_BUDGET bytes: the driver contract.

    Sheds, least essential first: the sf1 cold/spark_only extras, sf1
    error messages (to names), the unstable list (to a count), the sf1
    ratio map (to its worst entries, and floor_bound names outside it),
    the per-query sf0.1 timings (to the slowest), then the queries and
    sf1 dicts whole. The per-query sf0.1 DuckDB ratios never ride the
    line — they are recomputable from the detail file; an aggregate
    ratio scalar stays.
    """
    s1: dict | None = None
    if isinstance(sf1, dict):
        s1 = {}
        if "ratio_floor_adjusted" in sf1:
            s1["ratio"] = {
                k: round(v, 1) for k, v in sf1["ratio_floor_adjusted"].items()
            }
        for k in ("unstable", "skipped", "error"):
            if sf1.get(k):
                s1[k] = sf1[k]
        if sf1.get("deadline_skipped"):
            # the names too, capped (r12 verdict item 2: a bare count
            # made skips anonymous in the official record)
            s1["n_deadline_skipped"] = len(sf1["deadline_skipped"])
            s1["skipped_q"] = sf1["deadline_skipped"][:8]
        if "free_disk_gb_at_start" in sf1:
            s1["free_gb"] = round(sf1["free_disk_gb_at_start"], 1)
        if "pairs_md5" in sf1:
            s1["pairs_md5"] = sf1["pairs_md5"]
        if sf1.get("twin_ratio"):
            s1["twin_ratio"] = {k: round(v, 1) for k, v in sf1["twin_ratio"].items()}
        if "errors" in sf1:
            # named, classed and capped (r12 verdict item 2); both the
            # dict form ({query: message}) and a bare name list
            errs = sf1["errors"]
            s1["n_errors"] = len(errs)
            if isinstance(errs, dict):
                s1["errors"] = {k: str(v)[:60] for k, v in list(errs.items())[:6]}
            else:
                s1["errors"] = [str(k)[:60] for k in errs][:6]
        if "host_start" in sf1:
            s1["load1"] = [
                sf1["host_start"].get("load1"),
                sf1.get("host_end", {}).get("load1"),
            ]
        if "spark_only" in sf1:
            s1["spark_only"] = {k: round(v, 2) for k, v in sf1["spark_only"].items()}
        if "cold_sec" in sf1:
            s1["cold"] = {k: round(v, 1) for k, v in sf1["cold_sec"].items()}
        # floor-bound rows (r10 verdict #6, r12 item 8): a >2x ratio
        # whose Spark absolute is ~1 s against a sub-250 ms DuckDB
        # denominator prices the ~0.2-0.35 s per-job floor, not the
        # plan. Named so the worst-N list reads correctly without the
        # detail file; the absolutes stay in the record.
        if s1.get("ratio") and sf1.get("queries") and sf1.get("duckdb"):
            fb = sorted(
                n for n, r in s1["ratio"].items()
                if r > 2.0
                and sf1["queries"].get(n, 99.0) <= FLOOR_BAND_SPARK_S
                and sf1["duckdb"].get(n, 99.0) <= FLOOR_BAND_DUCK_S
            )
            if fb:
                s1["floor_bound"] = fb
    duck_total = sum(duck.values())
    covered = [n for n in duck if n in timings]
    # the per-query floor-adjusted distribution (r10 verdict #6): the
    # aggregate sum is a composition artifact over mostly-20 ms DuckDB
    # denominators, so the line also carries the median and the >2x
    # count — the two numbers the 2x-per-query verdict actually uses.
    per_q = [
        max(timings[n] - floor_s, 0.0) / duck[n] for n in covered if duck[n] > 0
    ]
    final = {
        "metric": f"headline query wall-clock, noop sink, min-of-{N_RUNS}"
        + (f", min of {runs_merged} same-tree runs" if runs_merged else ""),
        "value": value,
        "unit": "sec",
        "sf": sf,
        "queries": {k: round(v, 2) for k, v in timings.items()},
        "spark_fixed_overhead_sec": floor_s,
        "spark_fixed_overhead_1row_sec": floor_1row_s,
        "duckdb_total_sec": round(duck_total, 3),
        "ratio_agg_floor_adjusted": round(
            max(sum(timings[n] for n in covered) - floor_s * len(covered), 0.0)
            / duck_total, 2,
        ) if duck_total > 0 else None,
        "ratio_median_floor_adjusted": (
            round(statistics.median(per_q), 2) if per_q else None
        ),
        "n_queries_gt2x": sum(1 for r in per_q if r > 2.0),
        "n_ratio_pairs": len(per_q),
        # r11 verdict item 7: round-over-round aggregates diverged on run
        # composition and on the floor subtracted — pin both
        "pairs_md5": _md5_names(covered),
        "floor_used": "spark_fixed_overhead_sec",
        "host": host,
        "sf1": s1,
        "detail_file": detail_path,
    }
    if runs_merged:
        # a query lost in one run would otherwise change the merged set
        # silently (r14 advice): name both counts
        final["n_queries_merged"] = len(timings)
        final["n_queries_current_run"] = n_current_run
    if partial:
        final["partial"] = True
        final.pop("sf1", None)

    def fits() -> bool:
        return len(json.dumps(final, separators=(",", ":"))) < STDOUT_LINE_BUDGET

    for drop in ("cold", "spark_only"):
        if fits():
            break
        if s1:
            s1.pop(drop, None)
    # error MESSAGES degrade to names before anything else goes — the
    # names are the adjudication payload, the text lives in the detail
    if not fits() and s1 and s1.get("errors"):
        s1["errors"] = sorted(s1["errors"])
    # the unstable list marks which ratios NOT to trust: degrade it to
    # a count rather than dropping it
    if not fits() and s1 and "unstable" in s1:
        s1["n_unstable"] = len(s1.pop("unstable"))
    # truncate the sf1 ratio map to its WORST entries (the adjudication
    # target), 5 at a time, before dropping the sf1 dict wholesale
    while not fits() and s1 and len(s1.get("ratio", {})) > 10:
        worst = sorted(s1["ratio"].items(), key=lambda kv: -kv[1])
        s1["ratio"] = dict(worst[: len(worst) - 5])
        s1["ratio_truncated"] = True
    # floor_bound names outside a truncated ratio map are dead bytes
    # (the r13 run-1 line spent ~600 B on 42 names): keep the count
    if s1 and s1.get("floor_bound") and (s1.get("ratio_truncated") or not fits()):
        s1["n_floor_bound"] = len(s1["floor_bound"])
        s1["floor_bound"] = [n for n in s1["floor_bound"] if n in s1.get("ratio", {})]
    # the per-query sf0.1 timings are the LEAST essential payload (the
    # detail file has them; the sf1 ratios are the adjudication target,
    # r5 verdict #1): keep the slowest, and drop queries BEFORE sf1
    while not fits() and len(final.get("queries", {})) > 15:
        slowest = sorted(final["queries"].items(), key=lambda kv: -kv[1])
        final["queries"] = dict(slowest[: len(slowest) - 10])
        final["queries_truncated"] = True
    for drop in ("queries", "sf1"):
        if fits():
            break
        final.pop(drop, None)
        final["dropped_for_size"] = final.get("dropped_for_size", []) + [drop]
    return json.dumps(final, separators=(",", ":"))


#: timed runs per engine per query at sf1. 3, not the sf0.1 section's
#: 5: at sf1 absolutes are mostly >= 0.5 s (scheduler noise is
#: proportionally small), the spread field still flags a polluted
#: window, and the round-9 driver record was lost to the section
#: outgrowing its wall budget — two fewer runs buy ~35% of the section
#: back. Host steal-time spikes that span all three runs land in
#: ``unstable`` and are read as unmeasured.
N_RUNS_SF1 = 3

#: seconds the sf1 section reserves before its deadline: no new query
#: starts inside the reserve, leaving room to aggregate + write the
#: result file (the difference between a per-query degradation and the
#: round-9 wholesale loss).
SF1_DEADLINE_RESERVE_S = 45.0


def bench_sf1(
    spark, registry, src_dir: str, log: RunLog, deadline: float | None = None
) -> None:
    """Spark-vs-DuckDB rows for the sf1 lists at the synthesized sf1
    (min-of-N_RUNS_SF1 per engine, one cold run per SF1_COLD_QUERIES
    query), appended to ``log`` as each completes. The log is the resume
    state: each engine's keys run in _resume_rank order, so successive
    runs of a tree cover every key and a re-measure is another row.

    ``deadline`` (a time.monotonic() timestamp) degrades the section PER
    QUERY (the round-9 rc:124 failure lost it wholesale): no key starts
    past the deadline minus reserve; keys left without a row are the
    reducer's ``deadline_skipped``."""

    def over(limit: float | None) -> bool:
        return limit is not None and time.monotonic() > limit - SF1_DEADLINE_RESERVE_S

    prior = _by_key(log.rows())

    def record(key: tuple, window) -> None:
        prior.setdefault(key, []).append(log.append(measure(*key, window)))

    sf1_dir = ensure_sf1(spark, src_dir)
    _clean_tmp()
    free = _free_bytes()
    free_gb = round(free / 1024**3, 1)
    if free < SF1_MIN_FREE_BYTES:
        log.append({
            "skipped": "insufficient_disk",
            "free_gb": free_gb,
            "needed_gb": round(SF1_MIN_FREE_BYTES / 1024**3, 1),
        })
        return
    log.append({"free_disk_gb_at_start": free_gb})

    # DuckDB FIRST: its big window sorts spill multi-GB temp; running
    # them before Spark's sf1 queries means that spill never coexists
    # with Spark's accumulated shuffle files (the combination filled
    # the disk and killed this section in two round-5 runs). The duck
    # pass is capped at HALF the remaining deadline, so first-time
    # fixture synthesis cannot leave the Spark pass nothing (a run once
    # ended with 64 duck rows and 0 spark rows).
    duck_deadline = deadline
    if deadline is not None:
        duck_deadline = min(deadline, (time.monotonic() + deadline) / 2)
    with _duck_connect() as con:
        # cap the comparison engine's memory: its default (80% of RAM)
        # overlaps the Spark JVM's heap on this shared box; 32 GB trades a
        # little extra spill for never racing the JVM into the OOM killer
        con.execute("SET memory_limit='32GB'")
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf1_dir}/{t}.parquet/*.parquet')"
            )
        overrides = _sf1_sql_overrides()
        for key in sorted(
            (k for k in _sf1_expected() if k[0] == "duckdb"),
            key=lambda k: _resume_rank(prior.get(k, [])),
        ):
            if over(duck_deadline):
                break
            _, kind, name = key
            if kind == "cold":
                sql = registry[name].oracle
                record(key, lambda: _timed(lambda: con.execute(sql).fetchall(), 1))
                continue
            sql = overrides.get(name) or registry[name].oracle
            budget = SF1_DUCK_BUDGET_OVERRIDES.get(name, SF1_DUCK_QUERY_BUDGET_S)
            if duck_deadline is not None:
                budget = min(budget, max(
                    duck_deadline - time.monotonic() - SF1_DEADLINE_RESERVE_S, 5.0
                ))
            record(key, lambda: run_duckdb_budgeted(
                con, sql, n_runs=N_RUNS_SF1, budget_s=budget
            ))
    _clean_tmp()

    # within a resume rank, keys whose DuckDB twin has a timing first: a
    # deadline mid-pass then costs absolutes, not pairs
    for key in sorted(
        (k for k in _sf1_expected() if k[0] == "spark"),
        key=lambda k: (
            _resume_rank(prior.get(k, [])),
            _best(prior.get(("duckdb",) + k[1:], [])) is None,
        ),
    ):
        if over(deadline):
            break
        fn = registry[key[2]].fn
        if key[1] == "cold":
            record(key, lambda: _timed(lambda: _noop(fn, spark, sf1_dir), 1))
        else:
            record(key, lambda: run_spark(fn, spark, sf1_dir, n_runs=N_RUNS_SF1))


def _warm_up(spark, registry, sf_dir: str) -> None:
    """JVM/codegen warmup on an off-headline query, then several noop
    jobs: a single warmup under-trains the JIT, and the first headline
    query (plus the floor itself) absorbs the remainder — measured
    r3->r4 as a 3x floor swing and a 2.7x phantom agg_groupby
    regression that vanished in isolation."""
    _noop(registry["agg_count"].fn, spark, sf_dir)
    for _ in range(4):
        spark.range(1).write.mode("overwrite").format("noop").save()


def _floor(job, n: int = 5) -> float:
    """Min-of-n wall time of ``job``: a fixed-overhead floor."""
    best = float("inf")
    for _ in range(n):
        t0 = time.perf_counter()
        job()
        best = min(best, time.perf_counter() - t0)
    return best


def _floor_1row(spark) -> float:
    """Plan + schedule + noop-commit a single-stage 1-row range job: the
    absolute lower bound of a Spark query."""
    return _floor(lambda: spark.range(1).write.mode("overwrite").format("noop").save())


def sf1_main(sf_dir: str, deadline_s: float | None = None, run_id: str = "") -> None:
    """Entry point of the sf1 section's child process (fresh JVM; see
    main()): appends rows under the parent's ``run_id``, prints nothing.
    ``deadline_s`` is the wall budget from THIS entry point, covering
    startup and first-time sf1 synthesis too."""
    deadline = time.monotonic() + deadline_s if deadline_s is not None else None
    tree_id, cpus, sf = _run_key(sf_dir)
    log = RunLog(tree_id, cpus, _sf1_label(sf), run_id or uuid.uuid4().hex[:12])
    meta = {"host_start": _host_telemetry(), "deadline_s": deadline_s}
    try:
        registry = build_registry()
        # the parent stopped its session before spawning us, so its
        # scratch dirs are dead; prune BEFORE creating our own session
        # (age guard kept: never touch dirs of unrelated live Spark
        # processes)
        _clean_tmp(prune_spark_dirs=True)
        spark = get_spark("etl-verkada-spark-bench-sf1")
        _warm_up(spark, registry, sf_dir)  # the sf0.1 section's protocol
        log.append({**meta, "floor_s": round(_floor_1row(spark), 3)})
        bench_sf1(spark, registry, sf_dir, log, deadline=deadline)
    except Exception as e:  # noqa: BLE001 - a section row, never silence
        log.append({**meta, "error": _err(e)})
    log.append({"host_end": _host_telemetry()})


#: whole-bench wall budget (seconds). The driver kills the bench
#: process at an unpublished timeout — round 9's record came back
#: rc:124 with the sf1 ratios lost because sf0.1 (~12 min) + a 55-min
#: sf1 subprocess outran it, while rounds 1-6 (shorter totals)
#: returned rc:0. 45 min keeps the WHOLE run (sf0.1 + sf1 + final
#: line) inside any plausible 1-hour budget with margin; the sf1
#: section sizes itself to what remains and degrades per-query.
BENCH_BUDGET_S = 2700.0


def headline_spark(spark, registry, sf_dir: str, log: RunLog) -> dict:
    """One spark row per HEADLINE query; returns this run's minima."""
    rows = [
        log.append(measure("spark", "warm", name, lambda: run_spark(
            registry[name].fn, spark, sf_dir
        )))
        for name in HEADLINE
    ]
    return {r["query"]: r["min"] for r in rows if "min" in r}


def headline_duckdb(spark, registry, sf_dir: str, log: RunLog, spark_mins) -> dict:
    """One duckdb row per HEADLINE oracle, then the warm canary, which it
    returns: one already-warm pair re-timed at section end (r12 verdict
    item 1). Spark drifting while DuckDB holds marks the run contended,
    not the code regressed."""
    try:
        con = _duck_connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    except Exception as e:  # noqa: BLE001 - a section row
        log.append({"error": f"duckdb: {_err(e)}"})
        return {}
    with con:
        rows = [
            log.append(measure("duckdb", "warm", name, lambda: run_duckdb(
                con, registry[name].oracle
            )))
            for name in HEADLINE
            if registry[name].oracle
        ]
        duck_mins = {r["query"]: r["min"] for r in rows if "min" in r}
        cq = "flagship_flat"
        if cq not in spark_mins or cq not in duck_mins:
            return {}
        try:
            c_s = run_spark(registry[cq].fn, spark, sf_dir, n_runs=3)
            c_d = run_duckdb(con, registry[cq].oracle, n_runs=3)
        except Exception as e:  # noqa: BLE001
            return {"q": cq, "error": _err(e)}
    return {
        "q": cq,
        "spark_drift": round(c_s["min"] / spark_mins[cq], 2),
        "duckdb_drift": round(c_d["min"] / duck_mins[cq], 2),
    }


def bench_headline(spark, registry, sf_dir: str, log: RunLog) -> None:
    """The sf0.1 section: warmup, floors, both engines' rows, then one
    section row with the floors and host telemetry."""
    from pyspark.sql import functions as F

    from etl_verkada_spark.catalog import table

    host_start = _host_telemetry()
    _warm_up(spark, registry, sf_dir)

    # two floors (r11: a 1-row probe at 0.025 s against a 0.152 s
    # cheapest headline query left "floor-adjusted" ratios pricing
    # harness fixed cost): floor_1row, the absolute lower bound kept for
    # cross-round comparability, and the floor used for adjustment — a
    # REAL minimal query (scan the 5-row region parquet through the
    # catalog, one hash aggregate, noop sink): two stages, a parquet
    # reader, codegen and an exchange, the fixed machinery EVERY
    # headline query pays. DuckDB's side is not floor-adjusted at all.
    def region_floor() -> float:
        return _floor(lambda: table(spark, sf_dir, "region").groupBy().agg(
            F.count(F.lit(1)).alias("n")
        ).write.mode("overwrite").format("noop").save())

    floor_1row_s, floor_s = _floor_1row(spark), region_floor()
    spark_mins = headline_spark(spark, registry, sf_dir, log)
    # floor re-measured at full steady state; keep the smaller — the
    # floor is a LOWER bound on fixed overhead (an inflated floor
    # flatters every ratio).
    floor_s = round(min(floor_s, region_floor()), 3)
    floor_1row_s = round(min(floor_1row_s, _floor_1row(spark)), 3)
    canary = headline_duckdb(spark, registry, sf_dir, log, spark_mins)
    host_end = _host_telemetry()
    host = {
        "load1": [host_start.get("load1"), host_end.get("load1")],
        "mem_gb": [host_start.get("mem_avail_gb"), host_end.get("mem_avail_gb")],
        **({"canary": canary} if canary else {}),
    }
    log.append({"floor_s": floor_s, "floor_1row_s": floor_1row_s, "host": host})


def main() -> None:
    t_start = time.monotonic()
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", str(BENCH_BUDGET_S)))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    tree_id, cpus, sf = _run_key(sf_dir)
    run_id = uuid.uuid4().hex[:12]
    _prune_log(tree_id)
    log = RunLog(tree_id, cpus, sf, run_id)
    # drop scratch left by prior rounds (DuckDB spill temp, dead Spark
    # local dirs) before any timing — stale files were half the r5
    # ENOSPC story. Spark-dir pruning is ONLY safe here, before this
    # process creates its session (see _clean_tmp).
    _clean_tmp(prune_spark_dirs=True)
    spark = None
    try:
        registry = build_registry()
        spark = get_spark("etl-verkada-spark-bench")
        bench_headline(spark, registry, sf_dir, log)
    except Exception as e:  # noqa: BLE001 - the lines must still print
        log.append({"error": _err(e)})
    # the sf1 section runs for tens of minutes; print (and flush) a
    # partial line FIRST so a harness timeout mid-sf1 still records a
    # parseable sf0.1 record — the final line supersedes it.
    print(reduce(read_log(), tree_id, cpus, sf, partial=True)[1], flush=True)

    # sf1 crossover section (disable with SPARK_GRAFT_SF1=0) in a FRESH
    # SUBPROCESS (own JVM): the r6 full run lost 31 of 34 sf1 queries
    # when one heavy query wedged the shared JVM. The child appends its
    # own rows; one that cannot run or dies leaves a section row here.
    if os.environ.get("SPARK_GRAFT_SF1", "1") != "0":
        import subprocess

        if spark is not None:
            spark.stop()  # free the 16g heap + shuffle dirs for the child
        sf1_log = RunLog(tree_id, cpus, _sf1_label(sf), run_id)
        # the child gets what the whole-bench budget has left, minus
        # margin to reduce + print; it degrades per-query against this
        # deadline — the subprocess timeout is only a backstop (round
        # 9's control-by-kill lost the ratios).
        elapsed = time.monotonic() - t_start
        deadline_s = min(
            budget - elapsed - 120.0,
            float(os.environ.get("SPARK_GRAFT_SF1_TIMEOUT", "3300")),
        )
        if deadline_s < 240.0:
            sf1_log.append({
                "skipped": "no_time",
                "budget_s": budget,
                "elapsed_before_sf1_s": round(elapsed, 1),
            })
        else:
            try:
                proc = subprocess.run(
                    [sys.executable, os.path.abspath(__file__), "--sf1-only",
                     sf_dir, f"{deadline_s:.0f}", run_id],
                    capture_output=True, text=True, timeout=deadline_s + 180,
                )
                if proc.returncode != 0:
                    sf1_log.append({"error": f"sf1 subprocess rc={proc.returncode}: "
                                             f"{proc.stderr[-400:]}"})
            except Exception as e:  # noqa: BLE001
                sf1_log.append({"error": _err(e)})

    detail, line = reduce(read_log(), tree_id, cpus, sf)
    try:
        with open(_detail_path(), "w") as f:
            json.dump(detail, f, indent=1)
    except OSError:
        pass
    print(line, flush=True)


if __name__ == "__main__":
    if sys.argv[1:2] == ["--sf1-only"]:
        sf1_main(sys.argv[2], float(sys.argv[3]), sys.argv[4])
    else:
        main()
