"""Scans and pagination (reference S1/S2/S3, SURVEY.md §2.1).

The reference's two pagination styles:

* offset pagination — ``GET …?limit=50&page=N`` until ``total <= 50*page``
  (task.ts:116-127). Relationally that is ORDER BY key LIMIT/OFFSET; the
  parallel-at-scale form is the page-partitioned REST DataSource in
  ``sources/rest.py``.
* cursor pagination — follow ``next_page_token`` until null/absent/repeat
  (task.ts:143-166). Keyset pagination: ``WHERE key > cursor ORDER BY key
  LIMIT n``; inherently sequential, but each page is a pushed-down range
  scan (parquet reads only matching row groups), which is what makes the
  pattern viable at 100 TB — no OFFSET-style skip-scan of all prior rows.

Scale notes: LIMIT/OFFSET over a sorted key is an anti-pattern at scale
(the scan must produce and discard ``offset`` rows); keyset pagination is
O(page) per page. Both are provided because the reference has both; the
keyset form is the one to use on big tables.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import land_dir, landing, table, table_validated
from ..registry import spec

PAGE_SIZE = 50  # reference page size, task.ts:119


def scan_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/L1: offset pagination — page 2 (0-indexed) of lineitem, 50/page.

    Deterministic because the composite key (l_orderkey, l_linenumber) is
    unique. Spark compiles orderBy+offset+limit into a single global-sort
    + take; at scale prefer :func:`scan_cursor`.
    """
    li = table(spark, sf_dir, "lineitem")
    # ORDER BY must be a total order or the page boundary rows are
    # engine-dependent; (orderkey, linenumber) alone is not unique here.
    return (
        li.select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .offset(2 * PAGE_SIZE)
        .limit(PAGE_SIZE)
    )


ORACLE_SCAN_PAGE = """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
FROM lineitem
ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice
LIMIT 50 OFFSET 100
"""


def keyset_pages(
    df: DataFrame,
    key: str,
    page_size: int,
    max_pages: int | None = None,
):
    """Generator of keyset-paginated pages (reference S2 made scalable).

    Each yielded DataFrame is ``WHERE key > cursor ORDER BY key LIMIT n``;
    the cursor advance requires one action per page (mirroring the
    sequential HTTP fetch loop, task.ts:143-166). Includes the reference's
    cursor-cycle guard (O6, task.ts:160-166): stop if the cursor fails to
    advance.
    """
    cursor = None
    pages = 0
    while max_pages is None or pages < max_pages:
        page = df.orderBy(key)
        if cursor is not None:
            page = page.filter(F.col(key) > F.lit(cursor))
        page = page.limit(page_size)
        tail = page.select(F.max(key).alias("mx")).first()
        new_cursor = tail["mx"] if tail else None
        if new_cursor is None:
            break
        if cursor is not None and new_cursor <= cursor:
            # O6 cycle guard: token repeated / failed to advance.
            break
        yield page
        cursor = new_cursor
        pages += 1


def scan_cursor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/O6: cursor (keyset) pagination — the 3rd 100-row page of orders.

    Walks the cursor exactly like the reference walks next_page_token
    (sequential actions), but each page is a pushed-down range predicate,
    not an offset skip-scan.
    """
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    third = None
    for i, page in enumerate(keyset_pages(orders, "o_orderkey", 100, max_pages=3)):
        third = page
    assert third is not None
    return third


ORACLE_SCAN_CURSOR = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_orderkey
LIMIT 100 OFFSET 200
"""


def validate_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: schema-on-read validation of a JSON payload column.

    ``from_json`` with an explicit schema + FAILFAST mode is the Spark
    analogue of TypeBox ``.typed(schema)`` (task.ts:155-158): a
    non-conforming payload aborts instead of silently nulling.
    """
    ev = table(spark, sf_dir, "events")
    parsed = F.from_json("props", "k INT", {"mode": "FAILFAST"})
    return ev.select(
        "event_id",
        "event_type",
        parsed.getField("k").alias("k"),
    )


ORACLE_VALIDATE_JSON = """
SELECT event_id, event_type, CAST(props->>'$.k' AS INTEGER) AS k
FROM events
"""


def validate_failfast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 strict path: declared StructType verified against the files."""
    return table_validated(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )


ORACLE_VALIDATE_FAILFAST = """
SELECT o_orderkey, o_orderstatus FROM orders
"""


def validate_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 extended: declarative data-quality expectations as ONE aggregate.

    The reference validates shape (typebox schema, task.ts:104-106);
    production ingest also validates CONTENT. Each expectation is a
    conditional count folded into a single pass — null rate, key
    uniqueness (count vs count distinct), domain membership, range —
    so the full quality report costs one scan + one 1-row aggregate
    regardless of how many rules run (the mergeable-partial shape that
    scales; per-rule passes would be N scans). The report is data, so
    a pipeline can gate on it (fail if n_bad_* > threshold) exactly
    like validate_json's FAILFAST gates on shape.
    """
    o = table(spark, sf_dir, "orders")
    n = F.count(F.lit(1))
    return o.agg(
        n.alias("n_rows"),
        F.sum(F.col("o_custkey").isNull().cast("long")).alias("n_null_cust"),
        (n - F.count_distinct(F.col("o_orderkey"))).alias("n_dup_orderkey"),
        F.sum(
            (~F.col("o_orderstatus").isin("O", "F", "P")).cast("long")
        ).alias("n_bad_status"),
        F.sum(
            ((F.col("o_totalprice") <= 0.0)
             | (F.col("o_totalprice") > 1_000_000.0)).cast("long")
        ).alias("n_price_out_of_range"),
        F.max("o_orderdate").cast("date").cast("string").alias("max_date"),
    )


ORACLE_VALIDATE_EXPECTATIONS = """
SELECT
  COUNT(*) AS n_rows,
  -- CAST: DuckDB SUM over integers is HUGEINT -> pandas float64; Spark
  -- emits int64 and the driver's hash is dtype-sensitive
  CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_null_cust,
  COUNT(*) - COUNT(DISTINCT o_orderkey) AS n_dup_orderkey,
  CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END)
    AS BIGINT) AS n_bad_status,
  CAST(SUM(CASE WHEN o_totalprice <= 0.0 OR o_totalprice > 1000000.0
           THEN 1 ELSE 0 END) AS BIGINT) AS n_price_out_of_range,
  CAST(CAST(MAX(o_orderdate) AS DATE) AS VARCHAR) AS max_date
FROM orders
"""


LAND_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
LAND_DDL = (
    "o_orderkey long, o_custkey long, o_orderstatus string, "
    "o_totalprice double"
)


def _land_then_read(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    """Write the orders projection out as CSV/JSON lines, then read it
    back with a DECLARED schema in FAILFAST mode — the land-then-read
    pattern for sequential sources (drain the API to
    object storage once; analytics scan the landed files in parallel).
    The read side is the operator under test: schema-on-read text
    formats with strict validation, partition-parallel file splits, and
    lossless round-trip of longs/strings/doubles (Spark writes doubles
    as shortest-roundtrip decimal strings, so read(write(x)) == x)."""
    src = table(spark, sf_dir, "orders").select(*LAND_COLS)
    path = land_dir(sf_dir, fmt)
    writer = src.write.mode("overwrite")
    if fmt == "csv":
        writer.option("header", True).csv(path)
        return (
            spark.read.schema(LAND_DDL)
            .option("header", True)
            .option("mode", "FAILFAST")
            .csv(path)
        )
    if fmt == "json":
        writer.json(path)
        return (
            spark.read.schema(LAND_DDL).option("mode", "FAILFAST").json(path)
        )
    # ORC: binary columnar with embedded schema — no schema-on-read
    # validation mode applies; the declared schema instead asserts the
    # file schema matches (mismatch -> analysis error, the strict
    # contract the text formats get from FAILFAST).
    writer.orc(path)
    return spark.read.schema(LAND_DDL).orc(path)


def scan_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partition pruning: the scan that never reads the data
    it filters out.

    The testdata is single unpartitioned files, so this lands events
    once as ``partitionBy(event_type)`` parquet, then reads it back
    with an event_type filter: the predicate resolves against DIRECTORY
    NAMES (PartitionFilters in the plan, asserted in
    tests/test_relational.py), so the other partitions' files are never
    opened. At 100 TB this is the first-order scan optimization —
    partition layout turns a full-corpus scan into reading only the
    selected slices — and it's the batch analogue of the IVF/bucketed
    layouts the LLM ops use.
    """
    src = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    path = landing(
        spark, sf_dir, "events_by_type", ["events"],
        lambda p: src.write.partitionBy("event_type").parquet(p),
    )
    part = spark.read.parquet(path).filter(
        F.col("event_type") == "purchase"
    )
    from .aggregates import scaled_long, unscale

    return part.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        unscale(F.sum(scaled_long("value")), 2).alias("sum_value"),
    )


ORACLE_SCAN_PARTITION_PRUNED = """
SELECT
  user_id,
  COUNT(*) AS n_purchases,
  CAST(CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS DECIMAL(38,0))
       / 100 AS DOUBLE) AS sum_value
FROM events
WHERE event_type = 'purchase'
GROUP BY user_id
"""


def scan_csv_land(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 scale path: land-then-read via CSV with declared schema."""
    return _land_then_read(spark, sf_dir, "csv")


def scan_json_land(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 scale path: land-then-read via JSON lines with declared schema."""
    return _land_then_read(spark, sf_dir, "json")


def scan_orc_land(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 scale path: land-then-read via ORC (second columnar format —
    predicate pushdown + column pruning work the same as parquet)."""
    return _land_then_read(spark, sf_dir, "orc")


ORACLE_SCAN_LAND = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
"""


def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read evolution: a column added mid-stream.

    Real landed datasets grow columns over time; the engine must read
    old and new files as ONE relation without a rewrite. This lands
    orders as two parquet generations — gen1 (even order keys) without
    o_orderstatus, gen2 (odd keys) with it — then reads the directory
    with ``mergeSchema``: Spark unions the footers' schemas and
    null-fills the missing column for gen1 files, entirely at the scan
    (no post-hoc unionByName plan, one FileScan over both
    generations). The oracle recomputes the semantic result from the
    orders view (the landing is this operator's own artifact).

    At 100 TB: schema merging reads only parquet FOOTERS, and a
    declared read-schema (the steady-state form once the union schema
    is known) skips even that; per-file column absence stays a
    metadata-level null-fill — no data rewrite, no shuffle, scan-only.
    """
    src = table(spark, sf_dir, "orders")
    path = land_dir(sf_dir, "schema_evo")
    gen1 = src.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    gen2 = src.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    gen1.write.mode("overwrite").parquet(f"{path}/gen=1")
    gen2.write.mode("overwrite").parquet(f"{path}/gen=2")
    merged = spark.read.option("mergeSchema", True).parquet(
        f"{path}/gen=1", f"{path}/gen=2"
    )
    return merged.select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )


ORACLE_SCAN_SCHEMA_EVOLUTION = """
SELECT
  o_orderkey,
  o_custkey,
  o_totalprice,
  CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END AS o_orderstatus
FROM orders
"""


def scan_manifest_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transaction-log (manifest) scan — the lakehouse table pattern:
    the set of live data files is defined by a committed manifest, not
    by directory listing, giving atomic snapshot semantics (half-written
    files and logically-deleted files are invisible because no manifest
    names them).

    This lands orders as three parquet slices, then writes two manifest
    versions: v1 lists slice 0; v2 (the committed head) lists slices 0
    and 1 — slice 2 exists on disk but belongs to no manifest (an
    uncommitted write). The scan replays the LOG HEAD: pick the highest
    manifest version, read exactly its file list. Reading the manifest
    is a driver-side METADATA read (bounded: a file list, like Delta's
    log replay or the bounded bucket-id list in streaming/upsert.py) —
    the data files themselves are read by executors as one parallel
    FileScan, with all pushdown/pruning intact.

    At 100 TB this is how scans scale past directory listing entirely:
    the manifest carries per-file stats for pruning, and snapshot
    isolation is free — readers of v1 never see v2's files.
    """
    import json as _json

    src = table(spark, sf_dir, "orders")
    root = land_dir(sf_dir, "manifest_log")
    cols = ["o_orderkey", "o_custkey", "o_totalprice"]
    for s in range(3):
        src.filter(F.col("o_orderkey") % 3 == s).select(*cols).coalesce(
            1
        ).write.mode("overwrite").parquet(f"{root}/slice={s}")
    os.makedirs(f"{root}/_log", exist_ok=True)
    with open(f"{root}/_log/manifest_v1.json", "w") as f:
        _json.dump({"version": 1, "files": [f"{root}/slice=0"]}, f)
    with open(f"{root}/_log/manifest_v2.json", "w") as f:
        _json.dump(
            {"version": 2, "files": [f"{root}/slice=0", f"{root}/slice=1"]},
            f,
        )
    # log replay: highest committed version wins (driver-side metadata).
    # NUMERIC version sort — lexicographic filename order would put
    # manifest_v10 before manifest_v2
    import re as _re

    def _vnum(fname: str) -> int:
        m = _re.search(r"_v(\d+)\.json$", fname)
        if m is None:
            raise ValueError(f"unversioned manifest in log: {fname}")
        return int(m.group(1))

    versions = sorted(os.listdir(f"{root}/_log"), key=_vnum)
    with open(f"{root}/_log/{versions[-1]}") as f:
        head = _json.load(f)
    return spark.read.parquet(*head["files"]).select(*cols)


ORACLE_SCAN_MANIFEST_LOG = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_orderkey % 3 <> 2
"""


COMPACT_SMALL_FILES = 64
COMPACT_TARGET_FILES = 4


def maintain_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the table-maintenance operator every
    long-lived 100 TB lake needs.

    Streaming/paginated ingest (S1/S2, upsert_merge's foreachBatch)
    lands many tiny files; each costs a task, a footer read and an open
    per scan, so scan fan-out degrades as the file count, not the byte
    count. Compaction rewrites a directory to ~target-sized files:
    here a 64-file landing is coalesced to 4. ``coalesce`` (narrow, no
    shuffle — N input files map to M output tasks) is the right
    rewrite when only the file COUNT is wrong; ``repartitionByRange``
    is the upgrade when min/max clustering for data skipping should be
    restored at the same time. The returned DataFrame reads the
    compacted copy — content must be byte-identical to the source
    (the oracle is the same SELECT as the other landings), and the
    file-count contract is asserted in tests/test_relational.py.

    Both layouts are one :func:`~..catalog.landing` of orders, built
    once and reused while orders and the two file counts are unchanged,
    so the bench measures the READ-side win, not the rewrite.
    """
    src = table(spark, sf_dir, "orders").select(*LAND_COLS)

    def build(path: str) -> None:
        frag_dir = os.path.join(path, "fragmented")
        src.repartition(COMPACT_SMALL_FILES).write.parquet(frag_dir)
        (
            spark.read.schema(LAND_DDL)
            .parquet(frag_dir)
            .coalesce(COMPACT_TARGET_FILES)
            .write.parquet(os.path.join(path, "compacted"))
        )

    path = landing(
        spark, sf_dir, "compact", ["orders"], build,
        COMPACT_SMALL_FILES, COMPACT_TARGET_FILES,
    )
    return spark.read.schema(LAND_DDL).parquet(os.path.join(path, "compacted"))


#: column surface served by the REST fixture server and declared by the
#: DataSource scans below (matches the customer parquet types)
_REST_DDL = "c_custkey bigint, c_name string, c_acctbal double"


def _rest_scan(spark: SparkSession, sf_dir: str, fmt: str,
               options: dict) -> DataFrame:
    """Drive a REAL paginated-REST scan end-to-end against the local
    HTTP stub and land the result — so the driver's oracle compare
    checks the CONNECTOR (S1/S2 as pluggable Python DataSources,
    sources/rest.py), not a parquet stand-in.

    Fixture: the customer dim is served as JSON items by the same
    in-process server the pytest suite uses (sources/http_stub.py —
    the reference API's page/token shapes, task.ts:116-127/143-166).
    Building the server's item list is driver-side BY DESIGN: it is
    the upstream system being simulated, not the operator. The
    operator is the DataSource scan — parallel page-range partitions
    for S1, the cycle-guarded sequential cursor for S2 — whose rows
    are landed to parquet (the land-then-read discipline, so the
    returned frame needs no live server) and must hash-match plain SQL
    over the source table. At 100 TB the pattern is unchanged: a page
    API is drained once into object storage; analytics never re-pull.
    """
    from ..catalog import table as _table
    from ..sources.http_stub import make_server
    from ..sources.rest import register

    items = [
        {
            "c_custkey": r["c_custkey"],
            "c_name": r["c_name"],
            "c_acctbal": r["c_acctbal"],
        }
        for r in _table(spark, sf_dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
        .collect()
    ]
    server, port, _stats = make_server(items)
    land = land_dir(sf_dir, f"rest_{fmt}")
    try:
        register(spark)
        reader = (
            spark.read.format(fmt)
            .option("url", f"http://127.0.0.1:{port}/"
                    + ("items" if fmt == "paged_rest" else "cursor"))
            .option("schema_ddl", _REST_DDL)
        )
        for k, v in options.items():
            reader = reader.option(k, v)
        reader.load().write.mode("overwrite").parquet(land)
    finally:
        server.shutdown()
    return spark.read.schema(_REST_DDL).parquet(land)


def scan_rest_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 driver-checked end-to-end: offset pagination
    (?limit=&page=N) through the ``paged_rest`` Python DataSource —
    one input partition per page range, pages fetched in parallel
    (sources/rest.py:PagedRestReader; reference loop task.ts:116-127,
    server-side LIMIT task.ts:119)."""
    return _rest_scan(
        spark, sf_dir, "paged_rest",
        {"limit": 200, "pages_per_task": 2},
    )


def scan_rest_cursor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 driver-checked end-to-end: token pagination
    (next_page_token) through the ``cursor_rest`` Python DataSource —
    inherently sequential, with the repeat-token cycle guard
    (sources/rest.py:CursorRestReader; reference task.ts:143-166,
    guard task.ts:160-166)."""
    return _rest_scan(spark, sf_dir, "cursor_rest", {})


ORACLE_SCAN_REST = """
SELECT c_custkey, c_name, c_acctbal FROM customer
"""


QUERIES = {
    "scan_page": spec(
        scan_page, ORACLE_SCAN_PAGE, "reference:S1", "reference:L1",
        doc="offset-paginated scan (limit/offset), task.ts:116-127",
    ),
    "scan_cursor": spec(
        scan_cursor, ORACLE_SCAN_CURSOR, "reference:S2", "reference:O6",
        doc="cursor/keyset-paginated scan with cycle guard, task.ts:143-166",
    ),
    "scan_rest_page": spec(
        scan_rest_page, ORACLE_SCAN_REST, "reference:S1", "reference:O5",
        doc="S1 through the real paged_rest Python DataSource against "
            "the HTTP stub (parallel page ranges), task.ts:116-127",
    ),
    "scan_rest_cursor": spec(
        scan_rest_cursor, ORACLE_SCAN_REST, "reference:S2", "reference:O6",
        doc="S2 through the real cursor_rest Python DataSource against "
            "the HTTP stub (cycle-guarded token walk), task.ts:143-166",
    ),
    "validate_json": spec(
        validate_json, ORACLE_VALIDATE_JSON, "reference:S3",
        doc="schema-on-read JSON validation (FAILFAST), task.ts:155-158",
    ),
    "validate_failfast": spec(
        validate_failfast, ORACLE_VALIDATE_FAILFAST, "reference:S3",
        doc="declared-schema strict read, task.ts:104-106",
    ),
    "validate_expectations": spec(
        validate_expectations, ORACLE_VALIDATE_EXPECTATIONS, "reference:S3",
        "beyond",
        doc="declarative data-quality expectations in one aggregate pass",
    ),
    "scan_partition_pruned": spec(
        scan_partition_pruned, ORACLE_SCAN_PARTITION_PRUNED, "beyond",
        doc="hive-partitioned layout + directory-level partition pruning",
    ),
    "scan_csv_land": spec(
        scan_csv_land, ORACLE_SCAN_LAND, "reference:S2", "beyond",
        doc="land-then-read CSV with declared schema (FAILFAST)",
    ),
    "scan_json_land": spec(
        scan_json_land, ORACLE_SCAN_LAND, "reference:S2", "beyond",
        doc="land-then-read JSON lines with declared schema (FAILFAST)",
    ),
    "scan_orc_land": spec(
        scan_orc_land, ORACLE_SCAN_LAND, "reference:S2", "beyond",
        doc="land-then-read ORC (columnar twin: pushdown + pruning)",
    ),
    "maintain_compact": spec(
        maintain_compact, ORACLE_SCAN_LAND, "beyond",
        doc="small-file compaction (64 -> 4 files, narrow coalesce)",
    ),
    "scan_schema_evolution": spec(
        scan_schema_evolution, ORACLE_SCAN_SCHEMA_EVOLUTION, "beyond",
        doc="mergeSchema read across generations w/ added column",
    ),
    "scan_manifest_log": spec(
        scan_manifest_log, ORACLE_SCAN_MANIFEST_LOG, "beyond",
        doc="manifest/log-head scan: snapshot isolation, uncommitted "
            "files invisible",
    ),
}
