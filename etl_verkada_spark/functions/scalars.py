"""Scalar functions (reference F1–F9 + the standard engine surface).

The reference's scalar computations (string templates, casts, JSON
stringify, joins/concats, integer arithmetic, comparisons, URL assembly,
epoch ints — task.ts citations in SURVEY.md §2.8) all map to built-in
``pyspark.sql.functions`` — JVM-side, whole-stage-codegen'd, never
Python. The families below exercise each group over the testdata; the
``udf_pandas`` entry demonstrates the sanctioned slow path (Arrow-
vectorized pandas UDF) and is deliberately arithmetic-only so the oracle
can check it exactly.

Determinism notes: transcendental functions (ln) can differ in the last
ulp between libm implementations, so they are rounded to 6 decimals;
sqrt/abs/floor/ceil are IEEE-exact and left alone.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..catalog import sql, table
from ..registry import spec, sql_spec


def fx_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2/F4: templates, casts, concat/join, substring, case."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.upper(F.substring("text", 1, 10)).alias("head_u"),
        F.length("text").alias("len"),
        F.concat_ws("-", "lang", "source").alias("tag"),
        F.format_string("doc:%05d", "doc_id").alias("doc_url"),
        F.size(F.split("text", " ")).alias("n_tok"),
    )


ORACLE_FX_STRING = """
SELECT
  doc_id,
  UPPER(SUBSTRING(text, 1, 10)) AS head_u,
  LENGTH(text)                  AS len,
  lang || '-' || source         AS tag,
  printf('doc:%05d', doc_id)    AS doc_url,
  LEN(string_split(text, ' '))  AS n_tok
FROM documents
"""


def fx_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9: epoch/time functions — extract, trunc, day arithmetic."""
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.unix_micros(
            F.date_trunc("month", "o_orderdate").cast("timestamp")
        ).alias("month_start_us"),
        F.datediff(
            F.lit("1998-12-31").cast("date"), F.col("o_orderdate").cast("date")
        ).alias("days_to_eoy"),
    )


ORACLE_FX_DATE = """
SELECT
  o_orderkey,
  CAST(YEAR(o_orderdate) AS INTEGER)  AS yr,
  CAST(MONTH(o_orderdate) AS INTEGER) AS mo,
  CAST(DAY(o_orderdate) AS INTEGER)   AS dom,
  epoch_us(date_trunc('month', o_orderdate)) AS month_start_us,
  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS INTEGER) AS days_to_eoy
FROM orders
"""


# The discounted price is an exact decimal product (price has 2 true
# decimals), unrounded: ROUND(double, 2) would hit .5 boundaries where
# engines disagree.
ORACLE_FX_MATH = """
SELECT
  l_orderkey,
  l_linenumber,
  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(0.9 AS DECIMAL(2,1)) AS DOUBLE) AS discounted,
  ABS(l_discount - 0.05)            AS disc_dev,
  CAST(FLOOR(l_quantity) AS BIGINT) AS qty_floor,
  CAST(CEIL(l_quantity) AS BIGINT)  AS qty_ceil,
  SQRT(l_extendedprice)             AS price_sqrt,
  ROUND(LN(l_quantity + 1.0), 6)    AS qty_ln6
FROM lineitem
"""


def fx_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array functions over the embedding column (explode-free stats)."""
    e = table(spark, sf_dir, "embeddings")
    as_double = F.transform("embedding", lambda x: x.cast("double"))
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.col("embedding")[0].cast("double").alias("first_v"),
        F.array_max(as_double).alias("max_v"),
        F.array_min(as_double).alias("min_v"),
    )


ORACLE_FX_ARRAY = """
SELECT
  vec_id,
  LEN(embedding)                   AS dim,
  CAST(embedding[1] AS DOUBLE)     AS first_v,
  list_max(CAST(embedding AS DOUBLE[])) AS max_v,
  list_min(CAST(embedding AS DOUBLE[])) AS min_v
FROM embeddings
"""


def fx_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: JSON extract + JSON assembly (to_json of a struct)."""
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
        F.to_json(
            F.struct(
                F.col("event_id").alias("id"), F.col("event_type").alias("t")
            )
        ).alias("payload"),
    )


ORACLE_FX_JSON = """
SELECT
  event_id,
  CAST(props->>'$.k' AS INTEGER) AS k,
  '{"id":' || CAST(event_id AS VARCHAR) || ',"t":"' || event_type || '"}' AS payload
FROM events
"""


def _disc_price_pandas():
    # Defined lazily: pandas_udf registration needs an active session.
    @pandas_udf("double")
    def disc_price(price: pd.Series, discount: pd.Series) -> pd.Series:
        # Arrow-vectorized: numpy elementwise, identical IEEE semantics to
        # the JVM expression — deterministic and oracle-exact.
        return price * (1.0 - discount)

    return disc_price


def udf_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10: vectorized scalar pandas UDF (the sanctioned Python path).

    Row-at-a-time Python UDFs are banned in hot paths; this is the
    Arrow-batched form, ~10-100x faster, used only where JVM builtins
    can't express the logic (here they could — the point is the harness).
    """
    li = sql(
        spark,
        sf_dir,
        "SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount"
        " FROM lineitem",
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        _disc_price_pandas()("l_extendedprice", "l_discount").alias("disc_price"),
    )


ORACLE_UDF_PANDAS = """
SELECT
  l_orderkey,
  l_linenumber,
  l_extendedprice * (1.0 - l_discount) AS disc_price
FROM lineitem
"""


def fx_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference: map-typed columns — build, extract, interrogate.

    The reference embeds the whole camera record as an open object
    (`metadata: camera`, task.ts:186); the engine models open-schema
    payloads as MapType when keys vary per row (structs when fixed —
    SURVEY §1.2). The oracle compares scalar EXTRACTS, not the map value
    itself: map iteration order is engine-specific, so a map column can
    never be in a hash-compared result (same rule as sketches).
    """
    n = table(spark, sf_dir, "nation")
    m = F.create_map(
        F.lit("name"), F.col("n_name"),
        F.lit("region"), F.col("n_regionkey").cast("string"),
    )
    return n.select(
        "n_nationkey",
        F.element_at(m, "name").alias("name_v"),
        F.element_at(m, "region").alias("region_v"),
        F.size(m).alias("n_keys"),
        F.array_contains(F.map_keys(m), "region").alias("has_region"),
    )


ORACLE_FX_MAP = """
SELECT
  n_nationkey,
  map_extract(MAP {'name': n_name, 'region': CAST(n_regionkey AS VARCHAR)},
              'name')[1] AS name_v,
  map_extract(MAP {'name': n_name, 'region': CAST(n_regionkey AS VARCHAR)},
              'region')[1] AS region_v,
  cardinality(MAP {'name': n_name,
                   'region': CAST(n_regionkey AS VARCHAR)}) AS n_keys,
  list_contains(map_keys(MAP {'name': n_name,
                              'region': CAST(n_regionkey AS VARCHAR)}),
                'region') AS has_region
FROM nation
"""


def fx_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference: regex family — extract / replace / match /
    count. RE2-compatible patterns only (no backrefs/lookaround), so the
    same pattern means the same thing in Spark (Java regex), DuckDB
    (RE2), and any pushdown target."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_extract("text", r"\b(\w+)\b", 1).alias("first_word"),
        F.regexp_replace("text", r"\s+", "_").alias("snake"),
        F.col("text").rlike(r"\bquery\b").alias("mentions_query"),
        F.size(F.split("text", r"\bthe\b", -1)).alias("n_the_splits"),
    )


ORACLE_FX_REGEX = """
SELECT
  doc_id,
  regexp_extract(text, '\\b(\\w+)\\b', 1)      AS first_word,
  regexp_replace(text, '\\s+', '_', 'g')       AS snake,
  regexp_matches(text, '\\bquery\\b')          AS mentions_query,
  LEN(regexp_split_to_array(text, '\\bthe\\b')) AS n_the_splits
FROM documents
"""


# The null-propagation contract of the conditional family is the part
# worth pinning cross-engine.
ORACLE_FX_COND = """
SELECT
  o_orderkey,
  COALESCE(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END, -1.0)
    AS final_price,
  LEAST(o_orderkey, o_custkey)    AS min_key,
  GREATEST(o_orderkey, o_custkey) AS max_key,
  NULLIF(o_totalprice, 0.0) IS NULL AS zero_price
FROM orders
"""


def fx_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference: cryptographic/content hashes — md5, sha1,
    sha256. These are SPECIFIED functions (identical bytes -> identical
    digest in every engine), unlike xxhash64/hash whose seeds are
    engine-private — the distinction that decides which hash can key a
    cross-system dedup (llm_dedup_exact uses md5 for exactly this
    reason)."""
    d = table(spark, sf_dir, "documents")
    md5 = F.md5(F.col("text"))
    return d.select(
        "doc_id",
        md5.alias("md5_hex"),
        F.sha2(F.col("text"), 256).alias("sha256_hex"),
        # hash-sharding: the digest's first byte is the shard key every
        # engine agrees on (the cross-system partitioner)
        F.substring(md5, 1, 2).alias("shard_hex"),
    )


ORACLE_FX_HASH = """
SELECT
  doc_id,
  md5(text)              AS md5_hex,
  sha256(text)           AS sha256_hex,
  substr(md5(text), 1, 2) AS shard_hex
FROM documents
"""


def fx_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-family extension: the bitwise scalar surface (AND/OR/XOR,
    shifts, popcount) — the primitives behind bitmap aggregation
    (agg_bitmap_distinct), bloom membership and flag-word decoding,
    exercised per row so the codegen path is pinned.

    Everything is BIGINT-exact; the signed shiftleft at high bits wraps
    identically under two's complement in both engines when the operand
    width matches (bits kept below 62 here so the DuckDB BIGINT shift
    never overflows its checked range).
    """
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr("l_orderkey & l_partkey").alias("b_and"),
        F.expr("l_orderkey | l_partkey").alias("b_or"),
        F.expr("l_orderkey ^ l_partkey").alias("b_xor"),
        F.expr("shiftleft(l_linenumber, 4)").cast("long").alias("b_shl"),
        F.expr("shiftright(l_orderkey, 3)").alias("b_shr"),
        F.expr("bit_count(l_orderkey)").cast("int").alias("b_pop"),
        F.expr("~l_suppkey").alias("b_not"),
    )


ORACLE_FX_BITWISE = """
SELECT
  l_orderkey,
  l_linenumber,
  l_orderkey & l_partkey AS b_and,
  l_orderkey | l_partkey AS b_or,
  xor(l_orderkey, l_partkey) AS b_xor,
  CAST(l_linenumber << 4 AS BIGINT) AS b_shl,
  l_orderkey >> 3 AS b_shr,
  CAST(bit_count(l_orderkey) AS INTEGER) AS b_pop,
  ~l_suppkey AS b_not
FROM lineitem
"""


QUERIES = {
    "fx_string": spec(
        fx_string, ORACLE_FX_STRING, "reference:F1", "reference:F2", "reference:F4",
        doc="string templates/casts/concat, task.ts:97,146,183-185",
    ),
    "fx_date": spec(
        fx_date, ORACLE_FX_DATE, "reference:F9",
        doc="time extraction/truncation/day arithmetic, task.ts:51,55",
    ),
    "fx_math": sql_spec(
        ORACLE_FX_MATH, "reference:F5", "reference:F6",
        doc="arithmetic/rounding/IEEE math, task.ts:126-127",
    ),
    "fx_array": spec(
        fx_array, ORACLE_FX_ARRAY, "beyond",
        doc="array functions over embeddings",
    ),
    "fx_json": spec(
        fx_json, ORACLE_FX_JSON, "reference:F3",
        doc="JSON extract + to_json(struct), task.ts:235,256",
    ),
    "fx_map": spec(
        fx_map, ORACLE_FX_MAP, "beyond",
        doc="map-typed columns: build/extract/keys (open-schema payloads)",
    ),
    "fx_regex": spec(
        fx_regex, ORACLE_FX_REGEX, "beyond",
        doc="regex extract/replace/match/split (RE2-compatible subset)",
    ),
    "fx_cond": sql_spec(
        ORACLE_FX_COND, "beyond",
        doc="conditional/null family: coalesce/nullif/least/greatest",
    ),
    "fx_hash": spec(
        fx_hash, ORACLE_FX_HASH, "beyond",
        doc="specified content hashes (md5/sha256/crc32) for cross-engine keys",
    ),
    "fx_bitwise": spec(
        fx_bitwise, ORACLE_FX_BITWISE, "beyond",
        doc="bitwise scalar surface: and/or/xor/shifts/popcount/not",
    ),
    "udf_pandas": spec(
        udf_pandas, ORACLE_UDF_PANDAS, "beyond",
        doc="Arrow-vectorized scalar pandas UDF",
    ),
}
