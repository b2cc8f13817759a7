"""Geospatial binning over the feature surface (SURVEY.md §2 P1/S8
adjacent — the reference's domain is GeoJSON/CoT features with
lat/lon/course, task.ts:190-226; this is the density rollup a map tile
layer runs over those features).

Grid binning IS the scalable spatial strategy on Spark: a geohash-like
integer cell id turns proximity queries into equi-joins/group-bys
(the same banding trick as join_range_banded, in two dimensions). No
geometry library needed for rectangular cells — and the cell id is
pure integer arithmetic, so the oracle matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import spec, sql_spec
from .aggregates import scaled_long, unscale

GEO_CELL_DEG = 5  # 5-degree cells


def geo_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Camera density per 5-degree grid cell.

    Reuses the flagship's camera projection (customer -> camera with
    location_lat = nationkey, location_lon = acctbal/100, both exact in
    cents). Cell ids floor-divide the CENTS form, so boundary
    coordinates land deterministically (float floor(lon/5) puts
    -0.004999... in the wrong cell when the double dips a hair under
    the edge). One mergeable aggregate; output is grid-sized.
    """
    c = table(spark, sf_dir, "customer")
    cams = c.select(
        F.col("c_nationkey").cast("long").alias("lat_c"),
        scaled_long("c_acctbal").alias("lon_c"),  # acctbal/100 deg, in e-4 deg
        (F.col("c_acctbal") / F.lit(100.0)).alias("lon"),
    )
    # lon cents: acctbal is <=2-decimal dollars; lon = acctbal/100 =>
    # 4-decimal degrees; scaled_long(acctbal) is already lon * 1e4.
    # acctbal can be NEGATIVE, and integer division of negatives is
    # engine-divergent (Spark `div` truncates toward zero, floor
    # semantics differ) — so shift into positive range, divide, shift
    # the CELL id back: floor == truncate on positives in both engines.
    cell_deg_e4 = GEO_CELL_DEG * 10_000
    lon_shift_cells = 200  # covers lon >= -1000 deg, far below min acctbal
    binned = cams.select(
        F.col("lat_c").alias("lat"),  # integer degrees already
        (
            F.expr(
                f"(lon_c + {lon_shift_cells * cell_deg_e4})"
                f" div {cell_deg_e4}"
            )
            - F.lit(lon_shift_cells)
        ).alias("cell_x"),
        F.expr(f"lat_c div {GEO_CELL_DEG}").alias("cell_y"),
        "lon",
    )
    return (
        binned.groupBy("cell_x", "cell_y")
        .agg(
            F.count(F.lit(1)).alias("n_cameras"),
            F.min("lat").alias("min_lat"),
            F.max("lat").alias("max_lat"),
            unscale(F.sum(scaled_long(F.col("lon"), 4)), 4).alias(
                "sum_lon"
            ),
        )
    )


ORACLE_GEO_DENSITY = """
WITH cams AS (
  SELECT
    CAST(c_nationkey AS BIGINT) AS lat,
    CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS lon_c,
    c_acctbal / 100.0 AS lon
  FROM customer
),
binned AS (
  SELECT
    lat,
    (lon_c + 10000000) // 50000 - 200 AS cell_x,
    lat // 5 AS cell_y,
    lon
  FROM cams
)
SELECT
  cell_x,
  cell_y,
  COUNT(*) AS n_cameras,
  MIN(lat) AS min_lat,
  MAX(lat) AS max_lat,
  CAST(CAST(SUM(CAST(FLOOR(lon * 10000 + 0.5) AS BIGINT)) AS DECIMAL(38,0))
       / 10000 AS DOUBLE) AS sum_lon
FROM binned
GROUP BY cell_x, cell_y
"""


GEO_KNN_RADIUS_DEG = 5  # search radius == cell size: 3x3 block suffices
_CELL_E4 = GEO_KNN_RADIUS_DEG * 10_000
_R2_E4 = _CELL_E4 * _CELL_E4
_LON_SHIFT_CELLS = 200  # same negative-floor shift as geo_density


def geo_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest site (supplier) within GEO_KNN_RADIUS_DEG of each camera
    (customer) — the radius-bounded nearest-neighbor join behind
    "attach every camera to its closest gateway".

    Grid blocking with cell size == radius makes the 3x3 neighborhood a
    PROOF, not a heuristic: euclidean distance <= R bounds each axis
    delta by R, i.e. by one cell. The small side (sites) is exploded x9
    into its neighbor cells and broadcast; the probe side joins on its
    own cell id — the big side never fans out, never shuffles (the
    join_range_banded trick in two dimensions). The winner per camera
    is one mergeable min(struct(d2, site)) aggregate.

    All coordinates are e-4-degree integers (the geo_density scaling),
    so distances are exact BIGINTs and the (d2, suppkey) tie-break is
    total — the oracle brute-forces all pairs and must agree
    bit-for-bit. Cameras with no site in radius drop (inner semantics).
    """
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    shift = _LON_SHIFT_CELLS * _CELL_E4

    def _pts(df: DataFrame, key: str, nat: str, bal: str) -> DataFrame:
        return df.select(
            F.col(key).alias(f"{key}"),
            (F.col(nat).cast("long") * 10_000).alias("lat_e4"),
            scaled_long(F.col(bal)).alias("lon_e4"),
        ).select(
            key,
            "lat_e4",
            "lon_e4",
            F.expr(f"(lon_e4 + {shift}) div {_CELL_E4}").alias("cx"),
            F.expr(f"(lat_e4 + {shift}) div {_CELL_E4}").alias("cy"),
        )

    cams = _pts(c, "c_custkey", "c_nationkey", "c_acctbal")
    sites = (
        _pts(s, "s_suppkey", "s_nationkey", "s_acctbal")
        .select(
            F.col("s_suppkey"),
            F.col("lat_e4").alias("s_lat"),
            F.col("lon_e4").alias("s_lon"),
            "cx",
            "cy",
            F.explode(F.sequence(F.lit(-1), F.lit(1))).alias("dx"),
        )
        .select(
            "s_suppkey",
            "s_lat",
            "s_lon",
            (F.col("cx") + F.col("dx")).alias("scx"),
            "cy",
            F.explode(F.sequence(F.lit(-1), F.lit(1))).alias("dy"),
        )
        .select(
            "s_suppkey",
            "s_lat",
            "s_lon",
            "scx",
            (F.col("cy") + F.col("dy")).alias("scy"),
        )
    )
    d2 = (
        (F.col("lat_e4") - F.col("s_lat")) * (F.col("lat_e4") - F.col("s_lat"))
        + (F.col("lon_e4") - F.col("s_lon"))
        * (F.col("lon_e4") - F.col("s_lon"))
    )
    cand = (
        cams.join(
            F.broadcast(sites),
            (F.col("cx") == F.col("scx")) & (F.col("cy") == F.col("scy")),
        )
        .select("c_custkey", "s_suppkey", d2.alias("d2"))
        .filter(F.col("d2") <= _R2_E4)
    )
    best = cand.groupBy("c_custkey").agg(
        F.min(F.struct("d2", "s_suppkey")).alias("b")
    )
    return best.select(
        "c_custkey",
        F.col("b.s_suppkey").alias("s_suppkey"),
        F.col("b.d2").alias("d2_e8"),
    )


ORACLE_GEO_KNN = f"""
WITH cams AS (
  SELECT c_custkey,
    CAST(c_nationkey AS BIGINT) * 10000 AS lat_e4,
    CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS lon_e4
  FROM customer
),
sites AS (
  SELECT s_suppkey,
    CAST(s_nationkey AS BIGINT) * 10000 AS lat_e4,
    CAST(FLOOR(s_acctbal * 100 + 0.5) AS BIGINT) AS lon_e4
  FROM supplier
),
pairs AS (
  SELECT c.c_custkey, s.s_suppkey,
    (c.lat_e4 - s.lat_e4) * (c.lat_e4 - s.lat_e4)
      + (c.lon_e4 - s.lon_e4) * (c.lon_e4 - s.lon_e4) AS d2
  FROM cams c CROSS JOIN sites s
),
best AS (
  SELECT c_custkey, MIN({{'d2': d2, 's': s_suppkey}}) AS b
  FROM pairs
  WHERE d2 <= {_R2_E4}
  GROUP BY c_custkey
)
SELECT c_custkey, b.s AS s_suppkey, b.d2 AS d2_e8 FROM best
"""


#: fence half-padding around each nation's supplier bounding box, e-4 deg
_FENCE_PAD_E4 = 10_000  # 1 degree


# Containment join: cameras (customers) inside per-nation geofences, the
# "which cameras are covered by site S's zone" lookup behind the
# reference's region-scoped feature pulls. Fences are built by
# aggregation (each nation's supplier bounding box, padded 1 degree),
# NOT read from a table: the fence set is an AGGREGATE of the small
# dimension, so it is provably tiny, and the BROADCAST hint makes the
# containment join a broadcast nested-loop with a range predicate: the
# 100-TB camera side never shuffles and never fans out. A camera can
# sit in several overlapping fences (inner join semantics, one row per
# (camera, fence) hit), which is why the output aggregates per fence.
# Coordinates are the shared e-4-degree integers (geo_density's
# scaling), so containment is exact in both engines.
ORACLE_GEO_GEOFENCE = f"""
WITH fences AS (
  SELECT
    s_nationkey AS fence_id,
    MIN(CAST(s_nationkey AS BIGINT) * 10000) - {_FENCE_PAD_E4} AS lat_lo,
    MAX(CAST(s_nationkey AS BIGINT) * 10000) + {_FENCE_PAD_E4} AS lat_hi,
    MIN(CAST(FLOOR(s_acctbal * 100 + 0.5) AS BIGINT)) - {_FENCE_PAD_E4}
      AS lon_lo,
    MAX(CAST(FLOOR(s_acctbal * 100 + 0.5) AS BIGINT)) + {_FENCE_PAD_E4}
      AS lon_hi
  FROM supplier GROUP BY s_nationkey
),
cams AS (
  SELECT
    c_custkey,
    CAST(c_nationkey AS BIGINT) * 10000 AS lat_e4,
    CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS lon_e4
  FROM customer
)
SELECT /*+ BROADCAST(fences) */
  fence_id,
  COUNT(*) AS n_cameras,
  MIN(c_custkey) AS min_custkey,
  CAST(SUM(lon_e4) AS BIGINT) AS sum_lon_e4
FROM cams JOIN fences
  ON lat_e4 BETWEEN lat_lo AND lat_hi
 AND lon_e4 BETWEEN lon_lo AND lon_hi
GROUP BY fence_id
"""


#: DBSCAN radius (e-4 degrees) and density threshold. Cell size == eps
#: so the 3x3 neighborhood is a proof (the geo_knn argument). minPts
#: counts the point itself, the textbook convention.
DBSCAN_EPS_E4 = 5_000
DBSCAN_MINPTS = 3


def geo_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-blocked DBSCAN over the camera surface: density clusters
    with core/border/noise labels — the spatial clustering every
    fleet/coverage analysis reaches for, and a flagship example of an
    operator a SQL engine cannot express but a composition of this
    repo's primitives can.

    Decomposition (every stage scalable on its own terms):

    1. eps-neighbor pairs by 3x3 grid blocking (cell == eps, so the
       neighborhood is exact — the geo_knn proof): a cell-keyed
       equi-join; per-cell work is density-bounded, never all-pairs;
    2. neighbor COUNTS (self included) -> core points
       (>= {DBSCAN_MINPTS});
    3. core-core eps edges -> :func:`connected_components`
       (llm/dedup.py's min-label propagation) -> cluster roots;
       isolated cores root to themselves;
    4. border points (non-core with >= 1 core neighbor) attach to the
       MINIMUM core root in range — the deterministic resolution of
       classic DBSCAN's order-dependent border tie; everything else is
       noise.

    All distances are exact e-4-degree BIGINTs, the min-label CC is
    order-independent, and the border rule is a pure min — so the
    whole labeling is deterministic and the DuckDB oracle (brute-force
    pairs + WITH RECURSIVE min-root reachability) must agree
    bit-for-bit.

    At 100 TB: stage 1 shuffles on cell ids (AQE-splittable, skew =
    spatial hotspots, the known DBSCAN regime); CC rounds are bounded
    by cluster diameter; nothing materializes all-pairs. Reference
    scope: beyond (the reference emits point features, task.ts:190-226;
    clustering them is the downstream analytics this engine adds).
    """
    from ..llm.dedup import connected_components

    eps2 = DBSCAN_EPS_E4 * DBSCAN_EPS_E4
    shift = _LON_SHIFT_CELLS * DBSCAN_EPS_E4
    c = table(spark, sf_dir, "customer")
    pts = c.select(
        F.col("c_custkey").alias("id"),
        (F.col("c_nationkey").cast("long") * 10_000).alias("lat"),
        scaled_long("c_acctbal").alias("lon"),
    ).select(
        "id",
        "lat",
        "lon",
        F.expr(f"(lon + {shift}) div {DBSCAN_EPS_E4}").alias("cx"),
        F.expr(f"(lat + {shift}) div {DBSCAN_EPS_E4}").alias("cy"),
    )
    nbr9 = (
        pts.select(
            F.col("id").alias("nid"),
            F.col("lat").alias("nlat"),
            F.col("lon").alias("nlon"),
            "cx",
            "cy",
            F.explode(F.sequence(F.lit(-1), F.lit(1))).alias("dx"),
        )
        .select(
            "nid", "nlat", "nlon",
            (F.col("cx") + F.col("dx")).alias("ncx"),
            "cy",
            F.explode(F.sequence(F.lit(-1), F.lit(1))).alias("dy"),
        )
        .select(
            "nid", "nlat", "nlon", "ncx",
            (F.col("cy") + F.col("dy")).alias("ncy"),
        )
    )
    d2 = (
        (F.col("lat") - F.col("nlat")) * (F.col("lat") - F.col("nlat"))
        + (F.col("lon") - F.col("nlon")) * (F.col("lon") - F.col("nlon"))
    )
    pairs = (
        pts.join(
            nbr9,
            (F.col("cx") == F.col("ncx")) & (F.col("cy") == F.col("ncy")),
        )
        .select("id", "nid", d2.alias("d2"))
        .filter(F.col("d2") <= eps2)
    )
    cores = (
        pairs.groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_nbr"))
        .filter(F.col("n_nbr") >= DBSCAN_MINPTS)
        .select("id")
    )
    core_edges = (
        pairs.filter(F.col("id") < F.col("nid"))
        .join(cores, "id")
        .join(cores.select(F.col("id").alias("nid")), "nid")
        .select(F.col("id").alias("doc_a"), F.col("nid").alias("doc_b"))
    )
    cc = connected_components(core_edges).select(
        F.col("doc_id").alias("id"), F.col("cluster_root").alias("root")
    )
    core_roots = cores.join(cc, "id", "left").select(
        "id", F.coalesce("root", "id").alias("root")
    )
    border = (
        pairs.filter(F.col("id") != F.col("nid"))
        .join(cores, "id", "left_anti")
        .join(
            core_roots.select(
                F.col("id").alias("nid"), F.col("root").alias("nroot")
            ),
            "nid",
        )
        .groupBy("id")
        .agg(F.min("nroot").alias("root"))
    )
    labeled = core_roots.select(
        "id", F.lit("core").alias("label"), "root"
    ).unionByName(
        border.select("id", F.lit("border").alias("label"), "root")
    )
    return (
        pts.select("id")
        .join(labeled, "id", "left")
        .select(
            F.col("id").alias("c_custkey"),
            F.coalesce("label", F.lit("noise")).alias("label"),
            F.col("root").alias("cluster_root"),
        )
    )


ORACLE_GEO_DBSCAN = f"""
WITH RECURSIVE p AS (
  SELECT c_custkey AS id,
         CAST(c_nationkey AS BIGINT) * 10000 AS lat,
         CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS lon
  FROM customer
),
d AS (
  SELECT a.id AS ida, b.id AS idb
  FROM p a JOIN p b
    ON (a.lat - b.lat) * (a.lat - b.lat)
     + (a.lon - b.lon) * (a.lon - b.lon)
       <= {DBSCAN_EPS_E4 * DBSCAN_EPS_E4}
),
core AS (
  SELECT ida AS id FROM d GROUP BY ida
  HAVING COUNT(*) >= {DBSCAN_MINPTS}
),
e AS (
  SELECT d.ida AS a, d.idb AS b
  FROM d
  JOIN core ca ON ca.id = d.ida
  JOIN core cb ON cb.id = d.idb
  WHERE d.ida <> d.idb
),
reach(node, root) AS (
  SELECT id, id FROM core
  UNION
  SELECT e.b, r.root FROM reach r JOIN e ON e.a = r.node
),
roots AS (
  SELECT node AS id, MIN(root) AS root FROM reach GROUP BY node
),
border AS (
  SELECT d.ida AS id, MIN(r.root) AS root
  FROM d
  JOIN roots r ON r.id = d.idb
  WHERE d.ida <> d.idb
    AND d.ida NOT IN (SELECT id FROM core)
  GROUP BY d.ida
)
SELECT
  p.id AS c_custkey,
  CASE WHEN r.id IS NOT NULL THEN 'core'
       WHEN b.id IS NOT NULL THEN 'border'
       ELSE 'noise' END AS label,
  COALESCE(r.root, b.root) AS cluster_root
FROM p
LEFT JOIN roots r ON r.id = p.id
LEFT JOIN border b ON b.id = p.id
"""


QUERIES = {
    "geo_density": spec(
        geo_density, ORACLE_GEO_DENSITY, "beyond",
        doc="5-degree grid density of cameras (integer-exact cell ids)",
    ),
    "geo_knn": spec(
        geo_knn, ORACLE_GEO_KNN, "beyond",
        doc="radius-bounded nearest-site join via 3x3 grid blocking",
    ),
    "geo_geofence_join": sql_spec(
        ORACLE_GEO_GEOFENCE, "beyond",
        doc="point-in-fence containment join (aggregated broadcast "
            "fences, exact integer bounds)",
    ),
    "geo_dbscan": spec(
        geo_dbscan, ORACLE_GEO_DBSCAN, "beyond",
        doc="grid-blocked DBSCAN: core/border/noise labels + min-label "
            "CC clusters (oracle: brute force + WITH RECURSIVE)",
    ),
}
