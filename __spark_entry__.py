"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

Design (SURVEY.md §5.2.2): the driver's tables are TPC-H-ish plus a FLAT
``documents`` table (doc_id:int64, text, ...) — NOT the engine's spans
schema.  So the OSM-ish attributes (street, postcode, user, kind, lat/lon)
are DERIVED deterministically from ``doc_id`` by integer arithmetic that
both Spark SQL and DuckDB evaluate identically (`_DERIVED_SQL`, one shared
text).  The Spark side of each audit query then applies the *engine
operators* (osmspark.operators.*) on that derived view; the oracle side is
plain DuckDB SQL over the same derivation.  Column names are aliased
identically on both sides.

Engine ops whose math has no independent SQL twin (cell indexes,
minhash/simhash, Arrow-UDF features) are checked against COMMITTED GOLDEN
regression parquet (tests/golden/, regenerated by tools/make_golden.py and
cross-read by DuckDB); their independent correctness gate is the pytest
suite (tests/).  As of round 2 every queries() entry has either a shared
or independent SQL oracle or a golden — zero rows-only checks.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osmspark.config import SQL_PROBLEMCHARS

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def _register(spark: SparkSession, sf_dir: str, tables=None) -> None:
    for t in tables or TABLES:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)


# ---------------------------------------------------------------------------
# Shared deterministic derivation (runs verbatim on Spark SQL *and* DuckDB).
# Integer arithmetic only -> bit-identical across engines.
# ---------------------------------------------------------------------------
_STREETS = [
    "Serangoon Road", "Orchard Rd", "Tampines St", "Bedok St.",
    "Clementi Street", "Yishun Ave", "Punggol Avenue", "Sengkang Dr",
    "Holland Drive", "Thomson Blvd", "Changi Boulevard", "Geylang Ln",
    "Kallang Lane", "Marina Cres", "Beach Crescent", "River Valley Ter",
    "Mount Faber Terrace", "Keppel Walk", "Labrador Link", "Sentosa Ct",
    "Jalan Besar", "Jln Ahmad Ibrahim", "Lorong Chuan", "Lor 24 Geylang",
]

_AMENITIES = ["restaurant", "cafe", "school", "bank", "atm", "parking",
              "place_of_worship", "hospital", "fuel", "police"]

_KEYS = ["amenity", "addr:street", "addr:postcode", "name", "highway",
         "bad key", "FIXME", "addr:street:name", "name.zh", "shop"]

_CUISINES = ["chinese", "malay", "indian", "japanese", "korean", "thai",
             "italian", "seafood"]

_EN_STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]


def _case_pick(expr: str, values: list[str]) -> str:
    whens = " ".join(
        f"WHEN {i} THEN '{v}'" for i, v in enumerate(values)
    )
    return f"CASE (({expr}) % {len(values)}) {whens} END"


# one CTE chain, shared by both engines (appended before each query body)
_DERIVED_SQL = f"""
WITH base AS (
  SELECT doc_id AS d,
         ((doc_id * 7919) + 777) % 2147483647 AS h1
  FROM documents
), hashed AS (
  SELECT d, h1,
         (h1 * 48271) % 2147483647 AS h2,
         ((h1 * 48271) % 2147483647 * 16807) % 2147483647 AS h3
  FROM base
), attrs AS (
  SELECT d, h1, h2, h3,
    CASE WHEN (h1 % 100) < 60 THEN 'node'
         WHEN (h1 % 100) < 75 THEN 'way'
         WHEN (h1 % 100) < 90 THEN 'text'
         ELSE 'media' END AS kind,
    {_case_pick('d * 7 + 3', _STREETS)} AS street_raw,
    CASE WHEN (d % 20) = 0
           THEN 'S' || lpad(cast((h2 % 10000) as string), 4, '0')
         WHEN (h3 % 100) >= 95
           THEN lpad(cast(79000 + (h2 % 3000) as string), 5, '0')
         ELSE lpad(cast(h2 % 800000 as string), 6, '0') END AS pc_raw,
    CASE WHEN (h2 % 10) < 4 THEN {_case_pick('h3', _AMENITIES)}
         ELSE NULL END AS amenity,
    {_case_pick('h3 + 1', _KEYS)} AS tag_key,
    'user_' || cast(h2 % 20 as string) AS usr,
    cast(h2 % 20 as string) AS uid,
    cast((h3 % 5) + 1 as string) AS version,
    cast(h2 % 99999 as string) AS changeset,
    '2016-' || lpad(cast((h1 % 12) + 1 as string), 2, '0') || '-' ||
      lpad(cast((h2 % 28) + 1 as string), 2, '0') || 'T' ||
      lpad(cast(h3 % 24 as string), 2, '0') || ':' ||
      lpad(cast(h1 % 60 as string), 2, '0') || ':00Z' AS ts_str,
    (h3 % 34000) AS lat_u,
    (h2 % 50000) AS lon_u
  FROM hashed
), derived AS (
  SELECT d, h1, h2, h3, kind, amenity, tag_key, usr, uid, version,
         changeset, ts_str, lat_u, lon_u,
         1.13 + lat_u * 1e-5 AS lat,
         103.6 + lon_u * 1e-5 AS lon,
         CASE WHEN kind = 'node' AND (h1 % 10) < 6 THEN street_raw END AS street,
         CASE WHEN kind = 'node' AND (h1 % 10) < 6 THEN pc_raw END AS pc,
         CASE WHEN amenity IN ('restaurant', 'cafe')
              THEN {_case_pick('h2 + 5', _CUISINES)} END AS cuisine
  FROM attrs
)
"""

# street-type extraction, shared-SQL form (parity with
# osmspark.operators.audit.street_type — verified in tests/tools)
_MALAY_FORMS = "('Jalan','Lorong','Bukit','Taman','Kampong','Lengkok','Jln','Jln.','Lor','Lor.','Bt')"
_STYPE_SQL = (
    "CASE WHEN regexp_extract(street, '^([^ ]+)', 1) IN " + _MALAY_FORMS +
    " THEN regexp_extract(street, '^([^ ]+)', 1)"
    " ELSE regexp_extract(street, '([^ .]+)[.]?$', 1) END"
)


def _mapping_case(expr: str) -> str:
    from osmspark.config import STREET_TYPE_MAPPING
    whens = " ".join(
        f"WHEN '{k}' THEN '{v}'" for k, v in STREET_TYPE_MAPPING.items()
    )
    return f"CASE ({expr}) {whens} ELSE ({expr}) END"


_PC_CLASS_SQL = (
    "CASE WHEN regexp_extract(pc, '^[0-8][0-9]{5}$', 0) <> '' THEN 'valid_sg' "
    "WHEN regexp_extract(pc, '^[0-9]{5}$', 0) <> '' THEN 'out_of_area' "
    "ELSE 'invalid' END"
)

# problemchars class comes from the ONE shared constant (config.py), so the
# engine operator (audit.key_class), the pytest oracle (tests/oracle.py) and
# this shared SQL agree byte-for-byte on the reference tags.py semantics.
_KEYCLASS_SQL = (
    "CASE WHEN regexp_extract(tag_key, '^([a-z]|_)+$', 0) <> '' THEN 'lower' "
    "WHEN regexp_extract(tag_key, '^([a-z]|_)+:([a-z]|_)+$', 0) <> '' THEN 'lower_colon' "
    f"WHEN regexp_extract(tag_key, '{SQL_PROBLEMCHARS}', 0) <> '' THEN 'problemchars' "
    "ELSE 'other' END"
)

# ---------------------------------------------------------------------------
# Shared-SQL queries: the SAME text runs on spark.sql() and DuckDB.
# ---------------------------------------------------------------------------
_SHARED_SQL: dict[str, str] = {
    # A8+A9+A11 [flagship]: street-type normalization counts
    "street_norm_counts": _DERIVED_SQL + f"""
        SELECT {_mapping_case(_STYPE_SQL)} AS normalized_type,
               count(*) AS cnt
        FROM derived WHERE street IS NOT NULL
        GROUP BY 1""",
    # A9+A10: unexpected street types (scalar projections of the example set)
    "unexpected_street_types": _DERIVED_SQL + f"""
        SELECT stype, count(*) AS cnt,
               count(DISTINCT street) AS n_names,
               min(street) AS first_name, max(street) AS last_name
        FROM (SELECT street, {_STYPE_SQL} AS stype
              FROM derived WHERE street IS NOT NULL) t
        WHERE stype NOT IN ('Street','Avenue','Boulevard','Drive','Court',
          'Place','Square','Lane','Road','Trail','Parkway','Commons',
          'Crescent','Close','Terrace','Walk','Link','Park','Green','Grove',
          'Highway','Jalan','Lorong','Bukit','Taman','Kampong','Lengkok')
        GROUP BY stype""",
    # A12: postcode-validity partition
    "postcode_partition": _DERIVED_SQL + f"""
        SELECT {_PC_CLASS_SQL} AS pc_class, count(*) AS cnt
        FROM derived WHERE pc IS NOT NULL GROUP BY 1""",
    # A5: tag-key classification buckets
    "key_class_counts": _DERIVED_SQL + f"""
        SELECT {_KEYCLASS_SQL} AS bucket, count(*) AS cnt
        FROM derived GROUP BY 1""",
    # A4: element/tag-name frequency
    "element_counts": _DERIVED_SQL + """
        SELECT kind, count(*) AS cnt FROM derived GROUP BY kind""",
    # A17 analogues on the events table
    "tag_frequency_events": """
        SELECT event_type AS kind, count(*) AS cnt
        FROM events GROUP BY event_type""",
    # A6: distinct contributors
    "distinct_users": "SELECT count(DISTINCT user_id) AS n_users FROM events",
    # A18: top-k contributors (deterministic tie-break)
    "top_users": """
        SELECT user_id, count(*) AS cnt FROM events
        GROUP BY user_id ORDER BY cnt DESC, user_id ASC LIMIT 10""",
    # A19: histogram of per-user post counts
    "user_post_histogram": """
        SELECT cnt AS n_posts, count(*) AS n_users
        FROM (SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id) t
        GROUP BY cnt""",
    # A20: exists-filter + top-k
    "top_amenities": _DERIVED_SQL + """
        SELECT amenity, count(*) AS cnt FROM derived
        WHERE amenity IS NOT NULL
        GROUP BY amenity ORDER BY cnt DESC, amenity ASC LIMIT 10""",
    # A20b: composed two-tag query — "cuisines of restaurants" notebook
    # aggregation ($match amenity=restaurant -> $group cuisine [R])
    "cuisines_of_restaurants": _DERIVED_SQL + """
        SELECT cuisine, count(*) AS cnt FROM derived
        WHERE amenity = 'restaurant' AND cuisine IS NOT NULL
        GROUP BY cuisine ORDER BY cnt DESC, cuisine ASC""",
    # A2: systematic sampling (every k-th document)
    "sample_every_k": """
        SELECT count(*) AS n_sampled, min(doc_id) AS first_id,
               max(doc_id) AS last_id
        FROM documents WHERE (doc_id % 10) = 0""",
    # A13/A14: shaped `created` sub-document, flat projection
    "shape_created": _DERIVED_SQL + """
        SELECT d AS id, version, changeset, ts_str AS created_ts,
               usr, uid, lat_u, lon_u
        FROM derived WHERE kind = 'node' AND d < 500""",
    # Tier-C demo: TPC-H Q1 pricing summary (integer-stable aggregates)
    "tpch_q1": """
        SELECT l_returnflag, l_linestatus,
               cast(round(sum(l_quantity)) as bigint) AS sum_qty,
               cast(round(sum(l_extendedprice) * 100) as bigint) AS sum_base_price_c,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus""",
    # Tier-C demo: multi-join rollup (customer -> nation -> region)
    "revenue_by_nation": """
        SELECT n.n_name AS nation, count(*) AS n_orders,
               cast(round(sum(o.o_totalprice) * 100) as bigint) AS revenue_c
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name""",
    # Tier-C demo: time rollup on the events stream table
    "events_daily": """
        SELECT cast(ts AS DATE) AS day, event_type,
               count(*) AS cnt,
               cast(round(sum(value) * 100) as bigint) AS value_c
        FROM events GROUP BY 1, 2""",
    # Tier-C: grouping-sets rollup (SURVEY §2.3 "built-in if ever needed")
    "events_rollup": """
        SELECT event_type, cast(ts AS DATE) AS day, count(*) AS cnt
        FROM events GROUP BY ROLLUP(event_type, cast(ts AS DATE))""",
    # Tier-C: anti-join stance (customers with no large orders)
    "customers_without_orders": """
        SELECT c.c_mktsegment AS segment, count(*) AS n_customers
        FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_totalprice > 300000)
        GROUP BY c.c_mktsegment""",
    # Tier-C: window-function stance — per-user running totals in cents
    # (integer accumulation: window-sum association differs across engines
    # for floats, so the value is fixed-pointed first)
    # The OUTER cast matters: DuckDB's sum(BIGINT) returns HUGEINT, which
    # lands in pandas as float64 and breaks the driver's order-insensitive
    # value hash against Spark's int64 ("2817.0" vs "2817") even though
    # every value matches — the round-2 red row.  Casting the window sum
    # back to bigint makes both engines emit int64.
    "events_running_totals": """
        SELECT user_id, event_id,
               cast(sum(cast(round(value * 100) as bigint)) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) as bigint) AS running_value_c
        FROM events WHERE user_id < 50""",
    # dedup: exact duplicate stats over document text
    "exact_dedup_stats": """
        SELECT count(*) AS n_total,
               count(DISTINCT md5(text)) AS n_unique,
               count(*) - count(DISTINCT md5(text)) AS n_dupes
        FROM documents""",
}


# ---------------------------------------------------------------------------
# Engine-backed queries (Spark side = osmspark operators; oracle = DuckDB SQL)
# ---------------------------------------------------------------------------
def _derived_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register(spark, sf_dir, ["documents"])
    return spark.sql(_DERIVED_SQL + "SELECT * FROM derived")


def _points_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived node points (d, lat, lon, lat_u, lon_u)."""
    return _derived_df(spark, sf_dir).filter(F.col("kind") == "node").select(
        "d", "lat", "lon", "lat_u", "lon_u"
    )


# --- B4: PIP join vs rectangle oracle --------------------------------------
# bounds end in ...005 => unreachable by derived coords (multiples of 1e-5):
# no boundary ties, so ray-cast and strict bbox SQL agree exactly.
_RECTS = []
for _i, (_la0, _la1) in enumerate([(1.135005, 1.235005), (1.235005, 1.335005),
                                   (1.335005, 1.435005)]):
    for _j, (_lo0, _lo1) in enumerate([(103.605005, 103.845005),
                                       (103.845005, 104.085005)]):
        _RECTS.append((f"rect-{_i}{_j}", _la0, _la1, _lo0, _lo1))

_RECTS_SQL_VALUES = ", ".join(
    f"('{rid}', {la0}, {la1}, {lo0}, {lo1})"
    for rid, la0, la1, lo0, lo1 in _RECTS
)


def _q_pip_rect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase cell-prefilter + ray-cast PIP join (osmspark B4) counted
    per polygon; the oracle is the equivalent strict-bbox SQL."""
    from osmspark.operators.spatial_join import spatial_join

    pts = _points_df(spark, sf_dir)
    rows = []
    for rid, la0, la1, lo0, lo1 in _RECTS:
        ring = [(la0, lo0), (la0, lo1), (la1, lo1), (la1, lo0), (la0, lo0)]
        rows.append((rid, "zip", [{"lat": a, "lon": o} for a, o in ring], None))
    polys = spark.createDataFrame(
        rows,
        schema="poly_id string, level string, "
               "ring array<struct<lat:double,lon:double>>, postcode string",
    )
    return (
        spatial_join(pts, polys, res=7)
        .groupBy("poly_id")
        .agg(F.count("*").alias("cnt"))
    )


_PIP_ORACLE = _DERIVED_SQL + f"""
    SELECT r.poly_id AS poly_id, count(*) AS cnt
    FROM derived d
    JOIN (VALUES {_RECTS_SQL_VALUES}) AS r(poly_id, la0, la1, lo0, lo1)
      ON d.kind = 'node'
     AND d.lat > r.la0 AND d.lat < r.la1
     AND d.lon > r.lo0 AND d.lon < r.lo1
    GROUP BY r.poly_id"""


def _q_zonal_rect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 two-phase zonal statistics (operators/zonal.py) on the PIP
    rectangles: interior-certified cover cells credit the corpus-wide
    cell aggregate, boundary-cell points ray-cast.  The value column is
    INTEGER-VALUED (d % 1000 as double, nulled every 7th point), so both
    engines' double sums are exact regardless of summation order and
    min/max/mean compare bit-for-bit; membership agrees with the strict
    bbox SQL because the rect bounds sit off the derived coordinate
    lattice (same argument as pip_rect_join)."""
    from osmspark.operators.zonal import zonal_stats

    pts = _points_df(spark, sf_dir).select(
        "lat", "lon",
        F.when(F.pmod(F.col("d"), F.lit(7)) != 0,
               F.pmod(F.col("d"), F.lit(1000)).cast("double")).alias("val"),
    )
    rows = []
    for rid, la0, la1, lo0, lo1 in _RECTS:
        ring = [(la0, lo0), (la0, lo1), (la1, lo1), (la1, lo0), (la0, lo0)]
        rows.append((rid, "zip", [{"lat": a, "lon": o} for a, o in ring], None))
    polys = spark.createDataFrame(
        rows,
        schema="poly_id string, level string, "
               "ring array<struct<lat:double,lon:double>>, postcode string",
    )
    return zonal_stats(pts, polys, value_col="val", res=7)


_ZONAL_ORACLE = _DERIVED_SQL + f"""
    SELECT r.poly_id AS poly_id,
           count(*) AS n_points,
           count(p.val) AS n_values,
           sum(p.val) AS sum_v,
           min(p.val) AS min_v,
           max(p.val) AS max_v,
           sum(p.val) / count(p.val) AS mean_v
    FROM (SELECT lat, lon,
                 CASE WHEN d % 7 <> 0
                      THEN CAST(d % 1000 AS DOUBLE) END AS val
          FROM derived WHERE kind = 'node') p
    JOIN (VALUES {_RECTS_SQL_VALUES}) AS r(poly_id, la0, la1, lo0, lo1)
      ON p.lat > r.la0 AND p.lat < r.la1
     AND p.lon > r.lo0 AND p.lon < r.lo1
    GROUP BY r.poly_id"""


# --- B5: kNN (k-ring operator) vs window-SQL oracle ------------------------
_KNN_QUERIES = [("q0", 1.29, 103.85), ("q1", 1.35, 103.69),
                ("q2", 1.44, 103.79), ("q3", 1.20, 104.05),
                ("q4", 1.46, 103.62)]
_KNN_SQL_VALUES = ", ".join(f"('{q}', {a}, {o})" for q, a, o in _KNN_QUERIES)


def _q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmspark.operators.knn import knn_kring

    pts = _points_df(spark, sf_dir).select(
        F.col("d").cast("string").alias("id"), "lat", "lon"
    )
    qdf = spark.createDataFrame(
        _KNN_QUERIES, "query_id string, lat double, lon double"
    )
    return knn_kring(pts, qdf, k=10, metric="sq_deg").select(
        "query_id", "rank", "point_id"
    )


_KNN_ORACLE = _DERIVED_SQL + f"""
    SELECT query_id, rank, point_id FROM (
      SELECT q.query_id AS query_id,
             cast(d.d as string) AS point_id,
             row_number() OVER (
               PARTITION BY q.query_id
               ORDER BY (d.lat - q.qlat)*(d.lat - q.qlat)
                      + (d.lon - q.qlon)*(d.lon - q.qlon) ASC,
                        cast(d.d as string) ASC
             ) AS rank
      FROM derived d
      JOIN (VALUES {_KNN_SQL_VALUES}) AS q(query_id, qlat, qlon)
        ON d.kind = 'node'
    ) t WHERE rank <= 10"""


# --- B5b: within-distance (radius) join ------------------------------------
# sq_deg metric for the oracle row (like knn_sq_deg): subtract/multiply/add
# only, so both engines compute bit-identical distances.  The radius is
# chosen OFF the attainable distance lattice: derived coords are (integer
# multiples of 1e-5) + constant, so exact squared distances sit on a
# 1e-10-spaced lattice; 0.060005^2 lands 0.25 lattice units (2.5e-11) from
# the nearest attainable value, >> the ~1e-17 float evaluation error (and
# >> the <=1-ulp pow-vs-multiply difference between engines), so the
# membership set is deterministic and identical on both sides.
_RADIUS_DEG = 0.060005


def _q_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmspark.operators.radius_join import within_distance_join

    pts = _points_df(spark, sf_dir).select(
        F.col("d").cast("string").alias("id"), "lat", "lon"
    )
    qdf = spark.createDataFrame(
        _KNN_QUERIES, "query_id string, lat double, lon double"
    )
    return within_distance_join(pts, qdf, _RADIUS_DEG, metric="sq_deg").select(
        "query_id", "point_id"
    )


_RADIUS_ORACLE = _DERIVED_SQL + f"""
    SELECT q.query_id AS query_id, cast(d.d as string) AS point_id
    FROM derived d
    JOIN (VALUES {_KNN_SQL_VALUES}) AS q(query_id, qlat, qlon)
      ON d.kind = 'node'
    WHERE (d.lat - q.qlat)*(d.lat - q.qlat)
        + (d.lon - q.qlon)*(d.lon - q.qlon) <= {_RADIUS_DEG * _RADIUS_DEG!r}"""


# --- B6: integer-grid tiles + sparse raster --------------------------------
def _q_tile_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmspark.operators.tiles import int_tile_counts

    return int_tile_counts(_points_df(spark, sf_dir), cell_deg_u=4000)


_TILE_ORACLE = _DERIVED_SQL + """
    SELECT cast(floor(lon_u / 4000.0) as bigint) AS tile_x,
           cast(floor(lat_u / 4000.0) as bigint) AS tile_y,
           count(*) AS cnt
    FROM derived WHERE kind = 'node'
    GROUP BY 1, 2"""


def _q_tile_raster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 16x16 pixel binning inside integer tiles, as sparse
    (tile, pix, cnt) rows — the hash-comparable tile-assignment surface."""
    pts = _points_df(spark, sf_dir)
    return (
        pts.withColumn("tile_x", F.floor(F.col("lon_u") / F.lit(4000.0)).cast("long"))
        .withColumn("tile_y", F.floor(F.col("lat_u") / F.lit(4000.0)).cast("long"))
        .withColumn(
            "pix",
            (F.floor(F.pmod(F.col("lat_u"), F.lit(4000)) / F.lit(250.0)) * 16
             + F.floor(F.pmod(F.col("lon_u"), F.lit(4000)) / F.lit(250.0))
             ).cast("long"),
        )
        .groupBy("tile_x", "tile_y", "pix")
        .agg(F.count("*").alias("cnt"))
    )


_RASTER_ORACLE = _DERIVED_SQL + """
    SELECT cast(floor(lon_u / 4000.0) as bigint) AS tile_x,
           cast(floor(lat_u / 4000.0) as bigint) AS tile_y,
           cast(floor((lat_u % 4000) / 250.0) * 16
                + floor((lon_u % 4000) / 250.0) as bigint) AS pix,
           count(*) AS cnt
    FROM derived WHERE kind = 'node'
    GROUP BY 1, 2, 3"""


# --- B5c: way geometry (nd-chain length / bbox) ----------------------------
# nd refs are a deterministic lattice over the derived table: way w's j-th
# ref is (h1*131 + j*97) % 500, pointing INTO the doc-id space (docs are
# 0..499 at every sf) so ~60% of refs resolve to derived nodes and the rest
# dangle — exercising the operator's no-bridging contract.  Coordinates are
# bit-identical on both engines (same _DERIVED_SQL text); the only inexact
# value is the haversine fold (JVM vs DuckDB libm differ by ulps), so
# length is compared floored to whole meters: segment error is ~1e-12
# relative on ~1e2 m values, >>9 orders below the boundary.
def _q_way_geometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmspark.operators.geometry import way_geometry

    der = _derived_df(spark, sf_dir)
    jn = (F.pmod(F.col("h3"), F.lit(5)) + F.lit(3)).cast("int")
    ways = der.filter(F.col("kind") == "way").select(
        F.col("d").alias("id"),
        F.transform(
            F.sequence(F.lit(0), jn),
            lambda j: F.format_string(
                "%d", F.pmod(F.col("h1") * F.lit(131) + j * F.lit(97),
                             F.lit(500))),
        ).alias("nd"),
    )
    nodes = der.filter(F.col("kind") == "node").select(
        F.format_string("%d", F.col("d")).alias("id"), "lat", "lon")
    return way_geometry(ways, nodes).select(
        "way_id", "n_refs", "n_resolved",
        F.col("n_segments").cast("long").alias("n_segments"),
        F.floor("length_m").cast("long").alias("length_m_floor"),
        "min_lat", "max_lat", "min_lon", "max_lon")


_WAY_GEOM_ORACLE = _DERIVED_SQL + """
    , w AS (
      SELECT d AS way_id, h1, (h3 % 5) + 3 AS jn
      FROM derived WHERE kind = 'way'
    ), refs AS (
      SELECT w.way_id, gs.j AS seq, ((w.h1 * 131 + gs.j * 97) % 500) AS ref
      FROM w, LATERAL (SELECT unnest(generate_series(0, w.jn)) AS j) gs
    ), resolved AS (
      SELECT r.way_id, r.seq, n.lat, n.lon
      FROM refs r
      LEFT JOIN (SELECT d, lat, lon FROM derived WHERE kind = 'node') n
        ON n.d = r.ref
    ), chains AS (
      SELECT way_id, lat, lon,
             lag(lat) OVER (PARTITION BY way_id ORDER BY seq) AS plat,
             lag(lon) OVER (PARTITION BY way_id ORDER BY seq) AS plon
      FROM resolved
    ), segs AS (
      SELECT way_id, lat, lon,
             CASE WHEN lat IS NOT NULL AND plat IS NOT NULL THEN
               2 * 6371008.8 * asin(sqrt(
                 sin(radians(lat - plat) / 2) * sin(radians(lat - plat) / 2)
                 + cos(radians(plat)) * cos(radians(lat))
                   * sin(radians(lon - plon) / 2)
                   * sin(radians(lon - plon) / 2)))
             END AS seg_m
      FROM chains
    )
    SELECT way_id,
           count(*) AS n_refs,
           count(lat) AS n_resolved,
           count(seg_m) AS n_segments,
           cast(floor(coalesce(sum(seg_m), 0)) as bigint) AS length_m_floor,
           min(lat) AS min_lat, max(lat) AS max_lat,
           min(lon) AS min_lon, max(lon) AS max_lon
    FROM segs GROUP BY way_id"""


# --- as-of temporal join vs DuckDB's NATIVE ASOF JOIN ----------------------
# A genuinely independent engine oracle (DuckDB ships ASOF JOIN as a
# first-class operator).  The right side is deduplicated to one row per
# (user_id, ts) so the match is tie-free; values pass through with no
# arithmetic, so doubles compare hash-exact.  The Spark side runs the
# range-partitioned merge (range_buckets=8), which pytest pins equal to
# the window path — so this one row gates BOTH execution strategies.
def _q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmspark.operators.temporal import asof_join

    _register(spark, sf_dir, ["events"])
    ev = spark.table("events")
    left = ev.select("event_id", "user_id", "ts", "value")
    right = (
        ev.filter((F.col("event_type") == "click") & F.col("ts").isNotNull())
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("rval"))
    )
    return asof_join(left, right, on="ts", by="user_id",
                     range_buckets=8).select(
        "event_id", "user_id", "ts", "value", "ts_right", "rval_right")


_ASOF_ORACLE = """
    WITH r AS (
      SELECT user_id, ts, max(value) AS rval
      FROM events WHERE event_type = 'click' AND ts IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT l.event_id AS event_id, l.user_id AS user_id, l.ts AS ts,
           l.value AS value, r.ts AS ts_right, r.rval AS rval_right
    FROM events l
    ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts"""


# --- dedup / text / similarity ---------------------------------------------
def _q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmspark.operators.dedup import exact_dedup

    _register(spark, sf_dir, ["documents"])
    docs = spark.table("documents")
    return exact_dedup(docs).select("doc_id", "n_copies")


_EXACT_DEDUP_ORACLE = """
    SELECT min(doc_id) AS doc_id, count(*) AS n_copies
    FROM documents GROUP BY text"""


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmspark.operators.dedup import ngram_jaccard_pairs

    _register(spark, sf_dir, ["documents"])
    docs = spark.table("documents").filter(F.col("doc_id") < 200)
    return ngram_jaccard_pairs(docs, F.col("lang"), n=3)


_NGRAM_ORACLE = """
    WITH t AS (
      SELECT doc_id, lang,
             string_split_regex(lower(trim(text)), '\\s+') AS toks
      FROM documents WHERE doc_id < 200
    ), s AS (
      SELECT doc_id, lang,
             list_distinct(CASE WHEN len(toks) < 3 THEN []
               ELSE [array_to_string(toks[i:i+2], ' ')
                     for i in range(1, len(toks) - 1)] END) AS sh
      FROM t
    )
    SELECT l.doc_id AS a, r.doc_id AS b,
           len(list_intersect(l.sh, r.sh)) AS inter_sz,
           len(list_distinct(list_concat(l.sh, r.sh))) AS union_sz
    FROM s l JOIN s r ON l.lang = r.lang AND l.doc_id < r.doc_id"""


def _q_verified_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-correct dedup composition (LSH candidates -> exact n-gram
    Jaccard verify on pairs only); oracle = brute-force all-pairs exact
    Jaccard >= threshold in SQL.  Equality holds because LSH recall at
    j >= 0.8 with 16x4 banding is ~0.9996 and the fixed synthetic corpus
    has no pair in the miss band (verified at freeze time)."""
    from osmspark.operators.dedup import verified_near_dup_pairs

    _register(spark, sf_dir, ["documents"])
    docs = spark.table("documents").filter(F.col("doc_id") < 500)
    return verified_near_dup_pairs(docs, jaccard_threshold=0.8)


_VERIFIED_ORACLE = """
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
      FROM documents WHERE doc_id < 500
    ), s AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(toks) < 3 THEN []
               ELSE [array_to_string(toks[i:i+2], ' ')
                     for i in range(1, len(toks) - 1)] END) AS sh
      FROM t
    )
    SELECT a, b, jaccard FROM (
      SELECT l.doc_id AS a, r.doc_id AS b,
             CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE)
               / len(list_distinct(list_concat(l.sh, r.sh))) AS jaccard
      FROM s l JOIN s r ON l.doc_id < r.doc_id
      WHERE len(l.sh) > 0 AND len(r.sh) > 0
    ) q WHERE jaccard >= 0.8"""


# --- BM25 inverted-index search (operators/search.py) ----------------------
# reproducible=True pins the per-(query, doc) sum fold to term order, so
# scores are BIT-IDENTICAL to the oracle's ordered-aggregate sum — the
# score column ships un-rounded (rational idf, no log; module docstring)
_BM25_QUERIES = [
    (0, "hash join table"),
    (1, "window agg"),
    (2, "spark data value value"),  # repeated query term dedups
    (3, "zzz-nonexistent-term"),    # matches nothing
]


def _q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmspark.operators.search import bm25_topk

    _register(spark, sf_dir, ["documents"])
    qdf = spark.createDataFrame(
        _BM25_QUERIES, "query_id long, query_text string")
    return bm25_topk(spark.table("documents"), qdf, k=10, reproducible=True)


_BM25_SQL_VALUES = ", ".join(f"({i}, '{t}')" for i, t in _BM25_QUERIES)
_BM25_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, t.term
      FROM documents, UNNEST(list_filter(
            string_split_regex(lower(trim(coalesce(text, ''))), '\\s+'),
            x -> x <> '')) AS t(term)
    ),
    posts AS (
      SELECT term, doc_id, CAST(count(*) AS DOUBLE) AS tf
      FROM toks GROUP BY 1, 2
    ),
    dls AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl
            FROM toks GROUP BY 1),
    stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_docs,
             CAST(sum(CAST(dl AS BIGINT)) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS avgdl
      FROM dls
    ),
    qterms AS (
      SELECT query_id, t.term
      FROM (VALUES {_BM25_SQL_VALUES}) AS q(query_id, query_text),
           UNNEST(list_distinct(list_filter(
             string_split_regex(lower(trim(coalesce(query_text, ''))),
                                '\\s+'),
             x -> x <> ''))) AS t(term)
    ),
    dfs AS (
      SELECT p.term, CAST(count(*) AS DOUBLE) AS df
      FROM posts p
      WHERE p.term IN (SELECT DISTINCT term FROM qterms)
      GROUP BY 1
    ),
    per_term AS (
      SELECT q.query_id, p.doc_id, p.term,
             ((s.n_docs - f.df + 0.5) / (f.df + 0.5))
               * ((p.tf * (1.2 + 1.0))
                  / (p.tf + 1.2 * ((1.0 - 0.75) + 0.75 * (l.dl / s.avgdl))))
               AS sc
      FROM qterms q
      JOIN posts p ON p.term = q.term
      JOIN dfs f ON f.term = p.term
      JOIN dls l ON l.doc_id = p.doc_id
      CROSS JOIN stats s
    ),
    scores AS (
      SELECT query_id, doc_id, sum(sc ORDER BY term) AS score
      FROM per_term GROUP BY 1, 2
    )
    SELECT query_id, rank, doc_id, score FROM (
      SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS rank
      FROM scores
    ) t WHERE rank <= 10"""


# --- n-gram LM perplexity (operators/ngram_lm.py) ---------------------------
# The oracle recomputes the whole add-k trigram LM from scratch in SQL —
# gram STRINGS, not the engine's xxhash64 keys, so the hash path is gated by
# a collision-free mechanism (the substring_dedup_spans convention).  Floats
# ship rounded to 6 dp: both engines round the same 6-decimal value to the
# same nearest double, absorbing ln/exp last-ulp and sum-order differences
# (logprob reorder noise ~1e-14 against 1e-6 granularity).
def _q_ngram_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmspark.operators.ngram_lm import score_perplexity, train_ngram_lm

    _register(spark, sf_dir, ["documents"])
    docs = spark.table("documents").select("doc_id", "text")
    counts, vocab = train_ngram_lm(docs, n=3)
    return score_perplexity(docs, counts, vocab, n=3).select(
        "doc_id", "lm_ngrams",
        F.round("lm_logprob", 6).alias("lm_logprob_r6"),
        F.round("lm_perplexity", 6).alias("lm_ppl_r6"),
    )


_NGRAM_PPL_ORACLE = """
    WITH toks AS (
      SELECT doc_id, list_filter(
               string_split_regex(lower(trim(coalesce(text, ''))), '\\s+'),
               x -> x <> '') AS tk
      FROM documents
    ), pairs AS (
      SELECT doc_id,
             CASE WHEN len(tk) < 3 THEN []
                  ELSE [array_to_string(tk[i:i+2], ' ')
                        for i in range(1, len(tk) - 1)] END AS g3,
             CASE WHEN len(tk) < 3 THEN []
                  ELSE [array_to_string(tk[i:i+1], ' ')
                        for i in range(1, len(tk) - 1)] END AS c2
      FROM toks
    ), lm3 AS (
      SELECT g AS gram, count(*) AS c FROM pairs, UNNEST(g3) AS t(g)
      GROUP BY 1
    ), lm2 AS (
      -- contexts count ALL order-2 grams (incl. each doc's final bigram,
      -- which has no continuation) — the engine's raw-count denominator
      SELECT b AS gram, count(*) AS c FROM (
        SELECT CASE WHEN len(tk) < 2 THEN []
                    ELSE [array_to_string(tk[i:i+1], ' ')
                          for i in range(1, len(tk))] END AS g2
        FROM toks
      ), UNNEST(g2) AS t(b)
      GROUP BY 1
    ), v AS (
      SELECT count(DISTINCT tok) AS vs FROM toks, UNNEST(tk) AS t(tok)
    ), occ AS (
      -- zipped UNNEST: gram i pairs positionally with its context
      SELECT doc_id, UNNEST(g3) AS gram, UNNEST(c2) AS ctx FROM pairs
    ), agg AS (
      SELECT o.doc_id, count(*) AS n,
             sum(ln(coalesce(l3.c, 0) + 1.0)
                 - ln(coalesce(l2.c, 0) + 1.0 * v.vs)) AS lp
      FROM occ o
      LEFT JOIN lm3 l3 ON o.gram = l3.gram
      LEFT JOIN lm2 l2 ON o.ctx = l2.gram
      CROSS JOIN v
      GROUP BY 1
    )
    SELECT d.doc_id AS doc_id,
           coalesce(a.n, 0) AS lm_ngrams,
           round(a.lp, 6) AS lm_logprob_r6,
           round(exp(-a.lp / a.n), 6) AS lm_ppl_r6
    FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id"""


def _q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmspark.operators.textstats import text_stats

    _register(spark, sf_dir, ["documents"])
    return text_stats(spark.table("documents")).select(
        "doc_id", "n_tokens", "n_stopwords", "lang_id", "quality"
    )


def _q_lang_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmspark.operators.langid import lang_id

    _register(spark, sf_dir, ["documents"])
    return lang_id(spark.table("documents").select("doc_id", "text"))


def _lang_trigram_sql() -> str:
    """DuckDB twin of operators/langid.lang_id with its default knobs:
    same normalization regex, same trigram window, same rank weights
    (repr() round-trips doubles exactly, so both engines score with
    bit-identical addends), same floor, same (score, lang) struct-max
    tie-break (DuckDB list_sort is the same lexicographic struct order
    as Spark's array_max).  Argmax determinism across engines rests on
    the margin contract tests/test_langid.py pins: inter-language gaps
    are either exactly 0.0 (identical addend multisets -> identical
    floats -> shared tie-break) or orders of magnitude above the
    ~n*ulp summation-order noise."""
    from osmspark.operators.langid import DEFAULT_PROFILES, _rank_logp

    langs = sorted(DEFAULT_PROFILES)
    pivot: dict[str, dict[str, float]] = {}
    for lang in langs:
        for rank, g in enumerate(DEFAULT_PROFILES[lang]):
            pivot.setdefault(g, {})[lang] = _rank_logp(rank)
    rows = ",\n      ".join(
        "('" + g.replace("'", "''") + "', "
        + ", ".join(
            repr(m[lang]) if lang in m else "CAST(NULL AS DOUBLE)"
            for lang in langs
        )
        + ")"
        for g, m in sorted(pivot.items())
    )
    cols = ", ".join(f"lp_{lang}" for lang in langs)
    sums = ",\n             ".join(
        f"sum(coalesce(p.lp_{lang}, -8.0)) AS s_{lang}" for lang in langs
    )
    structs = ", ".join(
        f"{{'s': sc.s_{lang}, 'l': '{lang}'}}" for lang in langs
    )
    return f"""
    WITH prof(g, {cols}) AS (VALUES
      {rows}
    ),
    norm AS (
      SELECT doc_id,
             ' ' || trim(regexp_replace(lower(substr(text, 1, 600)),
                                        '[^a-z]+', ' ', 'g')) || ' ' AS s
      FROM documents
    ),
    grams AS (
      -- list-range + unnest (generate_series table function cannot take
      -- lateral column args); range(1, length-1) is empty when length < 3
      -- and NULL (-> zero rows) when s is NULL, matching the engine
      SELECT doc_id, substr(s, CAST(i AS INT), 3) AS g
      FROM (SELECT doc_id, s, unnest(range(1, length(s) - 1)) AS i
            FROM norm)
    ),
    sc AS (
      SELECT g.doc_id, count(*) AS n_grams,
             {sums}
      FROM grams g LEFT JOIN prof p ON g.g = p.g
      GROUP BY g.doc_id
    )
    SELECT d.doc_id AS doc_id,
           CASE WHEN coalesce(sc.n_grams, 0) >= 8
                THEN list_sort([{structs}])[-1].l
                ELSE 'und' END AS lang,
           CAST(coalesce(sc.n_grams, 0) AS BIGINT) AS n_grams
    FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id"""


_TEXT_STATS_CTE = """
    WITH t AS (
      SELECT doc_id, text,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(string_split_regex(lower(trim(text)), '\\s+'))
             END AS n_tokens,
             len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                 x -> x IN ('the','a','an','and','or','of','to','in','is',
                            'it','that','for','on','with','as','at','by',
                            'this'))) AS n_stopwords,
             length(text) AS n_chars,
             length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
               AS n_punct
      FROM documents
    ), stats AS (
      SELECT doc_id, n_tokens, n_stopwords,
             CASE WHEN n_tokens = 0 THEN 'empty'
                  WHEN (n_stopwords * 100) >= (n_tokens * 8) THEN 'en'
                  ELSE 'unknown' END AS lang_id,
             CASE WHEN n_tokens = 0 THEN 0
                  ELSE cast(floor(
                    least(n_chars, 400) / 8.0
                    + least(n_stopwords * 10, 30)
                    + greatest(20 - n_punct * 2, 0)) as int)
             END AS quality
      FROM t
    )"""

_TEXT_STATS_ORACLE = _TEXT_STATS_CTE + """
    SELECT doc_id, n_tokens, n_stopwords, lang_id, quality FROM stats"""

_CURATION_ORACLE = _TEXT_STATS_CTE + """
    , keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text)
    SELECT s.doc_id AS doc_id, s.n_tokens AS n_tokens, s.quality AS quality
    FROM stats s JOIN keep k ON s.doc_id = k.doc_id
    WHERE s.quality >= 30 AND s.lang_id = 'en'"""

_TOKEN_PCT_ORACLE = _TEXT_STATS_CTE + """
    , ranked AS (
      SELECT n_tokens,
             row_number() OVER (ORDER BY n_tokens, doc_id) AS rn,
             count(*) OVER () AS n
      FROM stats
    )
    SELECT p.pct AS pct, r.n_tokens AS n_tokens
    FROM ranked r JOIN (VALUES (50), (90), (99)) p(pct)
      ON r.rn = cast(ceil(r.n * p.pct / 100.0) as bigint)"""


def _q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals through the ENGINE operator
    (textstats.repetition_stats, one native aggregate over the sorted
    n-gram array); oracle = independent DuckDB group-by derivation."""
    from osmspark.operators.textstats import repetition_stats

    _register(spark, sf_dir, ["documents"])
    return repetition_stats(spark.table("documents"))


_REPETITION_ORACLE = """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         x -> x <> '') AS ts
      FROM documents
    ), base AS (
      SELECT doc_id, len(ts) AS n_tokens,
             len(list_distinct(ts)) AS n_distinct_tokens, ts
      FROM toks
    ), grams AS (
      SELECT doc_id,
             unnest(list_transform(range(1, n_tokens),
                                   i -> ts[i] || ' ' || ts[i + 1])) AS g
      FROM base WHERE n_tokens >= 2
    ), cnt AS (
      SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2
    ), top AS (
      SELECT doc_id, g, c,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY c DESC, g ASC) AS rn
      FROM cnt
    ), dup AS (
      SELECT doc_id,
             coalesce(sum(c) FILTER (WHERE c >= 2), 0) AS dup_n
      FROM cnt GROUP BY doc_id
    )
    SELECT b.doc_id AS doc_id,
           b.n_tokens AS n_tokens,
           b.n_distinct_tokens AS n_distinct_tokens,
           t.g AS top_ngram,
           cast(coalesce(t.c, 0) as bigint) AS top_ngram_n,
           cast(coalesce(d.dup_n, 0) as bigint) AS dup_ngram_n
    FROM base b
    LEFT JOIN (SELECT doc_id, g, c FROM top WHERE rn = 1) t USING (doc_id)
    LEFT JOIN dup d USING (doc_id)"""


def _q_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup spans (Lee et al. ACL 2022 shape) through the
    ENGINE operator (dedup.duplicated_ngram_spans: 8-byte gram hashes,
    corpus-wide count, per-doc interval merge — all native); oracle =
    independent DuckDB derivation that joins on the gram STRINGS
    themselves, so the engine's xxhash64 path is checked against a
    collision-free mechanism, not re-derived."""
    from osmspark.operators.dedup import duplicated_ngram_spans

    _register(spark, sf_dir, ["documents"])
    return duplicated_ngram_spans(spark.table("documents"), n=8)


_SUBSTRING_SPANS_ORACLE = """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(coalesce(text, ''))),
                                            '\\s+'),
                         t -> t <> '') AS tk
      FROM documents
    ), grams AS (
      SELECT doc_id, u['pos'] AS pos, u['g'] AS g FROM (
        SELECT doc_id,
               unnest([struct_pack(pos := i - 1,
                                   g := array_to_string(tk[i:i+7], chr(31)))
                       for i in range(1, greatest(len(tk) - 7, 0) + 1)]) AS u
        FROM toks) z
    ), dup AS (
      SELECT g FROM grams GROUP BY g HAVING count(*) >= 2
    ), hits AS (
      SELECT doc_id, pos FROM grams JOIN dup USING (g)
    ), seg AS (
      SELECT doc_id, pos,
             CASE WHEN lag(pos) OVER w IS NULL
                       OR pos > lag(pos) OVER w + 8 THEN 1 ELSE 0 END AS ns
      FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ), seg2 AS (
      SELECT doc_id, pos,
             sum(ns) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS UNBOUNDED PRECEDING) AS segid
      FROM seg
    )
    SELECT doc_id,
           cast(min(pos) as bigint) AS start_tok,
           cast(max(pos) + 7 as bigint) AS end_tok,
           cast(count(*) as bigint) AS n_dup_grams
    FROM seg2 GROUP BY doc_id, segid"""


def _q_ann_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmspark.operators.similarity import cosine_topk_bruteforce

    _register(spark, sf_dir, ["embeddings"])
    emb = spark.table("embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk_bruteforce(emb, queries, k=5).select(
        "query_id", "rank", "vec_id"
    )


_ANN_ORACLE = """
    WITH e AS (
      SELECT vec_id, cast(embedding AS DOUBLE[]) AS v FROM embeddings
    )
    SELECT query_id, rank, vec_id FROM (
      SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.v, e.v) DESC, e.vec_id ASC
             ) AS rank
      FROM e JOIN e q ON q.vec_id < 5
    ) t WHERE rank <= 5"""


def _q_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed training-data curation (exact-dedup keepers + quality floor
    + language allowlist) through the ENGINE operators; independent SQL
    oracle reproduces all three legs."""
    from osmspark.operators.textstats import curate

    _register(spark, sf_dir, ["documents"])
    return curate(spark.table("documents"), min_quality=30, langs=("en",))


def _q_token_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 of per-doc token counts via the engine operator;
    oracle = identical rank arithmetic in SQL."""
    from osmspark.operators.textstats import token_count_percentiles

    _register(spark, sf_dir, ["documents"])
    return token_count_percentiles(spark.table("documents"))


def _q_token_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE-PATH percentile operator (percentile_approx sketch, no
    global sort).  At accuracy >= n the GK sketch retains every sample, so
    the result is exact under Spark's ceil-rank convention — the SAME
    convention as the exact operator's oracle, which therefore gates this
    query too (independent SQL, not a golden)."""
    from osmspark.operators.textstats import token_count_percentiles_approx

    _register(spark, sf_dir, ["documents"])
    return token_count_percentiles_approx(
        spark.table("documents"), accuracy=1_000_000
    )


def _q_ivf_partial_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF at nprobe < n_centroids — the APPROXIMATE path real pipelines
    run (full-probe exactness is gated by the ann_cosine_topk driver row
    plus test_ivf_recall's full == brute set equality; the ivf_full_probe
    row was rotated out of the 50-row budget in r5).  Centroids are
    the deterministic hash-ordered seed vectors (iters=0: no Lloyd
    averaging, so no float-summation-order sensitivity across partition
    layouts) -> the result is a pure deterministic function of the data,
    frozen as a golden regression row.  Recall vs brute force is
    independently pytest-gated."""
    from osmspark.operators.similarity import ivf_topk, train_centroids

    _register(spark, sf_dir, ["embeddings"])
    emb = spark.table("embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    cents = train_centroids(emb, n_centroids=8, iters=0)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(emb, queries, k=5, centroids=cents, nprobe=2).select(
        "query_id", "rank", "vec_id"
    )


def _q_ivf_full_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with nprobe == n_centroids: bucketing must be lossless, so
    the result equals exhaustive search — checked against the SAME
    independent SQL oracle as ann_cosine_topk.  (Partial-probe recall is
    pytest-gated; it is approximate by design.)"""
    from osmspark.operators.similarity import ivf_topk, train_centroids

    _register(spark, sf_dir, ["embeddings"])
    emb = spark.table("embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    cents = train_centroids(emb, n_centroids=8, iters=2)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(emb, queries, k=5, centroids=cents, nprobe=8).select(
        "query_id", "rank", "vec_id"
    )


def _q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-blocked embedding near-dup pairs (golden regression
    oracle; planted-dup recall is pytest-gated)."""
    from osmspark.operators.similarity import embedding_near_dup_pairs

    _register(spark, sf_dir, ["embeddings"])
    emb = spark.table("embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    return embedding_near_dup_pairs(emb, threshold=0.25, n_bits=6).select(
        "a", "b", F.round("sim", 6).alias("sim")
    )


def _q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence chunking through the ENGINE operator (pure native
    slice/posexplode); oracle = the identical window arithmetic in DuckDB
    (list range -> unnest -> list slice)."""
    from osmspark.operators.textstats import chunk_documents

    _register(spark, sf_dir, ["documents"])
    return chunk_documents(spark.table("documents"), max_tokens=32, overlap=8)


# step = 32 - 8 = 24; starts bounded at n - overlap - 1 (no all-overlap
# trailing chunk); chunk_id = start / step exactly (starts are multiples)
_CHUNK_ORACLE = """
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ), s AS (
      SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0
    ), st AS (
      SELECT doc_id, toks,
             unnest(range(0, greatest(n - 8 - 1, 0) + 1, 24)) AS start
      FROM s
    )
    SELECT doc_id,
           cast(start / 24 as int) AS chunk_id,
           len(toks[start + 1 : start + 32]) AS chunk_n_tokens,
           array_to_string(toks[start + 1 : start + 32], ' ') AS chunk_text
    FROM st"""


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quota sampling through the ENGINE operator — exercises
    the two-phase (salt pre-rank) top-N path.  The sampling hash is the
    shared LCG derivation, injected via hash_expr so DuckDB reproduces the
    exact sample with one window."""
    from osmspark.operators.textstats import stratified_sample

    _register(spark, sf_dir, ["documents"])
    h = (((F.col("doc_id") * 7919 + 777) % 2147483647) * 48271) % 2147483647
    return stratified_sample(
        spark.table("documents"), "lang", per_stratum=25, hash_expr=h
    ).select("doc_id", "lang")


_STRATIFIED_ORACLE = """
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY (((doc_id * 7919 + 777) % 2147483647) * 48271)
                        % 2147483647 ASC, doc_id ASC
             ) AS rn
      FROM documents
    ) t WHERE rn <= 25"""


def _q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination through the ENGINE operator (docs with
    id >= 100 screened against the id < 100 'benchmark' slice).  The
    engine joins on shingle digests (xxhash64 folded to 31 bits by
    shingle_hashes_col); the oracle joins on the shingle STRINGS — counts
    agree because no 31-bit collision lands on this fixed corpus (16.5k
    distinct shingles -> ~0.06 expected collisions; verified zero at
    freeze time, and the corpus is read-only)."""
    from osmspark.operators.dedup import decontaminate

    _register(spark, sf_dir, ["documents"])
    docs = spark.table("documents")
    return decontaminate(
        docs.filter(F.col("doc_id") >= 100),
        docs.filter(F.col("doc_id") < 100),
        n=3, threshold=0.2,
    )


_DECONTAMINATE_ORACLE = """
    WITH t AS (
      SELECT doc_id,
             string_split_regex(lower(trim(text)), '\\s+') AS toks
      FROM documents
    ), s AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(toks) < 3 THEN []
               ELSE [array_to_string(toks[i:i+2], ' ')
                     for i in range(1, len(toks) - 1)] END) AS sh
      FROM t
    ), b AS (
      SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id < 100
    ), d AS (
      SELECT doc_id, unnest(sh) AS g FROM s WHERE doc_id >= 100
    ), m AS (
      SELECT d.doc_id AS doc_id, count(*) AS n_match
      FROM d JOIN b USING (g) GROUP BY d.doc_id
    ), tot AS (
      -- coalesce mirrors the engine's NULL-text handling (n_sh = 0):
      -- string_split_regex(NULL) propagates NULL through len() here
      SELECT doc_id, coalesce(len(sh), 0) AS n_sh
      FROM s WHERE doc_id >= 100
    )
    SELECT tot.doc_id AS doc_id,
           tot.n_sh AS n_sh,
           coalesce(m.n_match, 0) AS n_match,
           coalesce(m.n_match, 0) / greatest(tot.n_sh, 1) AS overlap,
           (coalesce(m.n_match, 0) / greatest(tot.n_sh, 1)) >= 0.2
             AS contaminated
    FROM tot LEFT JOIN m ON tot.doc_id = m.doc_id"""


def _q_postcode_repair_engine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 repair path through the ENGINE (audit.repair_postcode +
    postcode_class): half the rows get the reference's broken 'S <digits>'
    form prepended, repair strips non-digits when 6 remain; oracle
    reproduces the rule in SQL."""
    from osmspark.operators import audit

    d = _derived_df(spark, sf_dir).filter(F.col("pc").isNotNull())
    broken = F.when(F.pmod(F.col("d"), F.lit(2)) == 0,
                    F.concat(F.lit("S "), F.col("pc"))).otherwise(F.col("pc"))
    return (
        d.select(audit.repair_postcode(broken).alias("rp"))
        .select(audit.postcode_class("rp").alias("pc_class"))
        .groupBy("pc_class").agg(F.count("*").alias("cnt"))
    )


_POSTCODE_REPAIR_ORACLE = _DERIVED_SQL + """
    , broken AS (
      SELECT CASE WHEN (d % 2) = 0 THEN 'S ' || pc ELSE pc END AS x
      FROM derived WHERE pc IS NOT NULL
    ), repaired AS (
      SELECT CASE WHEN regexp_extract(regexp_replace(x, '[^0-9]', '', 'g'),
                                      '^[0-9]{6}$', 0) <> ''
                  THEN regexp_replace(x, '[^0-9]', '', 'g')
                  ELSE x END AS rp
      FROM broken
    )
    SELECT CASE WHEN regexp_extract(rp, '^[0-8][0-9]{5}$', 0) <> ''
                  THEN 'valid_sg'
                WHEN regexp_extract(rp, '^[0-9]{5}$', 0) <> ''
                  THEN 'out_of_area'
                ELSE 'invalid' END AS pc_class,
           count(*) AS cnt
    FROM repaired GROUP BY 1"""


# --- rows-only engine queries (no SQL equivalent; pytest is the gate) ------
def _q_hex_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmspark.functions.hexgrid import with_hex_cell

    pts = _points_df(spark, sf_dir)
    return (
        with_hex_cell(pts, 8)
        .groupBy("hex_r8").agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("hex_r8")).limit(50)
    )


def _q_s2_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmspark.functions.s2 import with_s2_cell

    pts = _points_df(spark, sf_dir)
    return (
        with_s2_cell(pts, 12)
        .groupBy("s2_l12").agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("s2_l12")).limit(50)
    )


def _q_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmspark.operators.dedup import minhash_dedup_pairs

    _register(spark, sf_dir, ["documents"])
    return minhash_dedup_pairs(
        spark.table("documents"), threshold=0.5, num_perm=64, bands=16
    ).select("a", "b", F.round("est_jaccard", 4).alias("est_jaccard"))


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmspark.operators.dedup import simhash_near_dup_pairs

    _register(spark, sf_dir, ["documents"])
    return simhash_near_dup_pairs(spark.table("documents"), max_hamming=8)


def _q_knn_haversine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmspark.operators.knn import knn_kring

    pts = _points_df(spark, sf_dir).select(
        F.col("d").cast("string").alias("id"), "lat", "lon"
    )
    qdf = spark.createDataFrame(
        _KNN_QUERIES, "query_id string, lat double, lon double"
    )
    # rank-level compare only: the haversine VALUE is float-env-sensitive
    # across engines (JVM StrictMath vs libm), but the ORDERING is stable —
    # distinct grid points differ by >> 1 ulp, exact ties break on point_id
    return knn_kring(pts, qdf, k=10, metric="haversine").select(
        "query_id", "rank", "point_id"
    )


_KNN_HAVERSINE_ORACLE = _DERIVED_SQL + f"""
    SELECT query_id, rank, point_id FROM (
      SELECT q.query_id AS query_id,
             cast(d.d as string) AS point_id,
             row_number() OVER (
               PARTITION BY q.query_id
               ORDER BY 2 * 6371008.8 * asin(sqrt(
                   pow(sin(radians(d.lat - q.qlat) / 2), 2)
                   + cos(radians(q.qlat)) * cos(radians(d.lat))
                     * pow(sin(radians(d.lon - q.qlon) / 2), 2))) ASC,
                 cast(d.d as string) ASC
             ) AS rank
      FROM derived d
      JOIN (VALUES {_KNN_SQL_VALUES}) AS q(query_id, qlat, qlon)
        ON d.kind = 'node'
    ) t WHERE rank <= 10"""


def _q_tile_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-raster render via applyInPandas; the raster array is projected
    to a '/'-joined string so the driver canonicalizer can hash/sort it
    (round-1 err: pandas sort_values dies on array<long> cells)."""
    from osmspark.operators.tiles import render_density_tiles

    r = render_density_tiles(_points_df(spark, sf_dir), zoom=12, px=16)
    return r.select(
        "zoom", "tile_x", "tile_y",
        F.concat_ws(
            "/", F.transform("raster", lambda x: x.cast("string"))
        ).alias("raster_csv"),
    )


def _q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmspark.datagen import documents_from_ids
    from osmspark.operators.multimodal import extract_features, media_table

    _register(spark, sf_dir, ["documents"])
    docs = documents_from_ids(spark.table("documents"), "doc_id")
    # decode_stub pinned True: the golden must not depend on whether a
    # real decoder happens to be importable in the running environment
    return extract_features(media_table(docs), decode_stub=True).select(
        "doc_id", "media_ref", "media_type", "n_bytes"
    )


def _q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmspark.operators.textstats import with_fingerprint

    _register(spark, sf_dir, ["documents"])
    docs = spark.table("documents").select("doc_id", "text")
    return with_fingerprint(docs, window=8).select("doc_id", "fp")


def _q_salted_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B7: explicit two-stage salted group-count over the skewed derived
    kind key; must equal a plain GROUP BY (the oracle)."""
    from osmspark.operators.salt import salted_group_count

    d = _derived_df(spark, sf_dir).select("d", "kind")
    return salted_group_count(d, "kind", nsalt=8, salt_from=["d"])


_SALTED_ORACLE = _DERIVED_SQL + """
    SELECT kind, count(*) AS cnt FROM derived GROUP BY kind"""


def _q_minhash_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs -> connected-component keep list."""
    from osmspark.operators.dedup import dedup_keep_list, minhash_dedup_pairs

    _register(spark, sf_dir, ["documents"])
    docs = spark.table("documents")
    pairs = minhash_dedup_pairs(docs, threshold=0.8, num_perm=64, bands=16)
    return dedup_keep_list(pairs, docs)


def _q_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 engine op (hash-mod systematic sample; xxhash64 has no DuckDB
    twin -> rows-only)."""
    from osmspark.sources import systematic_sample

    _register(spark, sf_dir, ["documents"])
    return systematic_sample(spark.table("documents"), k=10).select("doc_id")


def _q_span_invariant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-sequence invariant sweep (input_hint [D]) over spansified docs:
    returns one row with the violation count (must be 0)."""
    from osmspark.datagen import documents_from_ids
    from osmspark.sources import span_sequence_violations

    _register(spark, sf_dir, ["documents"])
    docs = documents_from_ids(spark.table("documents"), "doc_id")
    return span_sequence_violations(docs).agg(
        F.count("*").alias("n_violations")
    )


_SPAN_INVARIANT_ORACLE = "SELECT cast(0 as bigint) AS n_violations FROM (SELECT 1)"


def _q_street_norm_engine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same result as street_norm_counts but via the engine operator chain
    (audit.street_type + mapping rewrite) — proves operator/SQL parity."""
    from osmspark.operators import audit

    streets = _derived_df(spark, sf_dir).filter(F.col("street").isNotNull())
    return audit.normalized_street_counts(streets).select(
        "normalized_type", F.col("cnt").cast("long").alias("cnt")
    )


def _q_postcode_engine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmspark.operators import audit

    d = _derived_df(spark, sf_dir).filter(F.col("pc").isNotNull())
    return (
        d.select(audit.postcode_class("pc").alias("pc_class"))
        .groupBy("pc_class").agg(F.count("*").alias("cnt"))
    )


def _q_key_class_engine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 through the ENGINE operator (audit.key_class / config regexes) —
    closes the round-1 oracle blind spot where key_class_counts ran the same
    SQL on both sides and never exercised the operator."""
    from osmspark.operators import audit

    d = _derived_df(spark, sf_dir)
    return (
        d.select(audit.key_class("tag_key").alias("bucket"))
        .groupBy("bucket").agg(F.count("*").alias("cnt"))
    )


def _q_shape_tags_engine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13/A14 through the ENGINE shaping helpers: build a 1-entry tags map
    per derived row, run shape's problemchars-drop + addr-split + prefix
    strip, and project (bucket, out_key, cnt) — SQL reproduces the same
    key-routing rules independently."""
    from osmspark.operators.shape import _address, _clean_tags, _other_tags

    d = _derived_df(spark, sf_dir)
    tags = F.map_from_arrays(F.array(F.col("tag_key")), F.array(F.col("usr")))
    shaped = d.select(
        _address(_clean_tags(tags)).alias("address"),
        _other_tags(tags).alias("tags"),
    )
    addr = shaped.select(
        F.lit("address").alias("bucket"),
        F.explode(F.map_keys("address")).alias("out_key"),
    )
    oth = shaped.select(
        F.lit("tags").alias("bucket"),
        F.explode(F.map_keys("tags")).alias("out_key"),
    )
    return (
        addr.unionByName(oth)
        .groupBy("bucket", "out_key").agg(F.count("*").alias("cnt"))
    )


_SHAPE_TAGS_ORACLE = _DERIVED_SQL + f"""
    SELECT CASE WHEN tag_key LIKE 'addr:%' THEN 'address' ELSE 'tags' END
             AS bucket,
           CASE WHEN tag_key LIKE 'addr:%' THEN substr(tag_key, 6)
                ELSE tag_key END AS out_key,
           count(*) AS cnt
    FROM derived
    WHERE regexp_extract(tag_key, '{SQL_PROBLEMCHARS}', 0) = ''
      AND NOT (tag_key LIKE 'addr:%' AND strpos(substr(tag_key, 6), ':') > 0)
    GROUP BY 1, 2"""


def _q_cuisines_engine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A20b through the ENGINE operator (audit.composed_tag_counts) over a
    synthesized tags map; oracle = the shared cuisines_of_restaurants SQL."""
    from osmspark.operators import audit

    d = _derived_df(spark, sf_dir)
    nodes = d.select(
        F.map_filter(
            F.map_from_arrays(
                F.array(F.lit("amenity"), F.lit("cuisine")),
                F.array(F.col("amenity"), F.col("cuisine")),
            ),
            lambda k, v: v.isNotNull(),
        ).alias("tags")
    )
    return audit.composed_tag_counts(nodes, "amenity", "restaurant", "cuisine")


def _q_traj_kinematics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trajectory kinematics + isolated-spike flags through the ENGINE
    operators (trajectory.traj_kinematics |> spike_flags) over
    trajectories synthesized from the derived lattice (traj = h2 % 40,
    ts = d — unique, so the (ts, lat, lon) window order is total).

    metric='sq_deg' on purpose: its dist/speed use only +,-,*,/ and
    IEEE sqrt, which are bit-reproducible across engines, so the oracle
    compares the RAW doubles (the haversine metric stays pytest-gated —
    its trig is float-env-sensitive, the knn_haversine lesson).  The
    bearing is compared as a 22.5deg-offset compass octant: the
    lattice's rational slopes keep every bearing >= 0.23deg from any
    octant boundary at sf0.01 (measured), while cardinal/diagonal moves
    land mid-sector — ulp-level atan2 disagreement cannot flip a class.
    vmax=0.006 deg/s sits 0.39%% from the nearest attainable speed."""
    from osmspark.operators.trajectory import spike_flags, traj_kinematics

    fixes = _derived_df(spark, sf_dir).select(
        (F.col("h2") % 40).alias("traj_id"),
        F.col("d").cast("double").alias("ts"),
        "lat", "lon",
    )
    kin = traj_kinematics(fixes, metric="sq_deg")
    flagged = spike_flags(kin, max_speed=0.006, metric="sq_deg")
    return flagged.select(
        "traj_id", "ts", "seq", "dt_s", "dist", "speed",
        F.floor(F.pmod(F.col("bearing_deg") + F.lit(22.5), F.lit(360.0))
                / F.lit(45.0)).cast("int").alias("octant"),
        "is_spike",
    )


_TRAJ_KINEMATICS_ORACLE = _DERIVED_SQL + """
    , fixes AS (
      SELECT (h2 % 40) AS traj_id, cast(d as double) AS ts, lat, lon
      FROM derived
    ), k AS (
      SELECT traj_id, ts, lat, lon,
             row_number() OVER w - 1 AS seq,
             lag(lat)  OVER w AS plat, lag(lon)  OVER w AS plon,
             lag(ts)   OVER w AS pts,
             lead(lat) OVER w AS nlat, lead(lon) OVER w AS nlon,
             lead(ts)  OVER w AS nts
      FROM fixes
      WINDOW w AS (PARTITION BY traj_id ORDER BY ts, lat, lon)
    )
    SELECT traj_id, ts, seq,
           ts - pts AS dt_s,
           sqrt((lat-plat)*(lat-plat) + (lon-plon)*(lon-plon)) AS dist,
           CASE WHEN ts - pts > 0 THEN
             sqrt((lat-plat)*(lat-plat) + (lon-plon)*(lon-plon))
               / (ts - pts) END AS speed,
           cast(floor(fmod(fmod(
               degrees(atan2(lon - plon, lat - plat)) + 22.5, 360
             ) + 360, 360) / 45) as int) AS octant,
           coalesce(CASE WHEN ts - pts > 0 THEN
               sqrt((lat-plat)*(lat-plat) + (lon-plon)*(lon-plon))
                 / (ts - pts) END > 0.006, false)
           AND coalesce(CASE WHEN nts - ts > 0 THEN
               sqrt((nlat-lat)*(nlat-lat) + (nlon-lon)*(nlon-lon))
                 / (nts - ts) END > 0.006, false)
           AND coalesce(CASE WHEN nts - pts > 0 THEN
               sqrt((nlat-plat)*(nlat-plat) + (nlon-plon)*(nlon-plon))
                 / (nts - pts) END <= 0.006, false) AS is_spike
    FROM k"""


_ENGINE_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "street_norm_counts_engine": _q_street_norm_engine,
    "postcode_partition_engine": _q_postcode_engine,
    "key_class_counts_engine": _q_key_class_engine,
    "shape_tags_engine": _q_shape_tags_engine,
    "cuisines_engine": _q_cuisines_engine,
    "pip_rect_join": _q_pip_rect,
    "knn_sq_deg": _q_knn,
    "radius_join_sq_deg": _q_radius_join,
    # tile_counts_int retired round 4 (fully subsumed by tile_raster_sparse
    # — same grid arithmetic at finer granularity) to free budget rows for
    # the round-3 pytest-only operators below (VERDICT item 5)
    "tile_raster_sparse": _q_tile_raster,
    "way_geometry": _q_way_geometry,
    "asof_join": _q_asof_join,
    "exact_dedup_keep": _q_exact_dedup,
    "ngram_jaccard": _q_ngram_jaccard,
    "verified_near_dups": _q_verified_near_dups,
    "text_stats": _q_text_stats,
    "lang_trigram": _q_lang_trigram,
    "bm25_topk": _q_bm25,
    "ngram_ppl": _q_ngram_ppl,
    "repetition_stats": _q_repetition_stats,
    "substring_dedup_spans": _q_substring_spans,
    "ann_cosine_topk": _q_ann_cosine,
    "ivf_full_probe": _q_ivf_full_probe,
    "ivf_partial_probe": _q_ivf_partial_probe,
    "curation_pipeline": _q_curation,
    # token_count_percentiles (exact) retired round 4: the approx row runs
    # against the SAME exact-rank SQL oracle (value-identical at this
    # accuracy), so the shared convention stays oracle-gated; the exact
    # operator remains pytest-covered
    "token_percentiles_approx": _q_token_percentiles_approx,
    "chunk_documents": _q_chunk_documents,
    "stratified_sample_quota": _q_stratified_sample,
    "decontaminate": _q_decontaminate,
    "embedding_near_dups": _q_embedding_near_dups,
    "postcode_repair_engine": _q_postcode_repair_engine,
    "span_invariant": _q_span_invariant,
    "salted_group_counts": _q_salted_group,
    "traj_kinematics": _q_traj_kinematics,
    "zonal_rect_stats": _q_zonal_rect,
    # golden-gated (non-SQL-expressible math; independent gate in tests/).
    # doc_fingerprints sits FIRST here since round 2 showed the driver
    # report stops at 50 rows and it was the one that fell off the end.
    "doc_fingerprints": _q_fingerprints,
    "minhash_keep_list": _q_minhash_keep,
    "systematic_sample_hash": _q_systematic_sample,
    "hex_cell_counts": _q_hex_cells,
    "s2_cell_counts": _q_s2_cells,
    "minhash_near_dups": _q_minhash,
    "simhash_near_dups": _q_simhash,
    "knn_haversine": _q_knn_haversine,
    "tile_render_raster": _q_tile_render,
    "media_features": _q_media_features,
}

# ---------------------------------------------------------------------------
# Golden regression oracles for queries whose math has no SQL twin (cell
# indexes via trig, xxhash64 sampling, MinHash/SimHash, Arrow-UDF features).
# Mechanism (round-1 VERDICT item 7): the engine's sf0.01 result is FROZEN
# to a committed parquet (tools/make_golden.py), which DuckDB cross-reads —
# so the driver check pins these queries against regression.  INDEPENDENT
# correctness for each lives in tests/ (brute-force / property / oracle.py
# suites); these rows are regression gates, not independent derivations.
# ---------------------------------------------------------------------------
import os as _os


def _golden_dir() -> str:
    """Resolve tests/golden against the module location, with a fallback
    for deployments where __file__ is not a real directory (e.g. inside a
    spark-submit --py-files ZIP, where os.path.exists is False for
    zip-internal members and DuckDB could not read them anyway): try the
    checked-out repo path before giving up.  A missing golden is still
    reported loudly in oracle_sql() instead of silently degrading to
    rows-only (ADVICE r02)."""
    here = _os.path.join(
        _os.path.dirname(_os.path.abspath(__file__)), "tests", "golden"
    )
    for cand in (here, "/root/repo/tests/golden"):
        if _os.path.isdir(cand):
            return cand
    return here


GOLDEN_DIR = _golden_dir()
GOLDEN_QUERIES = [
    "hex_cell_counts", "s2_cell_counts", "systematic_sample_hash",
    "doc_fingerprints", "minhash_near_dups", "simhash_near_dups",
    "minhash_keep_list", "media_features", "tile_render_raster",
    "embedding_near_dups", "ivf_partial_probe",
]
_GOLDEN_ORACLES = {
    name: f"SELECT * FROM read_parquet('{GOLDEN_DIR}/{name}.parquet')"
    for name in GOLDEN_QUERIES
}


_ENGINE_ORACLES: dict[str, str] = {
    "street_norm_counts_engine": _SHARED_SQL["street_norm_counts"],
    "postcode_partition_engine": _SHARED_SQL["postcode_partition"],
    "key_class_counts_engine": _SHARED_SQL["key_class_counts"],
    "shape_tags_engine": _SHAPE_TAGS_ORACLE,
    "cuisines_engine": _SHARED_SQL["cuisines_of_restaurants"],
    "pip_rect_join": _PIP_ORACLE,
    "knn_sq_deg": _KNN_ORACLE,
    "tile_raster_sparse": _RASTER_ORACLE,
    "exact_dedup_keep": _EXACT_DEDUP_ORACLE,
    "ngram_jaccard": _NGRAM_ORACLE,
    "verified_near_dups": _VERIFIED_ORACLE,
    "text_stats": _TEXT_STATS_ORACLE,
    "lang_trigram": _lang_trigram_sql(),
    "bm25_topk": _BM25_ORACLE,
    "ngram_ppl": _NGRAM_PPL_ORACLE,
    "repetition_stats": _REPETITION_ORACLE,
    "substring_dedup_spans": _SUBSTRING_SPANS_ORACLE,
    "radius_join_sq_deg": _RADIUS_ORACLE,
    "way_geometry": _WAY_GEOM_ORACLE,
    "asof_join": _ASOF_ORACLE,
    "ann_cosine_topk": _ANN_ORACLE,
    "ivf_full_probe": _ANN_ORACLE,
    "curation_pipeline": _CURATION_ORACLE,
    # same independent SQL gates the sketch path (exact at this accuracy)
    "token_percentiles_approx": _TOKEN_PCT_ORACLE,
    "chunk_documents": _CHUNK_ORACLE,
    "stratified_sample_quota": _STRATIFIED_ORACLE,
    "decontaminate": _DECONTAMINATE_ORACLE,
    "postcode_repair_engine": _POSTCODE_REPAIR_ORACLE,
    "span_invariant": _SPAN_INVARIANT_ORACLE,
    "salted_group_counts": _SALTED_ORACLE,
    "knn_haversine": _KNN_HAVERSINE_ORACLE,
    "traj_kinematics": _TRAJ_KINEMATICS_ORACLE,
    "zonal_rect_stats": _ZONAL_ORACLE,
}




# ---------------------------------------------------------------------------
# Driver API
# ---------------------------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    """Flagship end-to-end slice (SURVEY §7.1 M1) on sf0.001: spansify the
    driver documents into the input_hint schema -> B1 span extraction ->
    A7 street filter -> A8+A11 normalize -> group-count."""
    from osmspark.datagen import documents_from_ids
    from osmspark.operators import audit
    from osmspark.sources import parse_nodes

    flat = spark.read.parquet(f"{DEFAULT_SF_DIR}/documents.parquet")
    docs = documents_from_ids(flat, "doc_id")
    nodes = parse_nodes(docs)
    return audit.normalized_street_counts(audit.streets(nodes))


def _make_sql_runner(sql: str) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _register(spark, sf_dir)
        return spark.sql(sql)

    return run


# The round-2 driver report recorded exactly 50 rows for 51 registered
# queries, truncating in registration order — so the contract is held to a
# HARD budget of 50 entries.  These three shared-SQL rows are NOT registered
# as queries: each one's semantics (A5, A12, A20b) is fully covered by its
# `_engine` twin, which runs the engine OPERATOR on the Spark side against
# the very same DuckDB SQL text as its oracle — strictly the stronger check.
_BUDGET_EXCLUDED = {
    "key_class_counts", "postcode_partition", "cuisines_of_restaurants",
    # retired round 4 (VERDICT item 5): a shared-SQL row that never
    # exercised the engine; exact_dedup_keep gates the same semantics
    # through the operator against an independent oracle
    "exact_dedup_stats",
    # retired round 4 (second rotation) to free budget for the new
    # radius_join_sq_deg and repetition_stats engine rows:
    #  - street_norm_counts: shared-SQL twin of street_norm_counts_engine,
    #    which runs the engine operator against the SAME SQL text
    #  - events_daily: its (event_type, day) grouping is the inner level of
    #    events_rollup's ROLLUP; the fixed-point sum(value) check it added
    #    is also exercised by tpch_q1/revenue_by_nation
    "street_norm_counts",
    "events_daily",
    # retired round 5 (VERDICT item 3) to free budget for the way_geometry
    # and asof_join rows, which run against genuinely independent SQL /
    # native-ASOF oracles — strictly stronger than these two self-frozen
    # golden regression rows:
    #  - hex_cell_counts: the hex grid keeps its golden + property pytest
    #    suite AND the s2_cell_counts driver row gates the shared
    #    cell-assignment plumbing; the retired golden is replayed in
    #    tests/test_entry.py so the regression pin survives off-budget
    #  - tile_render_raster: tile_raster_sparse gates the same tile/pixel
    #    arithmetic against a real SQL oracle; the render path's golden is
    #    likewise replayed in tests/test_entry.py
    "hex_cell_counts",
    "tile_render_raster",
    # retired round 5 (second rotation) to free budget for the
    # substring_dedup_spans engine row (independent DuckDB gram-string
    # oracle): systematic_sample_hash's A2 operator family is already
    # driver-gated by the sample_every_k ORACLE row; the hash-mod variant
    # keeps its pytest suite and its frozen golden is replayed in
    # tests/test_entry.py like the other golden retirees
    "systematic_sample_hash",
    # retired round 5 (third rotation) to free budget for the bm25_topk
    # engine row (bit-exact independent DuckDB oracle over a brand-new
    # operator): customers_without_orders was a shared-SQL anti-join demo
    # that never exercised the engine, and the anti-join stance is
    # already driver-gated through the decontaminate engine row
    # (broadcast hash anti-join on benchmark digests)
    "customers_without_orders",
    # retired round 5 (fourth rotation) to free budget for the ngram_ppl
    # engine row (independent gram-STRING SQL re-derivation of the whole
    # add-k LM): ivf_full_probe's property — nprobe == n_centroids must
    # equal exhaustive search — stays double-gated by the ann_cosine_topk
    # driver row (the SAME _ANN_ORACLE) and the test_ivf_recall pytest
    # (full_s == bf_s set equality); the approximate path the budget
    # keeps, ivf_partial_probe, is the one real pipelines run
    "ivf_full_probe",
    # retired round 5 (fifth rotation) to free budget for the
    # traj_kinematics engine row (independent DuckDB window-SQL
    # re-derivation of dt/dist/speed/octant/spike over bit-reproducible
    # sq_deg arithmetic): top_users was a shared-SQL demo that never
    # exercised the engine; its per-user grouping is the inner level of
    # user_post_histogram (still in budget) and the order-by-count-LIMIT
    # shape stays gated through top_amenities
    "top_users",
    # retired round 5 (sixth rotation) to free budget for the
    # lang_trigram engine row (full independent DuckDB re-derivation of
    # the trigram language-ID: normalize -> gram explode -> profile join
    # -> argmax): minhash_near_dups was a self-frozen golden regression
    # row, while the signature+banding pipeline it pinned stays
    # driver-gated END TO END by verified_near_dups (MinHash LSH
    # candidates -> exact Jaccard verify vs an all-pairs SQL oracle) and
    # minhash_keep_list (same signatures through the CC keep-list);
    # the retired golden is replayed in tests/test_entry.py
    "minhash_near_dups",
    # retired round 5 (seventh rotation) to free budget for the
    # zonal_rect_stats engine row (two-phase zonal statistics against a
    # fully independent strict-bbox aggregate SQL oracle — a brand-new
    # round-5 operator earns a driver gate): doc_fingerprints was a
    # self-frozen golden regression row; winnowing keeps its pytest suite
    # (stability, edge cases, no-Python plan) and the frozen golden is
    # replayed in tests/test_entry.py like the other golden retirees
    "doc_fingerprints",
}
_QUERY_BUDGET = 50


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        name: _make_sql_runner(sql) for name, sql in _SHARED_SQL.items()
        if name not in _BUDGET_EXCLUDED
    }
    q.update({name: fn for name, fn in _ENGINE_QUERIES.items()
              if name not in _BUDGET_EXCLUDED})
    if len(q) > _QUERY_BUDGET:
        # explicit raise, not assert: `python -O` strips asserts and would
        # silently re-open the round-2 truncation failure (round-3 ADVICE)
        raise RuntimeError(
            f"{len(q)} queries registered; the driver reports at most "
            f"{_QUERY_BUDGET} — trim or merge before adding more"
        )
    return q


def oracle_sql() -> dict[str, str]:
    import os
    import sys

    d = {k: v for k, v in _SHARED_SQL.items() if k not in _BUDGET_EXCLUDED}
    d.update({k: v for k, v in _ENGINE_ORACLES.items()
              if k not in _BUDGET_EXCLUDED})
    for name, sql in _GOLDEN_ORACLES.items():
        if name in _BUDGET_EXCLUDED:
            continue
        if os.path.exists(f"{GOLDEN_DIR}/{name}.parquet"):
            d[name] = sql
        else:
            print(
                f"WARNING: golden fixture {GOLDEN_DIR}/{name}.parquet is "
                f"missing — '{name}' degrades to a rows-only check "
                f"(run tools/make_golden.py)",
                file=sys.stderr,
            )
    return d
