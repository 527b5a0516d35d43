"""Deterministic synthetic geo coordinates for oracle-checked queries.

The driver's testdata tables carry no coordinates (FIXTURES.md §5), so
spatial queries derive (lat, lng) from an integer id with *integer* hash
arithmetic — exact in both Spark SQL and DuckDB — followed by only
IEEE-deterministic float ops (multiply/divide/asin), so both engines compute
bit-identical coordinates and the DuckDB oracle can re-derive tile
assignments independently of the Hilbert kernel.

The oracle side (``DUCKDB_FACE_IJ``) re-implements the S2 quadratic
projection chain (s2/stuv.go:186-229, :205-256) in plain SQL: lat/lng ->
xyz -> face (largest |component|) -> (u,v) -> quadratic (s,t) -> (i,j).
Grouping by (face, i>>k, j>>k) is mathematically identical to grouping by
``Parent(cell_id, level)`` — Hilbert numbering permutes cells within a level
but never regroups the quadtree — which is what lets plain SQL verify the
Spark engine's encode->decode->Parent pipeline end to end.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# u1/u2 streams: 32-bit LCG-style integer mixes (fit in int64, no overflow).
_U1 = "((({id} * 2654435761 + 12345) % 4294967296) / 4294967296.0)"
_U2 = "((({id} * 2246822519 + 54321) % 4294967296) / 4294967296.0)"

LAT_SQL = f"degrees(asin(2.0 * {_U1} - 1.0))"
LNG_SQL = f"(360.0 * {_U2} - 180.0)"

# Independent pseudo-time stream (microseconds over a 30-day span).
# The events table's real ts increases with event_id while the LCG geo
# streams are low-discrepancy in id — id-adjacent (= time-adjacent) rows
# are pushed maximally far apart on the sphere, so "near in space AND
# near in real ts" pairs structurally cannot exist.  Spatiotemporal
# queries therefore draw event time from its own hash stream, making
# time and location independent (u3 < 2^32 is exact in a double; the
# divide and multiply are IEEE-identical in Spark and DuckDB).
# NOTE the e0 literals: `4294967296.0` parses as DECIMAL in both Spark
# and DuckDB but their division-scale rules differ (Spark rounds the
# quotient at scale 12, DuckDB at a different scale), which skewed
# floor(u3 * span) by ±1 µs; scientific notation forces DOUBLE in both
# engines, making the whole chain shared-exponent IEEE arithmetic.
_U3 = "(CAST(({id} * 1539316589 + 98765) % 4294967296 AS DOUBLE) / 4294967296e0)"
TS_US_SQL = f"CAST(FLOOR({_U3} * 2592000000000e0) AS BIGINT)"


# Pure-DOUBLE variants of the coordinate streams (the same e0 trick as
# _U3): every op is IEEE +,-,*,/ on identical inputs, so Spark and
# DuckDB agree BITWISE — no trig, no decimal scales.  SINLAT is the
# z-coordinate (sin of latitude): a legitimate position coordinate that
# avoids asin(), which is NOT in the suite's replayable-op set.
_U1_D = (
    "(CAST(({id} * 2654435761 + 12345) % 4294967296 AS DOUBLE)"
    " / 4294967296e0)"
)
_U2_D = (
    "(CAST(({id} * 2246822519 + 54321) % 4294967296 AS DOUBLE)"
    " / 4294967296e0)"
)
SINLAT_SQL = f"(2.0e0 * {_U1_D} - 1.0e0)"
LNG_D_SQL = f"(360.0e0 * {_U2_D} - 180.0e0)"
# Uniform-in-degrees latitude (NOT uniform on the sphere — a fixture
# stream for lattice/rounding contracts where the compared values must
# be bit-identical across engines; same pure +,-,*,/ discipline).
LAT_D_SQL = f"(180.0e0 * {_U1_D} - 90.0e0)"


def with_time_noise(df: DataFrame, id_col: str) -> DataFrame:
    """Adds a deterministic ``ts_us`` epoch-microsecond column."""
    return df.withColumn("ts_us", F.expr(TS_US_SQL.format(id=id_col)))


def with_geo_noise(df: DataFrame, id_col: str) -> DataFrame:
    """Adds deterministic lat/lng columns derived from an integer id."""
    return df.withColumn(
        "lat", F.expr(LAT_SQL.format(id=id_col))
    ).withColumn("lng", F.expr(LNG_SQL.format(id=id_col)))


def local_latlng_sql(
    base_id: str, jitter_id: str, half_deg: float
) -> tuple[str, str]:
    """User-LOCAL coordinates: a base point from ``base_id``'s noise
    streams plus a +-``half_deg`` jitter from ``jitter_id``'s — the
    trajectory-realism fixture.  GPS traces and road networks are local
    objects; deriving every vertex from independent global noise makes
    continent-spanning zigzags whose buffered coverings blanket the
    sphere and turn candidate joins all-pairs (measured: the map-match
    query went 163s -> ~2s at sf0.1 when its fixture switched to this).
    Latitude clamps at +-89.9; longitude may exit [-180, 180) by
    half_deg, which every consumer (trig-based xyz) treats periodically.
    Same shared-exponent IEEE arithmetic contract as the global streams."""
    lat = (
        f"greatest(-89.9, least(89.9, {LAT_SQL.format(id=base_id)}"
        f" + (2.0 * {_U1.format(id=jitter_id)} - 1.0) * {half_deg!r}))"
    )
    lng = (
        f"({LNG_SQL.format(id=base_id)}"
        f" + (2.0 * {_U2.format(id=jitter_id)} - 1.0) * {half_deg!r})"
    )
    return lat, lng


# DuckDB CTE re-deriving (face, i, j) from lat/lng via the S2 projection
# chain.  {src} must provide columns lat, lng.  i/j are leaf-level in
# [0, 2^30); shift right to the desired tile level.
DUCKDB_FACE_IJ = """
    SELECT *,
           axis + CASE WHEN comp < 0 THEN 3 ELSE 0 END AS face
    FROM (
        SELECT *,
               CASE WHEN ax > ay AND ax > az THEN 0
                    WHEN ay > az THEN 1 ELSE 2 END AS axis,
               CASE WHEN ax > ay AND ax > az THEN x
                    WHEN ay > az THEN y ELSE z END AS comp
        FROM (
            SELECT *, abs(x) AS ax, abs(y) AS ay, abs(z) AS az
            FROM (
                SELECT *,
                       cos(radians(lng)) * cos(radians(lat)) AS x,
                       sin(radians(lng)) * cos(radians(lat)) AS y,
                       sin(radians(lat)) AS z
                FROM ({src})
            )
        )
    )
"""

DUCKDB_IJ = """
    SELECT *,
           CAST(least(greatest(floor(1073741824.0 * s), 0), 1073741823) AS BIGINT) AS i,
           CAST(least(greatest(floor(1073741824.0 * t), 0), 1073741823) AS BIGINT) AS j
    FROM (
        SELECT *,
               CASE WHEN u >= 0 THEN 0.5 * sqrt(1 + 3 * u)
                    ELSE 1 - 0.5 * sqrt(1 - 3 * u) END AS s,
               CASE WHEN v >= 0 THEN 0.5 * sqrt(1 + 3 * v)
                    ELSE 1 - 0.5 * sqrt(1 - 3 * v) END AS t
        FROM (
            SELECT *,
                   CASE face WHEN 0 THEN y / x WHEN 1 THEN -x / y
                             WHEN 2 THEN -x / z WHEN 3 THEN z / x
                             WHEN 4 THEN z / y ELSE -y / z END AS u,
                   CASE face WHEN 0 THEN z / x WHEN 1 THEN z / y
                             WHEN 2 THEN -y / z WHEN 3 THEN y / x
                             WHEN 4 THEN -x / y ELSE -x / z END AS v
            FROM ({src})
        )
    )
"""


def duckdb_face_ij_query(src_with_latlng: str) -> str:
    """Full oracle pipeline: src (with lat,lng) -> face,i,j columns."""
    inner = DUCKDB_FACE_IJ.format(src=src_with_latlng)
    return DUCKDB_IJ.format(src=inner)
