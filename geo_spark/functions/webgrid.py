"""Native Spark Column expressions for geohash and Web-Mercator/quadkey
tiles — zero UDFs, everything stays inside whole-stage codegen.

These mirror `kernel/webgrid.py` bit-for-bit: same quantization operation
order (IEEE add → divide → multiply → floor, identical across engines),
same Morton spread masks, same MSB-first character extraction.  The
geohash path is transcendental-free, so Spark, numpy, and a DuckDB oracle
produce byte-identical tokens by construction; the Mercator path shares
sin/log whose last-ulp behaviour is libm-specific — boundary flips need
the true value within ~1 ulp of an integer, measure-zero for hashed
coordinates (same acceptance as the hexgrid oracle; cross-checked against
numpy on 200k random points in tests/test_webgrid.py).

At 100 TB scale these are the cheap tile-assignment path: a geohash or
quadkey column is one codegen'd projection per row (no shuffle, no
Python), and its lexicographic prefix IS the spatial hierarchy — prefix
equality = ancestor containment — so `substr(geohash, 1, k)` gives free
multi-resolution rollups and Hilbert/Z-order data-skipping when used as a
sort or bucket key.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from geo_spark.kernel.webgrid import (
    GEOHASH_BASE32,
    MAX_GEOHASH_PRECISION,
    MAX_ZOOM,
    MERCATOR_MAX_LAT,
    _geohash_bits,
)

_DEG2RAD = float(np.radians(1.0))  # the exact double numpy multiplies by
_4PI = float(4.0 * np.pi)

_SPREAD_STEPS = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)


def spread_bits(x: Column) -> Column:
    """Morton-spread the low 32 bits to even positions (long stays
    positive: inputs are <= 30 bits so the result tops out at bit 58)."""
    for sh, mask in _SPREAD_STEPS:
        x = (x.bitwiseOR(F.shiftleft(x, sh))).bitwiseAND(F.lit(mask))
    return x


def _chars(code: Column, nchars: int, bits: int, alphabet: str) -> Column:
    """MSB-first fixed-width string from a packed code via per-position
    substr on the alphabet literal (codegen-friendly concat chain)."""
    parts = []
    for k in range(nchars):
        idx = F.shiftrightunsigned(code, bits * (nchars - 1 - k)).bitwiseAND(
            F.lit((1 << bits) - 1)
        )
        parts.append(F.substr(F.lit(alphabet), idx + F.lit(1), F.lit(1)))
    return F.concat(*parts)


# ---------------------------------------------------------------------------
# geohash
# ---------------------------------------------------------------------------


def _quantize(v: Column, lo: float, span: float, bits: int) -> Column:
    """floor((v - lo)/span * 2^bits) clamped into [0, 2^bits-1]; the
    operation order matches kernel.webgrid.geohash_quantize exactly."""
    n = float(1 << bits)
    q = F.floor((v + F.lit(-lo)) / F.lit(span) * F.lit(n))
    return F.greatest(F.lit(0), F.least(F.lit((1 << bits) - 1), q))


def geohash_code_col(lat: Column, lng: Column, precision: int) -> Column:
    """The 5*precision-bit interleaved geohash integer as a long column."""
    if not 1 <= precision <= MAX_GEOHASH_PRECISION:
        raise ValueError(f"precision must be in [1,{MAX_GEOHASH_PRECISION}]")
    lng_bits, lat_bits = _geohash_bits(precision)
    lat_q = _quantize(lat.cast("double"), -90.0, 180.0, lat_bits)
    lng_q = _quantize(lng.cast("double"), -180.0, 360.0, lng_bits)
    if (5 * precision) % 2 == 0:
        return F.shiftleft(spread_bits(lng_q), 1).bitwiseOR(spread_bits(lat_q))
    return spread_bits(lng_q).bitwiseOR(F.shiftleft(spread_bits(lat_q), 1))


def geohash_col(lat: Column, lng: Column, precision: int) -> Column:
    """Byte-exact geohash string column (interoperable with any external
    geohash-indexed dataset)."""
    return _chars(geohash_code_col(lat, lng, precision), precision, 5, GEOHASH_BASE32)


# ---------------------------------------------------------------------------
# Web-Mercator XYZ tiles + quadkey
# ---------------------------------------------------------------------------


def mercator_xy_cols(lat: Column, lng: Column, zoom: int) -> tuple[Column, Column]:
    """(tile_x, tile_y) long columns at the zoom, matching
    kernel.webgrid.mercator_tile's clamp + formula."""
    if not 0 <= zoom <= MAX_ZOOM:
        raise ValueError(f"zoom must be in [0,{MAX_ZOOM}]")
    n = float(1 << zoom)
    hi = (1 << zoom) - 1
    latc = F.greatest(
        F.lit(-MERCATOR_MAX_LAT), F.least(F.lit(MERCATOR_MAX_LAT), lat.cast("double"))
    )
    x = F.floor((lng.cast("double") + F.lit(180.0)) / F.lit(360.0) * F.lit(n))
    s = F.sin(latc * F.lit(_DEG2RAD))
    y = F.floor(
        (F.lit(0.5) - F.log((F.lit(1.0) + s) / (F.lit(1.0) - s)) / F.lit(_4PI)) * F.lit(n)
    )
    clampx = F.greatest(F.lit(0), F.least(F.lit(hi), x)).cast("long")
    clampy = F.greatest(F.lit(0), F.least(F.lit(hi), y)).cast("long")
    return clampx, clampy


def quadkey_code_col(x: Column, y: Column) -> Column:
    """Interleaved quadkey integer: y bits above x bits per pair."""
    return F.shiftleft(spread_bits(y), 1).bitwiseOR(spread_bits(x))


def quadkey_col(x: Column, y: Column, zoom: int) -> Column:
    """Bing quadkey string of length zoom from tile coordinates."""
    if not 1 <= zoom <= MAX_ZOOM:
        raise ValueError(f"zoom must be in [1,{MAX_ZOOM}]")
    return _chars(quadkey_code_col(x, y), zoom, 2, "0123")


def quadkey_from_latlng(lat: Column, lng: Column, zoom: int) -> Column:
    """lat/lng -> Bing quadkey in one codegen'd projection."""
    x, y = mercator_xy_cols(lat, lng, zoom)
    return quadkey_col(x, y, zoom)


# ---------------------------------------------------------------------------
# engine-portable SQL text (native SQL-function bodies + DuckDB oracles)
# ---------------------------------------------------------------------------


def geohash_char_sql(lng_q: str, lat_q: str, precision: int) -> list[str]:
    """Per-character SQL exprs for a geohash from quantized integer
    exprs, by DIRECT bit gather (no Morton masks): bisection bit order —
    even stream positions pull lng bits MSB-down, odd pull lat.  Valid
    Spark 4 SQL (native-function bodies that inline into codegen) and
    DuckDB SQL (the structurally-independent oracle twin) alike."""
    lng_bits, lat_bits = _geohash_bits(precision)
    chars = []
    for k in range(precision):
        terms = []
        for j in range(5):
            m = 5 * k + j  # global bit index from MSB
            if m % 2 == 0:
                src, s = lng_q, lng_bits - 1 - m // 2
            else:
                src, s = lat_q, lat_bits - 1 - m // 2
            terms.append(f"((({src} >> {s}) & 1) << {4 - j})")
        chars.append(
            f"substring('{GEOHASH_BASE32}', 1 + ({' + '.join(terms)}), 1)"
        )
    return chars


def geohash_sql_text(lat: str, lng: str, precision: int) -> str:
    """One self-contained SQL expression computing the geohash of
    (lat, lng) exprs — portable between Spark SQL and DuckDB."""
    lng_bits, lat_bits = _geohash_bits(precision)

    def q(v: str, lo: float, span: float, bits: int) -> str:
        return (
            f"GREATEST(0, LEAST({(1 << bits) - 1}, "
            f"CAST(FLOOR((({v}) + {-lo!r}) / {span!r} * {float(1 << bits)!r}) AS BIGINT)))"
        )

    lat_q = q(lat, -90.0, 180.0, lat_bits)
    lng_q = q(lng, -180.0, 360.0, lng_bits)
    chars = geohash_char_sql(lng_q, lat_q, precision)
    return "(" + " || ".join(chars) + ")"


def mercator_xy_sql(lat: str, lng: str, zoom: int) -> tuple[str, str]:
    """(x, y) tile-coordinate SQL exprs, portable Spark/DuckDB, matching
    mercator_xy_cols' clamp + operation order."""
    n = float(1 << zoom)
    hi = (1 << zoom) - 1
    latc = f"GREATEST({-MERCATOR_MAX_LAT!r}, LEAST({MERCATOR_MAX_LAT!r}, ({lat})))"
    x = (
        f"GREATEST(0, LEAST({hi}, "
        f"CAST(FLOOR((({lng}) + 180.0) / 360.0 * {n!r}) AS BIGINT)))"
    )
    s = f"sin({latc} * {_DEG2RAD!r})"
    y = (
        f"GREATEST(0, LEAST({hi}, CAST(FLOOR((0.5 - ln((1.0 + {s}) / "
        f"(1.0 - {s})) / {_4PI!r}) * {n!r}) AS BIGINT)))"
    )
    return x, y


def zorder_key_sql(x: str, y: str, zoom: int) -> str:
    """Morton/Z-order integer SQL expr from tile-coordinate exprs —
    the arithmetic twin of :func:`quadkey_code_col` (y bits above x
    bits per pair), portable Spark/DuckDB."""
    terms = []
    for b in range(zoom):
        terms.append(f"(((({x}) >> {b}) & 1) << {2 * b})")
        terms.append(f"(((({y}) >> {b}) & 1) << {2 * b + 1})")
    return "(" + " + ".join(terms) + ")"


def quadkey_sql_text(x: str, y: str, zoom: int) -> str:
    """Quadkey string SQL expr from tile-coordinate exprs (digit =
    2*y_bit + x_bit, MSB-first), portable Spark/DuckDB."""
    digits = []
    for k in range(zoom):
        s = zoom - 1 - k
        digits.append(
            f"CAST(2 * ((({y}) >> {s}) & 1) + ((({x}) >> {s}) & 1) AS STRING)"
        )
    return "(" + " || ".join(digits) + ")"
