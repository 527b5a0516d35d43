"""Tile assignment: leaf cell encode (vectorized UDF) + native-SQL parents.

The flagship P1 pipeline (SURVEY.md §7 P1): pages -> geotags -> level-30 leaf
cell (one pandas-UDF pass) -> tile columns Parent(cell, l) as pure JVM bit
math -> per-tile aggregates.  Parent() is s2/cellid.go:177-180; grouping by
the level-l parent is *identical* to grouping by the (face, i>>k, j>>k)
quadtree prefix, which is what the DuckDB oracles verify independently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from geo_spark.functions import sql as s2sql
from geo_spark.functions.s2 import s2_cellid


def with_cell_id(
    df: DataFrame, lat_col: str = "lat", lng_col: str = "lng", out: str = "cell_id"
) -> DataFrame:
    """Adds the biased-int64 level-30 leaf cell id."""
    return df.withColumn(out, s2_cellid(F.col(lat_col), F.col(lng_col)))


def with_tiles(df: DataFrame, levels: tuple[int, ...] = (10, 16), cell_col: str = "cell_id") -> DataFrame:
    """Adds tile_l{level} columns — native bit math, whole-stage codegen."""
    for lvl in levels:
        df = df.withColumn(f"tile_l{lvl}", s2sql.parent(F.col(cell_col), lvl))
    return df


def tile_counts(
    df: DataFrame, level: int, cell_col: str = "cell_id", sort: bool = True
) -> DataFrame:
    """Pages per tile at a level.  Map-side partial aggregation is free
    (hash agg); with ``sort=True`` output is ordered by tile id = Hilbert
    order, the locality-preserving write order for downstream consumers
    (skip it when the consumer repartitions anyway — the global sort is
    an extra full shuffle)."""
    # Null cells are filtered AFTER the aggregation (one group) — a
    # pre-agg filter on the UDF output gets pushed below the projection and
    # duplicates the ArrowEvalPython node, running the UDF twice per row.
    tile = s2sql.parent(F.col(cell_col), level).alias("tile")
    out = (
        df.groupBy(tile)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("tile").isNotNull())
    )
    return out.orderBy("tile") if sort else out


def tile_focal_mean(
    df: DataFrame,
    zoom: int,
    latlng: tuple[str, str] = ("lat", "lng"),
    scale: int = 1_000_000,
) -> DataFrame:
    """Raster-algebra focal (3x3) mean over the web-mercator tile grid:
    per-tile counts smoothed with their 8 neighbors (absent neighbors
    count 0) — the heatmap-smoothing kernel, entirely native SQL.

    Scale shape: the raw rows collapse to occupied tiles FIRST (the only
    full-data shuffle, map-side combined); the 9-offset explode then
    multiplies the bounded tile table, never the input, and the re-sum
    is a second small hash aggregate.  x wraps around the antimeridian;
    y clamps at the mercator poles (no wrap — offsets off the grid are
    dropped).  Output keeps only tiles whose own count is nonzero, via
    a semi join against the occupied set (broadcast-sized next to the
    input).

    ``smoothed`` is returned as FLOOR(sum * scale / 9) — integer, so
    distributed float summation order cannot perturb it."""
    from geo_spark.functions.webgrid import mercator_xy_cols

    n = 1 << zoom
    x, y = mercator_xy_cols(F.col(latlng[0]), F.col(latlng[1]), zoom)
    base = (
        df.select(x.alias("tx"), y.alias("ty"))
        .groupBy("tx", "ty")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    offsets = F.explode(
        F.array(
            *[
                F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                for dx in (-1, 0, 1)
                for dy in (-1, 0, 1)
            ]
        )
    )
    contrib = (
        base.select("tx", "ty", "cnt", offsets.alias("o"))
        .select(
            (((F.col("tx") + F.col("o.dx")) + n) % n).alias("nx"),
            (F.col("ty") + F.col("o.dy")).alias("ny"),
            "cnt",
        )
        .where((F.col("ny") >= 0) & (F.col("ny") < n))
        .groupBy("nx", "ny")
        .agg(F.sum("cnt").alias("s"))
    )
    occupied = base.select(
        F.col("tx").alias("nx"), F.col("ty").alias("ny")
    )
    return contrib.join(occupied, ["nx", "ny"], "semi").select(
        F.col("nx").alias("tx"),
        F.col("ny").alias("ty"),
        F.floor(F.col("s") * scale / 9).cast("long").alias("smoothed"),
    )


def tile_kde(
    df: DataFrame,
    zoom: int,
    radius: int = 2,
    latlng: tuple[str, str] = ("lat", "lng"),
) -> DataFrame:
    """Discrete-Gaussian kernel density over the web-mercator tile
    grid: per-tile counts convolved with the binomial kernel
    C(2r, k) — the exact integer discretization of a Gaussian (sigma
    ~ sqrt(r/2) tiles), so the heatmap is bit-portable across engines
    (no float kernel, no normalization division; the kernel mass is
    (2^(2r))^2, left unnormalized in ``density``).

    SEPARABLE: the 2-D convolution runs as two 1-D passes (x with
    antimeridian wrap, then y with pole clamp), 2*(2r+1) contribution
    rows per occupied tile instead of (2r+1)^2 — at radius 2 that is
    10 vs 25, and the gap grows linearly with radius.  The oracle
    replays the NON-separated 2-D product kernel, so the separability
    identity itself is what the contract certifies.

    Scale shape: raw rows collapse to occupied tiles first (the only
    full-data shuffle, map-side combined); both convolution passes
    explode only the bounded tile table and re-aggregate with partial
    combine.  Output keeps tiles whose own count is nonzero (semi
    join), matching tile_focal_mean's contract."""
    from math import comb

    from geo_spark.functions.webgrid import mercator_xy_cols

    n = 1 << zoom
    w = [comb(2 * radius, j) for j in range(2 * radius + 1)]
    x, y = mercator_xy_cols(F.col(latlng[0]), F.col(latlng[1]), zoom)
    base = (
        df.select(x.alias("tx"), y.alias("ty"))
        .groupBy("tx", "ty")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    kern = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(j - radius).alias("d"), F.lit(w[j]).alias("w")
                )
                for j in range(2 * radius + 1)
            ]
        )
    )
    px = (
        base.select("tx", "ty", "cnt", kern.alias("k"))
        .select(
            (((F.col("tx") + F.col("k.d")) + n) % n).alias("nx"),
            F.col("ty"),
            (F.col("cnt") * F.col("k.w")).alias("part"),
        )
        .groupBy("nx", "ty")
        .agg(F.sum("part").alias("sx"))
    )
    kde = (
        px.select("nx", "ty", "sx", kern.alias("k"))
        .select(
            "nx",
            (F.col("ty") + F.col("k.d")).alias("ny"),
            (F.col("sx") * F.col("k.w")).alias("part"),
        )
        .where((F.col("ny") >= 0) & (F.col("ny") < n))
        .groupBy("nx", "ny")
        .agg(F.sum("part").alias("density"))
    )
    occupied = base.select(F.col("tx").alias("nx"), F.col("ty").alias("ny"))
    return kde.join(occupied, ["nx", "ny"], "semi").select(
        F.col("nx").alias("tx"),
        F.col("ny").alias("ty"),
        F.col("density").cast("long").alias("density"),
    )


def quadkey_pyramid(
    df: DataFrame,
    zoom: int,
    latlng: tuple[str, str] = ("lat", "lng"),
) -> DataFrame:
    """Full web-map aggregation pyramid: per-tile counts at EVERY zoom
    0..zoom, in two shuffles total regardless of depth.

    Shape for the 10^12-row table: the raw rows first collapse to
    base-zoom tiles (<= 4^zoom groups, map-side combined — the only
    shuffle that touches full data), then the pyramid is built by
    exploding each base tile's zoom+1 quadkey prefixes and re-summing —
    the explode multiplies the *tile* table (bounded, tiny next to the
    input), never the input.  The naive per-zoom loop would rescan or
    reshuffle the input `zoom` times; the naive explode-first plan
    multiplies the input by zoom+1 before any combine.

    Output: (zoom, qk, cnt) with qk = '' at zoom 0."""
    from geo_spark.functions.webgrid import quadkey_from_latlng

    base = (
        df.select(
            quadkey_from_latlng(F.col(latlng[0]), F.col(latlng[1]), zoom).alias("qk")
        )
        .groupBy("qk")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pre = F.posexplode(
        F.array(*[F.substring(F.col("qk"), 1, z) for z in range(zoom + 1)])
    )
    return (
        base.select(pre.alias("zoom", "qk_pre"), "cnt")
        .groupBy("zoom", "qk_pre")
        .agg(F.sum("cnt").alias("cnt"))
        .select(F.col("zoom").cast("int").alias("zoom"), F.col("qk_pre").alias("qk"), "cnt")
    )


def decayed_tile_counts(
    events: DataFrame,
    zoom: int = 4,
    half_life_days: int = 1,
    ts_us_col: str = "ts_us",
    latlng: tuple[str, str] = ("lat", "lng"),
) -> DataFrame:
    """(qk, n_events, score_x2w): per-tile trending score under
    exponential half-life decay, kept EXACT by scaling: each event at
    day d contributes 2^(d div half_life_days), so
    ``score_x2w / 2^(D div half_life_days)`` is the classic decayed
    count at horizon day D — but the stored sum is an INTEGER (powers
    of two), partition-order invariant and engine-portable, where a
    float decay sum is neither.  Fits bigint for horizons up to ~40
    half-lives per count magnitude; beyond that, rebase periodically
    (subtract the min day — the standard decayed-counter trick).

    Scale shape: ONE map-side-combined groupBy over codegen quadkey +
    shift exprs; no window, no Python."""
    from geo_spark.functions.webgrid import quadkey_from_latlng

    la, ln = latlng
    qk = quadkey_from_latlng(F.col(la), F.col(ln), zoom)
    w = F.expr(
        f"shiftleft(cast(1 as bigint), "
        f"cast(({ts_us_col} div 86400000000) div {half_life_days} as int))"
    )
    return (
        events.select(qk.alias("qk"), w.alias("_w"))
        .groupBy("qk")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("_w").alias("score_x2w"),
        )
    )


def tile_day_anomalies(
    events: DataFrame,
    zoom: int = 4,
    window_days: int = 3,
    ts_us_col: str = "ts_us",
    latlng: tuple[str, str] = ("lat", "lng"),
) -> DataFrame:
    """(qk, day, cnt, prev, is_spike): per tile-day event counts with a
    trailing ``window_days`` baseline and an integer spike rule
    cnt*2 >= prev*3 (i.e. the day runs at >= 1.5x the whole trailing
    window) — the monitoring/alerting rollup.

    The baseline window uses a RANGE frame over the integer day key
    (RANGE BETWEEN w PRECEDING AND 1 PRECEDING), so EMPTY days gap
    correctly without densifying the tile x day grid — the trap a ROWS
    frame would hit (3 *rows* back is not 3 *days* back when days are
    missing).  Plan: one map-combined (tile, day) groupBy, then the
    window over the already-aggregated (small) table; all-integer
    comparisons, engine-portable."""
    from geo_spark.functions.webgrid import quadkey_from_latlng

    la, ln = latlng
    qk = quadkey_from_latlng(F.col(la), F.col(ln), zoom)
    day = F.expr(f"{ts_us_col} div 86400000000")
    daily = (
        events.select(qk.alias("qk"), day.alias("day"))
        .groupBy("qk", "day")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = (
        Window.partitionBy("qk")
        .orderBy("day")
        .rangeBetween(-window_days, -1)
    )
    return daily.select(
        "qk",
        "day",
        "cnt",
        F.coalesce(F.sum("cnt").over(w), F.lit(0)).alias("prev"),
    ).withColumn(
        "is_spike",
        (
            (F.col("prev") > 0)
            & (F.col("cnt") * 2 >= F.col("prev") * 3)
        ).cast("int"),
    )


def morans_i(
    occ: DataFrame,
    z: int,
    x_col: str = "tx",
    y_col: str = "ty",
    value_col: str = "cnt",
) -> DataFrame:
    """One row (n_tiles, w_pairs, i_ppm): GLOBAL Moran's I — the
    standard spatial-autocorrelation statistic (is the value surface
    clustered, random, or dispersed?) — over occupied web-mercator
    tiles with binary queen (8-neighbor) weights, x wrapping at the
    antimeridian and y clamped (the q_tile_flood adjacency).

    Exact-integer formulation (the engine's portability discipline):
    with N tiles, S = Σv, let d_i = N·v_i − S (so d_i = N·(v_i − v̄)
    with no fraction).  Then

        I = (N/W) · Σ_{ij adjacent} d_i d_j / Σ_i d_i²

    — the N² from the deviations cancels — and the output is the ppm
    floor  i_ppm = sign(num)·(|N·Σd_i d_j·10⁶| // (W·Σd_i²))  computed
    in DECIMAL(38)/HUGEINT, truncating division on a non-negative
    numerator only (the _rescale rule), so Spark and the SQL oracle
    agree bit-for-bit.  I > 0 means clustering (hot tiles neighbor hot
    tiles), ≈ −1/(N−1)·1e6 random, < that dispersed.

    Scale shape: one total aggregate, one 8-way neighbor explode +
    equi-join on tile keys (never a cross join), two skinny decimal
    sums.  Emits W (adjacency-pair count) so callers can detect the
    degenerate no-adjacency grid (i_ppm NULL)."""
    n = 1 << z
    base = occ.select(
        F.col(x_col).alias("tx"),
        F.col(y_col).alias("ty"),
        F.col(value_col).cast("long").alias("v"),
    )
    tot = base.agg(
        F.count(F.lit(1)).alias("nn"), F.sum("v").alias("ss")
    )
    d = base.crossJoin(F.broadcast(tot)).select(
        "tx", "ty", (F.col("nn") * F.col("v") - F.col("ss")).alias("d")
    )
    den = d.agg(
        F.sum(
            F.expr("cast(d as decimal(38,0)) * cast(d as decimal(38,0))")
        ).alias("den")
    )
    offsets = F.explode(
        F.array(
            *[
                F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                for dx in (-1, 0, 1)
                for dy in (-1, 0, 1)
                if (dx, dy) != (0, 0)
            ]
        )
    )
    nbr = (
        d.select("tx", "ty", "d", offsets.alias("o"))
        .select(
            ((F.col("tx") + F.col("o.dx") + n) % n).alias("nx"),
            (F.col("ty") + F.col("o.dy")).alias("ny"),
            F.col("d").alias("d_src"),
        )
        .where((F.col("ny") >= 0) & (F.col("ny") < n))
    )
    pairs = nbr.join(
        d.select(
            F.col("tx").alias("nx"),
            F.col("ty").alias("ny"),
            F.col("d").alias("d_dst"),
        ),
        ["nx", "ny"],
    )
    numw = pairs.agg(
        F.sum(
            F.expr(
                "cast(d_src as decimal(38,0)) * cast(d_dst as decimal(38,0))"
            )
        ).alias("num"),
        F.count(F.lit(1)).alias("w"),
    )
    return (
        tot.crossJoin(den)
        .crossJoin(numw)
        .select(
            F.col("nn").cast("long").alias("n_tiles"),
            F.col("w").cast("long").alias("w_pairs"),
            F.expr(
                "cast(CASE WHEN num >= 0"
                " THEN (num * nn * 1000000) div (w * den)"
                " ELSE -((-num * nn * 1000000) div (w * den)) END"
                " as bigint)"
            ).alias("i_ppm"),
        )
    )


def local_morans(
    occ: DataFrame,
    z: int,
    x_col: str = "tx",
    y_col: str = "ty",
    value_col: str = "cnt",
) -> DataFrame:
    """(tx, ty, i_ppm, quadrant): LOCAL Moran's I (Anselin's LISA) per
    occupied tile — where the global statistic says "the surface is
    clustered", the local one says *which tiles* are the clusters:

        I_i = N · d_i · Σ_{j adjacent} d_j / Σ_k d_k²

    (d_i = N·v_i − S as in :func:`morans_i`; same queen adjacency,
    same exact-integer ppm floor with the sign-split division).
    ``quadrant`` is the LISA cluster map label from the signs of d_i
    and the neighbor sum: HH hot spot, LL cold spot, HL hot outlier in
    a cold field, LH the reverse; tiles with zero deviation or no
    neighbors get ''.

    Scale shape: identical joins to morans_i plus one per-tile
    neighbor-sum aggregate — everything stays keyed by tile, no
    cross join, broadcast only of the 1-row totals."""
    n = 1 << z
    base = occ.select(
        F.col(x_col).alias("tx"),
        F.col(y_col).alias("ty"),
        F.col(value_col).cast("long").alias("v"),
    )
    tot = base.agg(
        F.count(F.lit(1)).alias("nn"), F.sum("v").alias("ss")
    )
    d = base.crossJoin(F.broadcast(tot)).select(
        "tx", "ty", (F.col("nn") * F.col("v") - F.col("ss")).alias("d")
    )
    den = d.agg(
        F.sum(
            F.expr("cast(d as decimal(38,0)) * cast(d as decimal(38,0))")
        ).alias("den")
    )
    offsets = F.explode(
        F.array(
            *[
                F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                for dx in (-1, 0, 1)
                for dy in (-1, 0, 1)
                if (dx, dy) != (0, 0)
            ]
        )
    )
    nbr = (
        d.select("tx", "ty", offsets.alias("o"))
        .select(
            "tx",
            "ty",
            ((F.col("tx") + F.col("o.dx") + n) % n).alias("nx"),
            (F.col("ty") + F.col("o.dy")).alias("ny"),
        )
        .where((F.col("ny") >= 0) & (F.col("ny") < n))
    )
    nsum = (
        nbr.join(
            d.select(
                F.col("tx").alias("nx"),
                F.col("ty").alias("ny"),
                F.col("d").alias("d_nbr"),
            ),
            ["nx", "ny"],
        )
        .groupBy("tx", "ty")
        .agg(F.sum("d_nbr").alias("lag"))
    )
    out = (
        d.join(nsum, ["tx", "ty"], "left")
        .crossJoin(F.broadcast(tot.select("nn")))
        .crossJoin(F.broadcast(den))
    )
    num = "cast(d as decimal(38,0)) * cast(lag as decimal(38,0)) * nn * 1000000"
    return out.select(
        "tx",
        "ty",
        F.expr(
            f"cast(CASE WHEN lag IS NULL THEN NULL"
            f" WHEN ({num}) >= 0 THEN ({num}) div den"
            f" ELSE -((-({num})) div den) END as bigint)"
        ).alias("i_ppm"),
        F.expr(
            "CASE WHEN lag IS NULL OR d = 0 OR lag = 0 THEN ''"
            " WHEN d > 0 AND lag > 0 THEN 'HH'"
            " WHEN d < 0 AND lag < 0 THEN 'LL'"
            " WHEN d > 0 THEN 'HL' ELSE 'LH' END"
        ).alias("quadrant"),
    )


def colocation_lift(
    pts: DataFrame,
    z: int,
    type_col: str = "event_type",
    x_col: str = "tx",
    y_col: str = "ty",
) -> DataFrame:
    """(type_a, type_b, n_a, n_b, n_ab, n_tiles, lift_ppm): spatial
    co-location mining — for every unordered pair of event types, how
    much more often they share a tile than independence predicts:

        lift = P(a ∧ b) / (P(a)·P(b))
             = n_ab · n_tiles / (n_a · n_b)        (tile-presence counts)

    emitted as the exact ppm floor (n_ab·n_tiles·10⁶) // (n_a·n_b) —
    the spatial cousin of text.token_lift (same bounded-denominator
    integer-PMI trick: the log is dropped, monotone, so the RANKING is
    the association ranking).  lift > 1e6 means attraction, < 1e6
    avoidance.

    Scale shape: one distinct (tile, type) projection, one self-join
    keyed by tile (fan-out bounded by types-per-tile, never by row
    count — the degree-bounded wedge trick from triangle_counts), one
    pair aggregate + two broadcast-size per-type joins."""
    occ = pts.select(
        F.col(x_col), F.col(y_col), F.col(type_col).alias("t")
    ).distinct()
    per_type = occ.groupBy("t").agg(F.count(F.lit(1)).alias("n_t"))
    n_tiles = occ.select(x_col, y_col).distinct().count()
    a = occ.select(x_col, y_col, F.col("t").alias("type_a"))
    b = occ.select(x_col, y_col, F.col("t").alias("type_b"))
    pairs = (
        a.join(b, [x_col, y_col])
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    na = per_type.select(
        F.col("t").alias("type_a"), F.col("n_t").alias("n_a")
    )
    nb = per_type.select(
        F.col("t").alias("type_b"), F.col("n_t").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(na), "type_a")
        .join(F.broadcast(nb), "type_b")
        .select(
            "type_a",
            "type_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.col("n_ab").cast("long").alias("n_ab"),
            F.lit(n_tiles).cast("long").alias("n_tiles"),
            F.expr(
                f"(n_ab * {n_tiles} * cast(1000000 as bigint))"
                " div (n_a * n_b)"
            ).alias("lift_ppm"),
        )
    )


# Marching-squares segment table: case -> list of (corner-pair,
# corner-pair) segments, each endpoint the midpoint of a block edge.
# Corners: bit0=TL(0,0) bit1=TR(1,0) bit2=BL(0,1) bit3=BR(1,1)
# (x right, y down); edges by midpoint in HALF-UNIT block coords (x2
# integers): top=(1,0) left=(0,1) right=(2,1) bottom=(1,2).  A segment
# crosses exactly the edges whose two corners straddle the threshold.
# Saddles under this bit order are 6 (TR+BL) and 9 (TL+BR); both use
# the fixed two-corner-isolating convention (no center disambiguation,
# which would need a float average) so the output is deterministic.
_MS_SEGMENTS = {
    1: [((0, 1), (1, 0))],                       # TL
    2: [((1, 0), (2, 1))],                       # TR
    3: [((0, 1), (2, 1))],                       # top row
    4: [((0, 1), (1, 2))],                       # BL
    5: [((1, 0), (1, 2))],                       # left column
    6: [((1, 0), (2, 1)), ((0, 1), (1, 2))],     # saddle TR/BL
    7: [((1, 2), (2, 1))],                       # all but BR
    8: [((1, 2), (2, 1))],                       # BR
    9: [((0, 1), (1, 0)), ((1, 2), (2, 1))],     # saddle TL/BR
    10: [((1, 0), (1, 2))],                      # right column
    11: [((0, 1), (1, 2))],                      # all but BL
    12: [((0, 1), (2, 1))],                      # bottom row
    13: [((1, 0), (2, 1))],                      # all but TR
    14: [((0, 1), (1, 0))],                      # all but TL
}


def contour_segments(
    occ: DataFrame,
    threshold: int,
    x_col: str = "tx",
    y_col: str = "ty",
    value_col: str = "cnt",
) -> DataFrame:
    """(bx, by, mask, x1, y1, x2, y2): isoline extraction — marching
    squares over the tile-count raster at an integer threshold, the
    raster -> vector direction of the engine's raster story (zonal
    stats / boundary trace are vector -> raster -> vector; this emits
    the level-set polyline segments a heatmap contour layer draws).

    Each 2x2 block of tile corners gets a 4-bit mask (bit set = corner
    count >= threshold); the 16-case table emits 0-2 segments whose
    endpoints are block-edge midpoints, in HALF-UNIT integer
    coordinates (x2 scale — exact, no floats anywhere).  Saddle cases
    5/10 use the fixed standard orientation (deterministic; center
    disambiguation would need a float average).  Unoccupied tiles
    count 0.

    Scale shape: block domain = 4-way shifted union of occupied tiles
    (distinct), then ONE left join per corner against the occupied
    table (4 equi-joins, each keyed by tile — no neighborhood
    explode), mask + segments in codegen.  Output rows only for
    boundary blocks (mask not 0/15)."""
    base = occ.select(
        F.col(x_col).alias("x"),
        F.col(y_col).alias("y"),
        F.col(value_col).cast("long").alias("v"),
    )
    blocks = None
    for dx in (0, -1):
        for dy in (0, -1):
            b = base.select(
                (F.col("x") + dx).alias("bx"), (F.col("y") + dy).alias("by")
            )
            blocks = b if blocks is None else blocks.unionByName(b)
    blocks = blocks.distinct()
    cur = blocks
    for bit, (dx, dy) in enumerate(((0, 0), (1, 0), (0, 1), (1, 1))):
        c = base.select(
            (F.col("x") - dx).alias("bx"),
            (F.col("y") - dy).alias("by"),
            F.col("v").alias(f"_v{bit}"),
        )
        cur = cur.join(c, ["bx", "by"], "left")
    mask = None
    for bit in range(4):
        m = F.when(
            F.coalesce(F.col(f"_v{bit}"), F.lit(0)) >= threshold,
            F.lit(1 << bit),
        ).otherwise(F.lit(0))
        mask = m if mask is None else mask + m
    masked = cur.select("bx", "by", mask.cast("long").alias("mask")).where(
        (F.col("mask") > 0) & (F.col("mask") < 15)
    )
    seg_struct = F.expr(
        "CASE mask "
        + " ".join(
            f"WHEN {m} THEN array({', '.join(f'struct({x1}L as x1, {y1}L as y1, {x2}L as x2, {y2}L as y2)' for (x1, y1), (x2, y2) in segs)})"
            for m, segs in _MS_SEGMENTS.items()
        )
        + " END"
    )
    return (
        masked.select("bx", "by", "mask", F.explode(seg_struct).alias("_s"))
        .select(
            "bx",
            "by",
            "mask",
            (F.col("bx") * 2 + F.col("_s.x1")).alias("x1"),
            (F.col("by") * 2 + F.col("_s.y1")).alias("y1"),
            (F.col("bx") * 2 + F.col("_s.x2")).alias("x2"),
            (F.col("by") * 2 + F.col("_s.y2")).alias("y2"),
        )
    )


def tile_slope_aspect(
    df: DataFrame,
    zoom: int,
    latlng: tuple[str, str] = ("lat", "lng"),
) -> DataFrame:
    """Raster-algebra terrain gradient (Horn's method) over the
    web-mercator tile grid: treat the per-tile event count as the cell
    value Z and compute, for every OCCUPIED tile, the 3x3 Sobel/Horn
    finite differences

        gx = (Z[E] row, weights 1/2/1) - (Z[W] row, weights 1/2/1)
        gy = (Z[S] row, weights 1/2/1) - (Z[N] row, weights 1/2/1)

    (y grows southward on the mercator grid), plus ``slope2`` =
    gx^2 + gy^2 (the squared gradient magnitude — the slope ranking
    key without any transcendental) and the 45-degree ``octant`` of
    the gradient direction (0 = east .. 7, -1 for a flat cell).
    Absent neighbors count 0; x wraps across the antimeridian; y
    clamps at the grid edge (off-grid offsets are dropped).

    Everything is exact BIGINT arithmetic on counts — distributed
    summation order cannot perturb any output — and the whole plan is
    native SQL (codegen): raw rows collapse to occupied tiles first
    (the only full-data shuffle, map-side combined), each occupied
    tile then SCATTERS its count to its 8 neighbors with the Horn
    weight it carries in THEIR stencil (a bounded 8x explode of the
    tile table, never of the input), and one second hash aggregate
    re-sums per target.  The gather-side alternative (8 self-joins)
    shuffles the tile table 8 times; the scatter form pays one.

    The same shape runs a real DEM at 100 TB: swap the count aggregate
    for any per-tile measure (SUM of a value column) and the stencil
    is unchanged.  int64 headroom: |gx| <= 8 * max cell value, so
    ``slope2`` stays exact up to ~3.8e8 per-tile counts — beyond that
    (hotter tiles than any zoom>=6 grid sees at 10^12 rows) deepen the
    zoom or pre-scale the cell value.
    """
    from geo_spark.functions.webgrid import mercator_xy_cols

    n = 1 << zoom
    x, y = mercator_xy_cols(F.col(latlng[0]), F.col(latlng[1]), zoom)
    base = (
        df.select(x.alias("tx"), y.alias("ty"))
        .groupBy("tx", "ty")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # Source tile at relative (rx, ry) = (-dx, -dy) from the target it
    # scatters to carries Horn weights wx = rx*(2-|ry|), wy = ry*(2-|rx|).
    offsets = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(dx).alias("dx"),
                    F.lit(dy).alias("dy"),
                    F.lit((-dx) * (2 - abs(dy))).alias("wx"),
                    F.lit((-dy) * (2 - abs(dx))).alias("wy"),
                )
                for dx in (-1, 0, 1)
                for dy in (-1, 0, 1)
                if not (dx == 0 and dy == 0)
            ]
        )
    )
    contrib = (
        base.select("tx", "ty", "cnt", offsets.alias("o"))
        .select(
            (((F.col("tx") + F.col("o.dx")) + n) % n).alias("nx"),
            (F.col("ty") + F.col("o.dy")).alias("ny"),
            (F.col("cnt") * F.col("o.wx")).alias("cx"),
            (F.col("cnt") * F.col("o.wy")).alias("cy"),
        )
        .where((F.col("ny") >= 0) & (F.col("ny") < n))
        .groupBy("nx", "ny")
        .agg(F.sum("cx").alias("gx"), F.sum("cy").alias("gy"))
    )
    out = (
        base.select("tx", "ty")
        .join(
            contrib.select(
                F.col("nx").alias("tx"), F.col("ny").alias("ty"), "gx", "gy"
            ),
            ["tx", "ty"],
            "left",
        )
        .select(
            "tx",
            "ty",
            F.coalesce(F.col("gx"), F.lit(0)).cast("long").alias("gx"),
            F.coalesce(F.col("gy"), F.lit(0)).cast("long").alias("gy"),
        )
    )
    a, b = F.col("gx"), F.col("gy")
    octant = (
        F.when((a == 0) & (b == 0), F.lit(-1))
        .when((b >= 0) & (a > 0) & (a > b), F.lit(0))
        .when((b > 0) & (a > 0) & (a <= b), F.lit(1))
        .when((b > 0) & (a <= 0) & (b > -a), F.lit(2))
        .when((b > 0) & (a < 0) & (-a >= b), F.lit(3))
        .when((b == 0) & (a < 0), F.lit(4))
        .when((b < 0) & (a < 0) & (-a > -b), F.lit(4))
        .when((b < 0) & (a < 0) & (-a <= -b), F.lit(5))
        .when((b < 0) & (a >= 0) & (-b > a), F.lit(6))
        .otherwise(F.lit(7))
    )
    return out.select(
        "tx",
        "ty",
        "gx",
        "gy",
        (a * a + b * b).alias("slope2"),
        octant.cast("long").alias("octant"),
    )


def tile_daily_counts(
    events: DataFrame,
    zoom: int = 4,
    ts_us_col: str = "ts_us",
    latlng: tuple[str, str] = ("lat", "lng"),
) -> DataFrame:
    """(qk, day, cnt): the per-tile daily count table every trend
    estimator below consumes — ONE tiling + counting code path shared
    by tile_theil_sen, the confidence band, Mann-Kendall, and the
    streaming twin (streaming/trend.py).  One map-side-combined
    shuffle."""
    from geo_spark.functions.webgrid import quadkey_from_latlng

    la, ln = latlng
    qk = quadkey_from_latlng(F.col(la), F.col(ln), zoom)
    day = F.expr(f"{ts_us_col} div 86400000000")
    return (
        events.select(qk.alias("qk"), day.alias("day"))
        .groupBy("qk", "day")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _daily_pairs(daily: DataFrame) -> DataFrame:
    """(qk, d1, c1, d2, c2), d2 > d1: the day-ordered pair self-join of
    the bounded daily table — the shared substrate of every pairwise
    trend statistic (slopes, signs).  Pairs per tile = d(d-1)/2 for d
    observed days, never event-sized."""
    a = daily.select(
        "qk", F.col("day").alias("d1"), F.col("cnt").alias("c1")
    )
    b = daily.select(
        "qk", F.col("day").alias("d2"), F.col("cnt").alias("c2")
    )
    return a.join(b, "qk").where(F.col("d2") > F.col("d1"))


def _daily_pair_slopes(daily: DataFrame, k_shift: int) -> DataFrame:
    """(qk, slope_mu): each pair's milli-slope under the non-negative
    integer-division rule (see tile_theil_sen's exactness docstring)."""
    return _daily_pairs(daily).select(
        "qk",
        F.expr(
            f"(((c2 - c1) * 1000 + {k_shift} * (d2 - d1)) div (d2 - d1))"
            f" - {k_shift}"
        ).alias("slope_mu"),
    )


def with_kendall_c_alpha(df: DataFrame, w_sql: str, z_mu: int) -> DataFrame:
    """Append ``c_alpha`` = floor((z_mu/1000) * sqrt(W/18)) where the
    SQL expression ``w_sql`` computes the (integral) Kendall radicand
    W — exactly, via ``isqrt(18 * z_mu^2 * W) div 18 div 1000`` with a
    portable integer sqrt (float sqrt + one-step fix-up; proven ==
    math.isqrt over the operator horizon in test_theil_sen).  The ONE
    copy of the chain shared by the Sen band and Mann-Kendall."""
    z2_18 = 18 * z_mu * z_mu
    cols = list(df.columns)
    return (
        df.selectExpr("*", f"{z2_18} * ({w_sql}) AS _x")
        .selectExpr(
            "*", "CAST(FLOOR(SQRT(CAST(_x AS DOUBLE))) AS BIGINT) AS _s0"
        )
        .selectExpr(
            *cols,
            "_x",
            "CASE WHEN (_s0 + 1) * (_s0 + 1) <= _x THEN _s0 + 1 "
            "     WHEN _s0 * _s0 > _x THEN _s0 - 1 ELSE _s0 END AS _s1",
        )
        .selectExpr(*cols, "_s1 div 18 div 1000 AS c_alpha")
    )


def tile_theil_sen(
    events: DataFrame,
    zoom: int = 4,
    ts_us_col: str = "ts_us",
    latlng: tuple[str, str] = ("lat", "lng"),
    k_shift: int = 10**9,
) -> DataFrame:
    """(qk, n_days, n_pairs, slope_mu): per-tile Theil-Sen robust trend
    of daily event counts — the median of all pairwise day-slopes, the
    breakdown-point-0.29 alternative to least squares that one bot
    spike cannot drag (the estimator monitoring dashboards actually
    want on crawl traffic).

    Exactness discipline: each pairwise slope quantizes to milli-units
    through the non-negative integer-division rule —
    ``((dc*1000 + K*dd) div dd) - K`` with dd > 0, which floors
    identically in Spark (`div` truncates toward zero) and DuckDB
    (`//` floors) because the shifted numerator is non-negative while
    ``|dc|*1000 <= K*dd`` (K = 1e9 covers per-tile-day counts to ~1e6
    per day of gap; raise ``k_shift`` for hotter tiles).  The median is
    the exact LOWER median: the BIGINT at rank (n+1) div 2 of the
    per-tile slope sort — position ties share a value, so the pick is
    deterministic.

    Scale shape: the only full-data shuffle is the (tile, day) count
    (map-side combined).  The pairwise self-join explodes the BOUNDED
    daily table — pairs per tile = d(d-1)/2 for d observed days (a
    monitoring horizon, ~30-90), never event-sized — and the median
    window partitions that bounded pair set by tile.  Tiles with one
    observed day have no slope and are excluded."""
    daily = tile_daily_counts(events, zoom, ts_us_col, latlng)
    slope = _daily_pair_slopes(daily, k_shift)
    w = Window.partitionBy("qk").orderBy("slope_mu")
    med = (
        slope.select(
            "qk",
            "slope_mu",
            F.row_number().over(w).alias("_rn"),
            F.count(F.lit(1)).over(Window.partitionBy("qk")).alias("_n"),
        )
        .where(F.col("_rn") == F.expr("(_n + 1) div 2"))
        .select("qk", F.col("_n").alias("n_pairs"), "slope_mu")
    )
    days = daily.groupBy("qk").agg(F.count(F.lit(1)).alias("n_days"))
    return days.join(med, "qk").select(
        "qk", "n_days", "n_pairs", "slope_mu"
    )


def trend_band_from_daily(
    daily: DataFrame,
    k_shift: int = 10**9,
    z_mu: int = 1960,
) -> DataFrame:
    """(qk, n_days, n_pairs, c_alpha, lo_mu, slope_mu, hi_mu): Sen's
    slope with its rank-based confidence band (Sen 1968; Gilbert 1987
    §16.4.1) over a (qk, day, cnt) daily table — every quantity an
    exact BIGINT, replayable bit-for-bit on any engine.

    Spec (all divisions floor over NON-NEGATIVE operands, so Spark
    ``div`` and DuckDB ``//`` agree):

    - slopes: the d(d-1)/2 pairwise milli-slopes of
      :func:`tile_theil_sen` (same shifted-division rule, same
      ``k_shift``); ``slope_mu`` is the exact lower median.
    - Kendall variance without the /18 rounding: W = d(d-1)(2d+5),
      so Var(S) = W/18 stays exact under the root:
      ``C = isqrt(18 * z_mu^2 * W) div 18 div 1000``
      == floor((z_mu/1000) * sqrt(W/18)) exactly, where isqrt is a
      float sqrt with a +/-1 integer fix-up (exact while the radicand
      < ~2^63, i.e. horizons to ~10 years of days at z_mu <= 3000 —
      document horizons beyond that before raising them).
    - band ranks over the ascending slope multiset (ties share a
      value, so rank -> value is deterministic):
      ``lo = s[max(1, (N - C) div 2)]``,
      ``hi = s[min(N, (N + C) div 2 + 1)]`` (Gilbert's M1/M2+1 rule
      under integer floors; the clamps absorb the small-N case where
      C >= N and the band collapses to the extremes).

    z_mu is the normal quantile in milli-units (1960 ~ 95%, 1645 ~
    90%, 2576 ~ 99%).  Scale shape is the base estimator's: the pair
    explosion is over the BOUNDED daily table; the per-tile meta
    (d, N, C, ranks) is tile-sized and broadcast onto the ranked
    slopes."""
    slope = _daily_pair_slopes(daily, k_shift)
    meta = with_kendall_c_alpha(
        daily.groupBy("qk")
        .agg(F.count(F.lit(1)).alias("n_days"))
        .where(F.col("n_days") >= 2)
        .selectExpr(
            "qk", "n_days", "n_days * (n_days - 1) div 2 AS n_pairs"
        ),
        "n_days * (n_days - 1) * (2 * n_days + 5)",
        z_mu,
    ).selectExpr(
        "qk",
        "n_days",
        "n_pairs",
        "c_alpha",
        "greatest(1, (n_pairs - c_alpha) div 2) AS rlo",
        "least(n_pairs, (n_pairs + c_alpha) div 2 + 1) AS rhi",
        "(n_pairs + 1) div 2 AS rmed",
    )
    w = Window.partitionBy("qk").orderBy("slope_mu")
    ranked = slope.select(
        "qk", "slope_mu", F.row_number().over(w).alias("_rn")
    )
    return (
        ranked.join(F.broadcast(meta), "qk")
        .groupBy("qk")
        .agg(
            F.first("n_days").alias("n_days"),
            F.first("n_pairs").alias("n_pairs"),
            F.first("c_alpha").alias("c_alpha"),
            F.max(
                F.when(F.col("_rn") == F.col("rlo"), F.col("slope_mu"))
            ).alias("lo_mu"),
            F.max(
                F.when(F.col("_rn") == F.col("rmed"), F.col("slope_mu"))
            ).alias("slope_mu"),
            F.max(
                F.when(F.col("_rn") == F.col("rhi"), F.col("slope_mu"))
            ).alias("hi_mu"),
        )
        .select(
            "qk", "n_days", "n_pairs", "c_alpha", "lo_mu", "slope_mu", "hi_mu"
        )
    )


def tile_theil_sen_band(
    events: DataFrame,
    zoom: int = 4,
    ts_us_col: str = "ts_us",
    latlng: tuple[str, str] = ("lat", "lng"),
    k_shift: int = 10**9,
    z_mu: int = 1960,
) -> DataFrame:
    """Batch entry: events -> daily counts -> Sen slope + confidence
    band (see :func:`trend_band_from_daily` for the exact-integer
    spec; :func:`tile_theil_sen` returns the point estimate alone)."""
    return trend_band_from_daily(
        tile_daily_counts(events, zoom, ts_us_col, latlng),
        k_shift=k_shift,
        z_mu=z_mu,
    )


def tile_mann_kendall(
    events: DataFrame,
    zoom: int = 4,
    ts_us_col: str = "ts_us",
    latlng: tuple[str, str] = ("lat", "lng"),
    z_mu: int = 1960,
) -> DataFrame:
    """(qk, n_days, s_stat, c_alpha, trend): the Mann-Kendall trend
    TEST per tile — the significance companion to
    :func:`tile_theil_sen_band` (same daily table, same portable
    integer-sqrt machinery), answering "is this tile's traffic
    trending at all?" before the Sen slope says by how much.

    Exact-integer spec (engine-replayable bit-for-bit):

    - S = sum over day-ordered pairs of sign(cnt_j - cnt_i) — a plain
      BIGINT pair sum.
    - tie-corrected Kendall variance kept integral under the root:
      W = n(n-1)(2n+5) - sum_g t_g(t_g-1)(2t_g+5) over count-tie
      groups g, so Var(S) = W/18 exactly;
      ``C = isqrt(18 * z_mu^2 * W) div 18 div 1000`` (the
      :func:`trend_band_from_daily` isqrt rule).
    - continuity-corrected decision, exact because S and C are
      integers and C = floor(z*sigma):  trend = +1 iff S > 0 and
      S - 1 > C;  -1 iff S < 0 and -S - 1 > C;  else 0
      (S-1 > z*sigma  <=>  S-1 > floor(z*sigma) for integer S-1).

    Scale shape: the pair sum is the band's bounded daily self-join
    reduced to one aggregate; the tie term is a second tiny groupBy
    over the daily table.  Tiles with one observed day are excluded.
    """
    return mann_kendall_from_daily(
        tile_daily_counts(events, zoom, ts_us_col, latlng), z_mu
    )


def mann_kendall_from_daily(daily: DataFrame, z_mu: int = 1960) -> DataFrame:
    """The Mann-Kendall finisher over ANY (qk, day, cnt) daily table —
    the generic half of :func:`tile_mann_kendall` (see its docstring
    for the exact-integer spec), reused wherever a keyed integer
    series needs a trend decision (tile traffic, per-source quality
    drift, ...).  ``qk`` is just the series key; rename the caller's
    key/value columns to (qk, day, cnt) before calling."""
    s = (
        _daily_pairs(daily)
        .groupBy("qk")
        .agg(
            F.sum(
                F.expr(
                    "CASE WHEN c2 > c1 THEN 1 WHEN c2 < c1 THEN -1 "
                    "ELSE 0 END"
                )
            ).alias("s_stat")
        )
    )
    ties = (
        daily.groupBy("qk", "cnt")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy("qk")
        .agg(F.sum(F.expr("t * (t - 1) * (2 * t + 5)")).alias("tie_term"))
    )
    meta = with_kendall_c_alpha(
        daily.groupBy("qk")
        .agg(F.count(F.lit(1)).alias("n_days"))
        .where(F.col("n_days") >= 2)
        .join(ties, "qk"),
        "n_days * (n_days - 1) * (2 * n_days + 5) - tie_term",
        z_mu,
    ).select("qk", "n_days", "c_alpha")
    return (
        meta.join(s, "qk")
        .selectExpr(
            "qk",
            "n_days",
            "s_stat",
            "c_alpha",
            "CAST(CASE WHEN s_stat > 0 AND s_stat - 1 > c_alpha THEN 1 "
            "          WHEN s_stat < 0 AND -s_stat - 1 > c_alpha THEN -1 "
            "          ELSE 0 END AS BIGINT) AS trend",
        )
    )


def changepoint_from_daily(daily: DataFrame) -> DataFrame:
    """(qk, n_days, total, cp_day, cp_stat): the single most likely
    level-shift day per series — the classic at-most-one-changepoint
    CUSUM statistic made EXACT-INTEGER: with the series x_1..x_n in
    day order, prefix sums P_k and total T, the scaled statistic

        stat_k = | n * P_k - k * T |     (k = 1..n-1)

    is n times the usual |P_k - (k/n)T| deviation, so the argmax is
    identical and every quantity stays a BIGINT (no mean, no
    division).  ``cp_day`` is the LAST day of the left segment at the
    maximizing k; ties break to the EARLIEST such day (deterministic
    on any engine).  A flat series scores 0 at every k (cp_stat = 0,
    cp_day = first day).  Series with n < 2 are excluded.

    Scale shape: one rank/prefix window over the bounded daily table
    partitioned by series key, one struct-max argmax per key — no
    joins at all after the daily aggregate.
    """
    w = Window.partitionBy("qk").orderBy("day")
    wall = Window.partitionBy("qk")
    pre = (
        daily.select(
            "qk",
            "day",
            F.row_number().over(w).alias("_k"),
            F.sum("cnt")
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .alias("_p"),
            F.sum("cnt").over(wall).alias("_t"),
        )
        .withColumn("_n", F.count(F.lit(1)).over(wall))
        .where((F.col("_n") >= 2) & (F.col("_k") < F.col("_n")))
        .selectExpr(
            "qk",
            "day",
            "_n",
            "_t",
            "abs(_n * _p - _k * _t) AS _stat",
        )
    )
    return (
        pre.groupBy("qk")
        .agg(
            F.first("_n").alias("n_days"),
            F.first("_t").alias("total"),
            F.max(
                F.struct(
                    F.col("_stat").alias("s"),
                    (-F.col("day")).alias("nd"),
                )
            ).alias("_b"),
        )
        .select(
            "qk",
            "n_days",
            "total",
            (-F.col("_b.nd")).alias("cp_day"),
            F.col("_b.s").alias("cp_stat"),
        )
    )


def tile_changepoint(
    events: DataFrame,
    zoom: int = 4,
    ts_us_col: str = "ts_us",
    latlng: tuple[str, str] = ("lat", "lng"),
) -> DataFrame:
    """Batch entry: events -> daily tile counts -> exact-integer
    changepoint statistic per tile (see :func:`changepoint_from_daily`
    for the spec) — "when did this tile's traffic regime shift?",
    the companion question to the trend family's "is it drifting?"."""
    return changepoint_from_daily(
        tile_daily_counts(events, zoom, ts_us_col, latlng)
    )
