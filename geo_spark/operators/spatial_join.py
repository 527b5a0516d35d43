"""Covering-term spatial join: points x regions at cluster scale.

The join blueprint follows the reference's RegionTermIndexer semantics
(s2/region_term_indexer.go:118-261): the region side emits its covering
cells (exterior, flagged interior where fully contained); the point side
emits ancestor keys ``Parent(point_cell, level)`` for each covering
level.  ``point matches region`` <=> ``some ancestor of the point's leaf
equals a covering cell`` (candidate) AND the exact containment test
passes (refine).  Interior covering cells skip the refine — the analog of
ShapeIndex ``containsCenter`` fast paths (s2/shapeindex.go:65-117).

Scale design (the part the reference, being single-node, doesn't have):
- layer prep is an ``applyInPandas`` fan-out — one row per geometry,
  coverings computed executor-side in parallel;
- the candidate join is a plain **equi-join** on ``(level, cell)`` —
  hash-partitioned, AQE-optimizable, broadcastable when the layer is
  small (the common case: polygon layers are dimension tables);
- hot covering cells (dense urban tiles) are split into their 4^s
  children (``split_hot_cells``) — a *semantic* salt: the children are
  still valid covering cells, so results are invariant to the split
  while the join keys fan out;
- the refine is ONE shuffle-free ``mapInPandas`` over every candidate:
  interior-cell rows pass as sure matches, the rest run one vectorized
  predicate per geometry present in the Arrow batch.  Regions ship in
  the task closure for dimension-table layers; huge layers attach
  their blobs by a (broadcast) join instead.  The point side is read
  and encoded once, and never per-row Python either way.
"""

from __future__ import annotations

import pickle
from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geo_spark.functions import sql as s2sql
from geo_spark.kernel import cellid as ck
from geo_spark.kernel import cellunion as cu
from geo_spark.kernel.coverer import RegionCoverer
from geo_spark.kernel.regions import Region

COVER_SCHEMA = T.StructType(
    [
        T.StructField("geom_id", T.LongType(), False),
        T.StructField("cell", T.LongType(), False),  # biased int64
        T.StructField("level", T.IntegerType(), False),
        T.StructField("is_interior", T.BooleanType(), False),
    ]
)

GEOM_SCHEMA = T.StructType(
    [
        T.StructField("geom_id", T.LongType(), False),
        T.StructField("blob", T.BinaryType(), False),
    ]
)


# Below this many geometries the covering computation runs in the
# driver (literal-row layer, zero Spark jobs); above it, per-geometry
# distributed (the coverings, not the closure shipping, are the cost).
DRIVER_COVER_GEOMS = 256


class Layer:
    """A prepared join target: geometry blobs + exploded covering table.

    ``regions`` (driver-side dict) is kept when the layer is small enough
    to ship in task closures — the refine then needs no blob join."""

    MAX_CLOSURE_GEOMS = 20000

    def __init__(
        self,
        geoms: DataFrame,
        covering: DataFrame,
        levels: list[int],
        regions: dict[int, Region] | None = None,
        covering_rows: int | None = None,
        n_geoms: int | None = None,
        radius_rad: float | None = None,
    ):
        self.geoms = geoms
        self.covering = covering
        self.levels = levels
        self.regions = regions
        # Known (or conservatively estimated) covering row count; None
        # means "unknown / large" and disables the broadcast hint.
        self.covering_rows = covering_rows
        # Geometry count (drives the blob-join broadcast hint in the
        # distributed refine tier); None = unknown.
        self.n_geoms = n_geoms
        # Buffer radius for distance layers (build_distance_layer) —
        # the distributed knn_regions tier is radius-bounded by it.
        self.radius_rad = radius_rad


def build_layer(
    spark: SparkSession,
    regions: Iterable[tuple[int, Region]],
    min_level: int = 0,
    max_level: int = 30,
    max_cells: int = 8,
    interior: bool = True,
    num_partitions: int | None = None,
    subdivide: int = 2,
) -> Layer:
    """Covering layer prep — per-geometry parallel (SURVEY.md §3.2).

    ``interior=True`` marks covering cells fully inside the region
    (refine-skip fast path).  ``subdivide=s`` additionally splits each
    *boundary* covering cell up to s levels (the ShapeIndex subdivision
    analog, s2/shapeindex.go:1194-1213): disjoint children are dropped
    (fewer candidates), fully-contained children become interior (fewer
    refines); only the shrinking boundary band still refines.
    """
    regions = list(regions)
    rows = [(int(gid), pickle.dumps(region)) for gid, region in regions]
    geoms = spark.createDataFrame(rows, GEOM_SCHEMA)
    if num_partitions:
        geoms = geoms.repartition(num_partitions, "geom_id")

    coverer = RegionCoverer(
        min_level=min_level, max_level=max_level, max_cells=max_cells
    )
    want_interior = interior

    def cover_one(pdf: pd.DataFrame) -> pd.DataFrame:
        from geo_spark.kernel.cell import Cell

        out_gid, out_cell, out_lvl, out_int = [], [], [], []

        def emit(gid: int, c: int, is_int: bool) -> None:
            out_gid.append(gid)
            out_cell.append(int(ck.to_signed(np.uint64(c))))
            out_lvl.append(cu._level(c))
            out_int.append(is_int)

        for gid, blob in zip(pdf["geom_id"], pdf["blob"]):
            region = pickle.loads(blob)
            covering = coverer.covering(region)
            if not want_interior:
                for c in covering:
                    emit(gid, c, False)
                continue
            # Level-synchronous BFS so every round's contains/may tests
            # run as ONE batched relate_cells call (LoopRegion vectorizes
            # the whole frontier; other shapes fall back to scalar).
            # Semantics identical to the per-cell DFS: interior cells
            # emit, disjoint children drop, boundary cells split until
            # the depth budget.  Root covering cells are never may-
            # filtered (the DFS pushed them unconditionally).
            frontier = [(Cell.from_id(c), cu._level(c)) for c in covering]
            root = True
            while frontier:
                contains, may = region.relate_cells([c for c, _ in frontier])
                nxt = []
                for (cell, base), isc, m_ok in zip(frontier, contains, may):
                    if not root and not m_ok:
                        continue
                    if (
                        isc
                        or cell.level - base >= subdivide
                        or cell.level >= max_level
                    ):
                        emit(gid, cell.id, bool(isc))
                        continue
                    nxt.extend((child, base) for child in cell.children())
                frontier = nxt
                root = False
        return pd.DataFrame(
            {
                "geom_id": pd.Series(out_gid, dtype="int64"),
                "cell": pd.Series(out_cell, dtype="int64"),
                "level": pd.Series(out_lvl, dtype="int32"),
                "is_interior": pd.Series(out_int, dtype="bool"),
            }
        )

    if len(regions) <= DRIVER_COVER_GEOMS:
        # Dimension-table layer: run the identical covering computation
        # in the driver (it ends up collected as literal rows either
        # way), skipping two Spark jobs + a Python-worker round-trip —
        # the 50-loop city layer drops from ~7s to sub-second.  The
        # literal rows are pinned so downstream actions never re-run the
        # covering computation.
        pdf = cover_one(
            pd.DataFrame(
                {
                    "geom_id": [g for g, _ in rows],
                    "blob": [b for _, b in rows],
                }
            )
        )
        covering = spark.createDataFrame(pdf, COVER_SCHEMA)
        levels = sorted(pdf["level"].unique().tolist())
        region_map = {int(g): r for g, r in regions}
        n_cov = len(pdf)
    else:
        # Hundreds+ of geometries: the covering computation itself is
        # the cost (a complex region covers in ~10-30 ms) — distribute
        # it.  mapInPandas over the blob batches, NOT a per-geometry
        # groupBy: no shuffle, and batches of geometries amortize the
        # Arrow/pandas per-call overhead that one-row groups pay.
        # The region MAP still ships in closures when small enough
        # (the map is the input list, not the coverings).
        def cover_iter(batches):
            for pdf in batches:
                if len(pdf):
                    yield cover_one(pdf)

        covering = _ensure_parallelism(geoms).mapInPandas(
            cover_iter, COVER_SCHEMA
        )
        covering = covering.persist()
        # ONE metadata job: per-level counts give the level set and the
        # total row count together (and materialize the persist).
        lvl_rows = covering.groupBy("level").count().collect()
        levels = [r["level"] for r in lvl_rows]
        region_map = (
            {int(g): r for g, r in regions}
            if len(regions) <= Layer.MAX_CLOSURE_GEOMS
            else None
        )
        n_cov = sum(r["count"] for r in lvl_rows)
    return Layer(
        geoms,
        covering,
        sorted(levels),
        region_map,
        covering_rows=n_cov,
        n_geoms=len(regions),
    )


def split_hot_cells(
    layer: Layer, hot_cells: list[int], split_levels: int = 1
) -> Layer:
    """Semantic salting: replace listed covering cells by their 4^s
    children.  Children of a covering cell cover exactly the same leaves
    (s2/cellid.go:177-205 range nesting), so join output is invariant —
    only the key-space fans out, defeating single-key skew.  ``hot_cells``
    is typically the top of a page-count histogram (see
    ``hot_cell_histogram``)."""
    if not hot_cells:
        return layer
    spark = layer.covering.sparkSession
    hot = {int(c) for c in hot_cells}

    s = split_levels

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def children_of(cell: pd.Series, level: pd.Series) -> pd.Series:
        out = []
        for c, lv in zip(cell.to_numpy(np.int64), level.to_numpy()):
            if int(c) not in hot or lv + s > 30:
                out.append([int(c)])
                continue
            u = int(ck.from_signed(np.array([c], dtype=np.int64))[0])
            out.append(
                [
                    int(ck.to_signed(np.uint64(k)))
                    for k in cu.denormalize([u], cu._level(u) + s, 1)
                ]
            )
        return pd.Series(out)

    cov = (
        layer.covering.withColumn(
            "cell", F.explode(children_of(F.col("cell"), F.col("level")))
        )
        .withColumn("level", s2sql.level(F.col("cell")).cast("int"))
    )
    levels = [r["level"] for r in cov.select("level").distinct().collect()]
    est = (
        layer.covering_rows * (4**split_levels)
        if layer.covering_rows is not None
        else None
    )
    return Layer(
        layer.geoms,
        cov,
        sorted(levels),
        layer.regions,
        covering_rows=est,
        n_geoms=layer.n_geoms,
        radius_rad=layer.radius_rad,
    )


def hot_cell_histogram(
    points: DataFrame, layer: Layer, cell_col: str = "cell_id", top: int = 20
) -> list[tuple[int, int]]:
    """(covering_cell, point_count) for the heaviest covering cells —
    the skew diagnostic that feeds split_hot_cells."""
    cand = _candidates(points.select(F.col(cell_col).alias("_pt_cell")), layer, "_pt_cell")
    rows = (
        cand.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"))
        .limit(top)
        .collect()
    )
    return [(r["cell"], r["cnt"]) for r in rows]


def _coarse_prefilter(points: DataFrame, layer: Layer, cell_col: str) -> DataFrame:
    """Semi-join points against the coarse ancestors of ALL covering
    cells before the per-level explode: with a dimension-table layer the
    ancestor set is tiny, the filter is a broadcast isin at ONE level,
    and the x|levels| explode then runs only on surviving points (the
    covering-term join's row multiplier applied to ~the hit rate instead
    of the whole corpus)."""
    if not layer.levels:
        return points
    l0 = layer.levels[0]
    rows = (
        layer.covering.select(s2sql.parent(F.col("cell"), l0).alias("a"))
        .distinct()
        .limit(10001)
        .collect()
    )
    ancestors = [r["a"] for r in rows]
    if len(ancestors) > 10000:
        return points
    return points.where(s2sql.parent(F.col(cell_col), l0).isin(ancestors))


def _candidates(points: DataFrame, layer: Layer, cell_col: str) -> DataFrame:
    """points x covering equi-join on (level, Parent(point_cell, level)).

    The explode emits one row per covering *level* (bounded by the level
    window, typically <= 8 — s2/region_term_indexer.go:140-143 ancestor
    terms), not per covering cell."""
    points = _coarse_prefilter(points, layer, cell_col)
    # One struct per covering level with a *literal* parent mask — the
    # whole key computation stays inside whole-stage codegen.
    pairs = F.array(
        *[
            F.struct(
                F.lit(l).cast("int").alias("_lvl"),
                s2sql.parent(F.col(cell_col), l).alias("_key"),
            )
            for l in layer.levels
        ]
    )
    pts = points.withColumn("_lk", F.explode(pairs)).select(
        "*", F.col("_lk._lvl").alias("_lvl"), F.col("_lk._key").alias("_key")
    ).drop("_lk")
    cov = layer.covering
    return pts.join(
        cov.hint("broadcast") if _is_small(layer) else cov,
        (pts["_lvl"] == cov["level"]) & (pts["_key"] == cov["cell"]),
    ).drop("_lvl", "_key")


# ~30 bytes/row -> a 200k-row covering broadcasts in a few MB.
BROADCAST_MAX_COVER_ROWS = 200_000

# Geometry-blob tables broadcast up to this many rows (road-segment
# blobs are a few hundred bytes -> tens of MB, torrent-distributed
# once per executor); bigger layers take a shuffle equi-join on
# geom_id and let AQE split skewed partitions at runtime.
BROADCAST_MAX_GEOM_ROWS = 200_000

# Per-task unpickled-region cache bound for the blob-refine tier: a
# road network's working set per input split is far smaller than the
# layer, so hits dominate; the clear() on overflow bounds memory.
_REGION_CACHE_CAP = 8192


def _geoms_for_join(layer: Layer) -> DataFrame:
    g = layer.geoms
    if layer.n_geoms is not None and layer.n_geoms <= BROADCAST_MAX_GEOM_ROWS:
        return F.broadcast(g)
    return g


def _ensure_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin a DataFrame up to the session's default parallelism
    when its plan would otherwise run on a handful of tasks.

    Why: a dimension-sized parquet input (one 2 MB file = one split)
    collapses the whole scan -> candidate-join -> Arrow-refine pipeline
    onto ONE core — the Python refine is the expensive stage, and it
    inherits the scan's partitioning through the broadcast join.  At
    production partition counts (any real table has >= thousands of
    splits) the guard makes this a no-op, so no shuffle is added where
    the input already parallelizes."""
    if df.isStreaming:
        # no .rdd on streams; micro-batch parallelism is the source's
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() * 2 <= target:
        return df.repartition(target)
    return df


def _cached_region(cache: dict, gid: int, blob) -> Region:
    r = cache.get(gid)
    if r is None:
        if len(cache) >= _REGION_CACHE_CAP:
            cache.clear()
        r = pickle.loads(bytes(blob))
        cache[gid] = r
    return r


def _is_small(layer: Layer) -> bool:
    """Broadcast-hint the covering only when its row count is known and
    actually small; unknown/huge coverings take the shuffle join and let
    AQE pick the strategy at runtime."""
    return (
        layer.covering_rows is not None
        and layer.covering_rows <= BROADCAST_MAX_COVER_ROWS
    )


def spatial_join(
    points: DataFrame,
    layer: Layer,
    point_key: str,
    cell_col: str = "cell_id",
    how: str = "inner",
    carry: tuple[str, ...] = (),
    latlng: tuple[str, str] | None = None,
) -> DataFrame:
    """Join points to layer geometries.

    Returns (point_key, geom_id, carry...) for ``how='inner'``; for
    ``'left_semi'``/``'left_anti'`` returns the matching/non-matching
    point rows.  Exactness: candidate rows from non-interior covering
    cells are re-tested with the geometry's exact batch predicate
    (cap chord / rect range / loop crossing-parity cascade) — on the
    original (lat,lng) when ``latlng`` names those columns, else on the
    leaf-cell center (~1 cm quantization at level 30).
    """
    cols = [point_key, cell_col, *carry]
    if latlng:
        cols += list(latlng)
    pts = points.select(*dict.fromkeys(cols))
    cand = _candidates(pts, layer, cell_col)

    # Covering cells of one geometry are *disjoint* (normalized,
    # s2/cellunion.go:27-34), so a point's leaf lies in at most one of
    # them: (point, geom) candidate rows are already unique — no dedup
    # shuffle needed.
    matches = _refine(cand, layer, point_key, cell_col, carry, latlng)

    if how == "inner":
        return matches
    if how in ("left_semi", "left_anti"):
        keys = matches.select(point_key).distinct()
        return points.join(keys, on=point_key, how=how)
    raise ValueError(f"unsupported how={how!r}")


def _refine(
    cand: DataFrame,
    layer: Layer,
    point_key: str,
    cell_col: str,
    carry: tuple[str, ...],
    latlng: tuple[str, str] | None,
) -> DataFrame:
    """One pass over every candidate: interior-cell rows are sure
    matches, the rest take the geometry's exact batch predicate.

    A single shuffle-free mapInPandas: in each Arrow batch ``keep``
    starts as ``is_interior`` and only the non-interior rows are grouped
    by geom_id in-memory and hit with one vectorized predicate per
    geometry present — no per-geometry keyed group, so one dense-city
    geometry never pins one task.  The region comes from the task
    closure when the layer fits there; huge layers attach blobs by a
    left join on geom_id restricted to non-interior rows (interior rows
    carry a null blob): candidates stay in their input-split partitions
    (broadcast blob join) or AQE splits the skewed ones (shuffle blob
    join)."""
    # the matched covering cell is spent: keep it out of the Arrow hop
    cand = _ensure_parallelism(cand.drop("cell", "level"))
    regions = layer.regions
    if regions is None:
        g = _geoms_for_join(layer).withColumnRenamed("geom_id", "_blob_gid")
        cand = cand.join(
            g,
            (cand["geom_id"] == g["_blob_gid"]) & ~cand["is_interior"],
            "left",
        ).drop("_blob_gid")

    key_type = cand.schema[point_key].dataType.simpleString()
    carry_types = {c: cand.schema[c].dataType.simpleString() for c in carry}
    schema = ", ".join(
        [f"{point_key} {key_type}", "geom_id long"]
        + [f"{c} {t}" for c, t in carry_types.items()]
    )

    def fn(batches):
        cache: dict = {}
        for pdf in batches:
            if not len(pdf):
                continue
            gids = pdf["geom_id"].to_numpy(np.int64)
            keep = pdf["is_interior"].to_numpy(dtype=bool, copy=True)
            todo = np.flatnonzero(~keep)
            if len(todo):
                pts = _points_xyz(pdf.iloc[todo], cell_col, latlng)
                tg = gids[todo]
                for gid in np.unique(tg):
                    m = tg == gid
                    if regions is not None:
                        region = regions[int(gid)]
                    else:
                        region = _cached_region(
                            cache, int(gid), pdf["blob"].iloc[todo[np.argmax(m)]]
                        )
                    keep[todo[m]] = region.contains_points(pts[m])
            out = {point_key: pdf[point_key].to_numpy()[keep], "geom_id": gids[keep]}
            for c in carry:
                out[c] = pdf[c].to_numpy()[keep]
            yield pd.DataFrame(out)

    return cand.mapInPandas(fn, schema)


def _points_xyz(pdf: pd.DataFrame, cell_col: str, latlng) -> np.ndarray:
    if latlng:
        x, y, z = ck.latlng_to_xyz(
            pdf[latlng[0]].to_numpy(np.float64),
            pdf[latlng[1]].to_numpy(np.float64),
        )
        return np.stack([x, y, z], axis=1)
    cells = ck.from_signed(pdf[cell_col].to_numpy(np.int64))
    x, y, z = ck.cellid_to_xyz(cells)
    pts = np.stack([x, y, z], axis=1)
    return pts / np.sqrt((pts * pts).sum(axis=1))[:, None]


def auto_salt_layer(
    points: DataFrame,
    layer: Layer,
    cell_col: str = "cell_id",
    skew_ratio: float = 8.0,
    top: int = 20,
    split_levels: int = 2,
) -> tuple[Layer, list[int]]:
    """Adaptive cell-level salting (the north rule's phrase, made a
    one-call operator): measure the candidate histogram against THIS
    point distribution, split every covering cell whose candidate count
    exceeds ``skew_ratio`` x the mean per-cell load, and return the
    salted layer plus the split cells (for logging/metrics).

    Join output is provably invariant (split_hot_cells: children cover
    exactly the parent's leaves); only the shuffle key-space fans out.
    Cost: one aggregate over the candidate join (the same join the
    query runs anyway — at production scale run it on a sample or reuse
    a previous run's histogram; both Compose, since the salting is
    correctness-neutral)."""
    hist = hot_cell_histogram(points, layer, cell_col=cell_col, top=top)
    if not hist or not layer.covering_rows:
        return layer, []
    total = (
        _candidates(
            points.select(F.col(cell_col).alias("_pt_cell")), layer, "_pt_cell"
        )
        .count()
    )
    mean_load = max(total / max(layer.covering_rows, 1), 1.0)
    hot = [c for c, cnt in hist if cnt > skew_ratio * mean_load]
    if not hot:
        return layer, []
    return split_hot_cells(layer, hot, split_levels=split_levels), hot
