"""Constructive geometry as distributed operators: per-pair boolean ops
via ``applyInPandas``/pandas UDFs over vertex arrays (each geometry
pair is one task-local kernel call — embarrassingly parallel, like
layer prep)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geo_spark.kernel import measures as M
from geo_spark.kernel.booleans import loop_boolean


@F.pandas_udf(
    T.StructType(
        [
            T.StructField("n_loops", T.IntegerType()),
            T.StructField("area", T.DoubleType()),
        ]
    )
)
def boolean_area_udf(
    a_verts: pd.Series, b_verts: pd.Series, op: pd.Series
) -> pd.DataFrame:
    """Result loop-count and XOR-parity area of a boolean op per row."""
    n_out, area_out = [], []
    for av, bv, o in zip(a_verts, b_verts, op):
        loops = loop_boolean(
            np.array(list(av), dtype=np.float64),
            np.array(list(bv), dtype=np.float64),
            str(o),
        )
        area = 0.0
        for ring in loops:
            la = M.loop_area(ring)
            # XOR-parity: rings covering >half the sphere are complements
            # of holes in this convention; measure the smaller side.
            area += la if la <= 2 * np.pi else la - 4 * np.pi
        n_out.append(len(loops))
        area_out.append(abs(area))
    return pd.DataFrame({"n_loops": pd.Series(n_out, dtype="int32"), "area": area_out})


def boolean_areas(pairs: DataFrame) -> DataFrame:
    """pairs(pair_id, a_verts, b_verts, op) -> (pair_id, op, n_loops,
    area)."""
    res = boolean_area_udf(F.col("a_verts"), F.col("b_verts"), F.col("op"))
    return pairs.withColumn("_r", res).select(
        "pair_id",
        "op",
        F.col("_r.n_loops").alias("n_loops"),
        F.col("_r.area").alias("area"),
    )


@F.pandas_udf(T.ArrayType(T.ArrayType(T.ArrayType(T.DoubleType()))))
def polygon_boolean_udf(
    a_rings: pd.Series, b_rings: pd.Series, op: pd.Series
) -> pd.Series:
    """Multi-ring (polygon-with-holes) boolean op per row: inputs and
    output are ring sets under the XOR-parity membership convention
    (s2/polygon.go:591-613); kernel/booleans.polygon_boolean.  Each
    geometry pair is one task-local kernel call — embarrassingly
    parallel over the pair table, no shuffle."""
    from geo_spark.kernel.booleans import polygon_boolean

    out = []
    for av, bv, o in zip(a_rings, b_rings, op):
        rings = polygon_boolean(
            [np.array(list(r), dtype=np.float64) for r in av],
            [np.array(list(r), dtype=np.float64) for r in bv],
            str(o),
        )
        out.append([[[float(c) for c in p] for p in ring] for ring in rings])
    return pd.Series(out)


def polygon_booleans(pairs: DataFrame) -> DataFrame:
    """pairs(pair_id, a_rings, b_rings, op) -> (pair_id, op, n_rings,
    rings): distributed polygon-with-holes overlay."""
    res = polygon_boolean_udf(F.col("a_rings"), F.col("b_rings"), F.col("op"))
    return pairs.withColumn("rings", res).select(
        "pair_id", "op", F.size("rings").alias("n_rings"), "rings"
    )


def dissolve(
    geoms: DataFrame,
    group_col: str = "grp",
    rings_col: str = "rings",
) -> DataFrame:
    """Per-group polygon UNION aggregation (the GIS "dissolve"):
    (group, rings[]) rows -> one multi-ring region per group whose
    XOR-parity membership equals the OR of the group's inputs.

    Distributed shape: ONE shuffle groups the geometries; inside each
    group the union folds pairwise through the exact overlay kernel
    (kernel/booleans.polygon_boolean) — group work is proportional to
    the group's own geometry count, embarrassingly parallel across
    groups.  Deterministic: inputs fold in ascending serialized order,
    so re-runs and the two engines of the oracle see the same fold
    tree.  For groups with thousands of members prefer a two-level
    fold (tree reduce) — the left-deep fold here keeps the result-ring
    count growth visible and is fine at dimension-table group sizes.
    """
    out_t = T.ArrayType(T.ArrayType(T.ArrayType(T.DoubleType())))

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        from geo_spark.kernel.booleans import polygon_boolean

        grp = pdf[group_col].iloc[0]
        ring_sets = sorted(
            (
                [np.array(list(r), dtype=np.float64) for r in rings]
                for rings in pdf[rings_col]
            ),
            key=lambda rs: (len(rs), [tuple(rs[0][0])] if len(rs) else []),
        )
        acc = ring_sets[0]
        for nxt in ring_sets[1:]:
            acc = polygon_boolean(acc, nxt, "union")
        return pd.DataFrame(
            {
                group_col: [grp],
                "n_rings": [len(acc)],
                "rings": [
                    [[[float(c) for c in p] for p in ring] for ring in acc]
                ],
            }
        )

    schema = T.StructType(
        [
            geoms.schema[group_col],
            T.StructField("n_rings", T.IntegerType()),
            T.StructField("rings", out_t),
        ]
    )
    return geoms.groupBy(group_col).applyInPandas(fold, schema)


def areal_interpolate(pairs: DataFrame) -> DataFrame:
    """pairs(src_id, tgt_id, a_verts, b_verts, value_cents) ->
    (tgt_id, n_src, alloc): area-weighted value transfer between
    polygon layers (areal/dasymetric interpolation — census counts
    onto grid cells, crawl volume onto admin zones).  Each source's
    value is split across targets by

        share_ppm = floor(area(A ∩ B) / area(A) * 1e6)
        alloc    += value_cents * share_ppm div 1e6

    — ONE float->int floor per pair, integer arithmetic after, so the
    result is engine-replayable (the float inputs agree cross-engine
    to ~1e-12 relative, far from the 1e-6 floor grid).

    Scale shape: per-pair kernel calls are embarrassingly parallel
    over the pair table (no shuffle), one hash aggregate by target.
    Candidate pairs come from the covering join upstream (the same
    pattern as geom_join) — disjoint pairs cost one kernel call and
    contribute 0, so pruning them early is a perf, not correctness,
    concern."""
    inter = boolean_area_udf(
        F.col("a_verts"), F.col("b_verts"), F.lit("intersection")
    )
    from geo_spark.operators.measures_ops import loop_area_udf

    staged = pairs.withColumn("_ai", inter["area"]).withColumn(
        "_aa", loop_area_udf(F.col("a_verts"))
    )
    share = F.floor(F.col("_ai") / F.col("_aa") * F.lit(1_000_000.0)).cast(
        "long"
    )
    contrib = F.expr("value_cents * _share div 1000000")
    return (
        staged.withColumn("_share", share)
        .withColumn("_c", contrib)
        .groupBy("tgt_id")
        .agg(
            F.sum(F.when(F.col("_share") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_src"),
            F.sum("_c").alias("alloc"),
        )
    )
