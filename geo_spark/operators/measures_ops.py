"""Spark-side geometric aggregates: per-loop measures (vectorized UDF)
rolled up to polygons/polylines with plain groupBy sums — the genuine
Spark aggregation shape of s2/polygon.go:1014-1042 (area with hole sign)
and s2/polyline.go:48-76 (length).

Layer schema convention: one row per loop,
(polygon_id long, loop_id int, depth int, verts array<array<double>>)
with verts CCW around the *shell* interior; hole = odd depth, subtracted
(s2/loop.go:853 nesting)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geo_spark.kernel import measures as M


@F.pandas_udf(T.DoubleType())
def loop_area_udf(verts: pd.Series) -> pd.Series:
    return pd.Series([M.loop_area(np.array(list(v), dtype=np.float64)) for v in verts])


@F.pandas_udf(T.DoubleType())
def polyline_length_udf(verts: pd.Series) -> pd.Series:
    return pd.Series(
        [M.polyline_length(np.array(list(v), dtype=np.float64)) for v in verts]
    )


def polygon_areas(loops_df: DataFrame) -> DataFrame:
    """(polygon_id, area, n_loops): hole-signed sum of loop areas.  The
    per-loop UDF is the only Python hop; the rollup is a JVM hash agg
    with map-side combine."""
    sign = F.when(F.col("depth") % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0))
    return (
        loops_df.withColumn("_a", loop_area_udf(F.col("verts")) * sign)
        .groupBy("polygon_id")
        .agg(F.sum("_a").alias("area"), F.count(F.lit(1)).alias("n_loops"))
    )

