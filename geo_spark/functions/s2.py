"""Vectorized pandas/Arrow UDFs wrapping the numpy S2 kernels.

Cell ids cross the UDF boundary as *biased signed* int64 (LongType), see
geo_spark.functions.sql.  All UDFs are Series->Series pandas UDFs (Arrow
batches, no per-row Python), per the engine's "UDFs are the slow path —
when unavoidable, vectorize" rule.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql import types as T

from geo_spark.kernel import cellid as ck


@pandas_udf(T.LongType())
def s2_cellid(lat: pd.Series, lng: pd.Series) -> pd.Series:
    """Leaf cell id (biased int64) from degrees lat/lng; s2/cellid.go:114-116.

    Null/NaN coordinates yield null.
    """
    lat_v = lat.to_numpy(dtype=np.float64, na_value=np.nan)
    lng_v = lng.to_numpy(dtype=np.float64, na_value=np.nan)
    ok = np.isfinite(lat_v) & np.isfinite(lng_v)
    out = ck.to_signed(ck.cellid_from_latlng(np.where(ok, lat_v, 0.0), np.where(ok, lng_v, 0.0)))
    return pd.Series(np.where(ok, out, 0), dtype="int64").mask(~ok)


@pandas_udf(T.DoubleType())
def s2_cell_lat(cid: pd.Series) -> pd.Series:
    """Cell-center latitude in degrees; s2/cellid.go:379-382."""
    u = ck.from_signed(cid.to_numpy(dtype=np.int64, na_value=0))
    lat, _ = ck.cellid_to_latlng(u)
    return pd.Series(lat)


@pandas_udf(T.DoubleType())
def s2_cell_lng(cid: pd.Series) -> pd.Series:
    """Cell-center longitude in degrees."""
    u = ck.from_signed(cid.to_numpy(dtype=np.int64, na_value=0))
    _, lng = ck.cellid_to_latlng(u)
    return pd.Series(lng)


@pandas_udf(T.StringType())
def s2_token(cid: pd.Series) -> pd.Series:
    """Hex token of the (biased) cell id; s2/cellid.go:118-142."""
    u = ck.from_signed(cid.to_numpy(dtype=np.int64, na_value=0))
    return pd.Series(ck.to_token(u))


@pandas_udf(T.LongType())
def s2_from_token(tok: pd.Series) -> pd.Series:
    u = ck.from_token(tok.fillna("").tolist())
    return pd.Series(ck.to_signed(u))


@pandas_udf(
    T.StructType(
        [
            T.StructField("face", T.IntegerType()),
            T.StructField("i", T.LongType()),
            T.StructField("j", T.LongType()),
            T.StructField("orientation", T.IntegerType()),
        ]
    )
)
def s2_face_ij(cid: pd.Series) -> pd.DataFrame:
    """Decode (face, i, j, orientation); s2/cellid.go:539-573."""
    u = ck.from_signed(cid.to_numpy(dtype=np.int64, na_value=0))
    f, i, j, o = ck.face_ij_orientation(u)
    return pd.DataFrame(
        {"face": f.astype(np.int32), "i": i, "j": j, "orientation": o.astype(np.int32)}
    )


@pandas_udf(T.LongType())
def s2_cellid_from_face_ij(face: pd.Series, i: pd.Series, j: pd.Series) -> pd.Series:
    """Leaf cell from (face,i,j); s2/cellid.go:576-598."""
    u = ck.cellid_from_face_ij(
        face.to_numpy(dtype=np.int64, na_value=0),
        i.to_numpy(dtype=np.int64, na_value=0),
        j.to_numpy(dtype=np.int64, na_value=0),
    )
    return pd.Series(ck.to_signed(u))


@pandas_udf(T.ArrayType(T.LongType()))
def s2_edge_neighbors(cid: pd.Series) -> pd.Series:
    """4 edge neighbors at the cell's own level; s2/cellid.go:215-225."""
    u = ck.from_signed(cid.to_numpy(dtype=np.int64, na_value=0))
    nbrs = ck.to_signed(ck.edge_neighbors(u))
    return pd.Series(list(nbrs))


@pandas_udf(
    T.StructType(
        [
            T.StructField("x", T.DoubleType()),
            T.StructField("y", T.DoubleType()),
            T.StructField("z", T.DoubleType()),
        ]
    )
)
def s2_xyz(lat: pd.Series, lng: pd.Series) -> pd.DataFrame:
    """Unit xyz from degrees lat/lng (PointFromLatLng, s2/latlng.go:85-90);
    feeds native-SQL chord-distance expressions downstream."""
    x, y, z = ck.latlng_to_xyz(
        lat.to_numpy(dtype=np.float64, na_value=np.nan),
        lng.to_numpy(dtype=np.float64, na_value=np.nan),
    )
    return pd.DataFrame({"x": x, "y": y, "z": z})
