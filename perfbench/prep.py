"""Input fixtures and Spark-free reference outputs, one set per (workload, seed).

Everything here runs before any timed process starts, and produces the same
files for the same seed on every run.  Inputs come from the engine's own
counter-based generators: page ``i`` is a pure function of ``i``
(``geo_spark.sources.pages``), so seed ``s`` selects the row block
``[s*N, (s+1)*N)``.  References come from ``geo_spark.kernel`` alone.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import zipfile
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from geo_spark.kernel import cellid as ck
from geo_spark.kernel.pip import loop_contains_points
from geo_spark.sources.layers import city_loop_regions
from geo_spark.sources.pages import _render_batch, page_coords

# Row counts per workload, sized so that one steady execution takes
# 1.5-3 s on local[4].
SIZES = {
    "tile_rollup_write": {"pages": 40_000},
    "pages_pip_join": {"pages": 40_000},
    "points_knn": {"points": 6_000, "targets": 20_000},
}
PAGE_FILES = 8
TILE_LEVEL = 10
BUCKET_LEVEL = 1
PIP_LOOPS = 50
KNN_K = 3
# Brute-force reference rows: points whose id is a multiple of this.
KNN_SAMPLE_MOD = 23
# Targets draw from their own block of page indices, disjoint from points.
KNN_TARGET_BASE = 1 << 40
# Page timestamps are 2026-01-01 + i seconds; pandas timestamps end in
# 2262, so the row block index wraps before page indices pass 7e9.
MAX_PAGE_INDEX = 7_000_000_000

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
URL_PREFIX = "https://example.org/"


def block_start(seed: int, n: int) -> int:
    """First row index of seed's block of n rows."""
    return (seed % (MAX_PAGE_INDEX // n)) * n


def geotag_latlng(idx: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """The (lat, lng) a page's geotag carries: the renderer writes page
    coordinates with 7 decimals, so this is what extraction can recover."""
    lat, lng = page_coords(idx.astype(np.uint64))
    return (
        np.char.mod("%.7f", lat).astype(np.float64),
        np.char.mod("%.7f", lng).astype(np.float64),
    )


def _write_parts(table: pa.Table, out: Path, parts: int) -> None:
    out.mkdir(parents=True)
    bounds = np.linspace(0, table.num_rows, parts + 1).astype(int)
    for p in range(parts):
        pq.write_table(
            table.slice(bounds[p], bounds[p + 1] - bounds[p]),
            out / f"part-{p:03d}.parquet",
        )


def write_pages(idx: np.ndarray, out: Path, parts: int = PAGE_FILES) -> None:
    """Render pages idx through the synth_pages renderer into parquet."""
    out.mkdir(parents=True)
    for p, chunk in enumerate(np.array_split(idx, parts)):
        table = pa.Table.from_pandas(
            _render_batch(chunk), schema=PAGES_SCHEMA, preserve_index=False
        )
        pq.write_table(table, out / f"part-{p:03d}.parquet")


def tile_reference(lat: np.ndarray, lng: np.ndarray) -> dict[int, int]:
    """Level-10 tile -> page count, tile ids signed as the engine stores them."""
    tiles = ck.to_signed(ck.parent(ck.cellid_from_latlng(lat, lng), TILE_LEVEL))
    uniq, cnt = np.unique(tiles, return_counts=True)
    return dict(zip(uniq.tolist(), cnt.tolist()))


def _rect_mask(bound, lat: np.ndarray, lng: np.ndarray, eps: float = 1e-9):
    """Conservative vectorized Rect containment (radians)."""
    lat_ok = (lat >= bound.lat.lo - eps) & (lat <= bound.lat.hi + eps)
    lo, hi = bound.lng.lo, bound.lng.hi
    if lo <= hi:
        lng_ok = (lng >= lo - eps) & (lng <= hi + eps)
    else:
        lng_ok = (lng >= lo - eps) | (lng <= hi + eps)
    return lat_ok & lng_ok


def pip_reference(
    lat: np.ndarray, lng: np.ndarray, regions
) -> tuple[np.ndarray, np.ndarray]:
    """(row, geom_id) pairs with the point inside the loop: a bounding-box
    prefilter, then exact crossing parity on each loop."""
    x, y, z = ck.latlng_to_xyz(lat, lng)
    pts = np.stack([x, y, z], axis=1)
    rlat, rlng = np.radians(lat), np.radians(lng)
    rows, gids = [], []
    for gid, region in regions:
        cand = np.nonzero(_rect_mask(region.bound, rlat, rlng))[0]
        inside = loop_contains_points(region.verts, region.origin_inside, pts[cand])
        rows.append(cand[inside])
        gids.append(np.full(int(inside.sum()), gid, dtype=np.int64))
    return np.concatenate(rows), np.concatenate(gids)


def knn_reference(
    plat, plng, tid, tlat, tlng, k: int, chunk: int = 64
) -> np.ndarray:
    """(n, k) exact nearest target ids by squared chord, ties by target id,
    computed with the same float expression the engine uses."""
    px, py, pz = ck.latlng_to_xyz(plat, plng)
    tx, ty, tz = ck.latlng_to_xyz(tlat, tlng)
    pmat = np.stack([px, py, pz], axis=1)
    tmat = np.stack([tx, ty, tz], axis=1)
    out = np.empty((len(pmat), k), dtype=np.int64)
    for s in range(0, len(pmat), chunk):
        d = pmat[s : s + chunk, None, :] - tmat[None, :, :]
        d2 = np.minimum((d * d).sum(axis=2), 4.0)
        kth = np.partition(d2, k - 1, axis=1)[:, k - 1]
        for r in range(len(d2)):
            cand = np.nonzero(d2[r] <= kth[r])[0]
            order = np.lexsort((tid[cand], d2[r, cand]))[:k]
            out[s + r] = tid[cand[order]]
    return out


def moments(cols: list[np.ndarray]) -> list[int]:
    """Exact order-free fingerprint of rows (a, b, c...): the row count and
    the sums of a, b, a*b, a*a*b and a*b*b over the first two columns, plus
    the sum of a*b*c when a third column is given."""
    a = cols[0].astype(object)
    b = cols[1].astype(object)
    out = [len(a), sum(a), sum(b), sum(a * b), sum(a * a * b), sum(a * b * b)]
    if len(cols) > 2:
        out.append(sum(a * b * cols[2].astype(object)))
    return [int(v) for v in out]


def _prep_pages(workload: str, seed: int, d: Path) -> dict:
    n = SIZES[workload]["pages"]
    idx = np.arange(block_start(seed, n), block_start(seed, n) + n, dtype=np.int64)
    write_pages(idx, d / "pages")
    lat, lng = geotag_latlng(idx)
    ref: dict = {"rows": n}
    if workload == "tile_rollup_write":
        tiles = tile_reference(lat, lng)
        ref["tiles"] = [[t, c] for t, c in sorted(tiles.items())]
        cell = ck.to_signed(ck.cellid_from_latlng(lat, lng))
        encoded = pa.table(
            {
                "url": np.char.add(URL_PREFIX, np.char.zfill(idx.astype("U12"), 12)),
                "lat": lat,
                "lng": lng,
                "cell_id": cell,
            }
        )
        _write_parts(encoded, d / "encoded", PAGE_FILES)
    else:
        rows, gids = pip_reference(lat, lng, city_loop_regions(PIP_LOOPS))
        ref["pairs"] = len(rows)
        ref["moments"] = moments([idx[rows], gids])
    return ref


def _prep_knn(seed: int, d: Path) -> dict:
    size = SIZES["points_knn"]
    n, nt = size["points"], size["targets"]
    pid = np.arange(block_start(seed, n), block_start(seed, n) + n, dtype=np.int64)
    tid = KNN_TARGET_BASE + np.arange(
        block_start(seed, nt), block_start(seed, nt) + nt, dtype=np.int64
    )
    plat, plng = page_coords(pid.astype(np.uint64))
    tlat, tlng = page_coords(tid.astype(np.uint64))
    _write_parts(pa.table({"id": pid, "lat": plat, "lng": plng}), d / "points", PAGE_FILES)
    _write_parts(pa.table({"tid": tid, "lat": tlat, "lng": tlng}), d / "targets", 1)
    sample = np.nonzero(pid % KNN_SAMPLE_MOD == 0)[0]
    top = knn_reference(plat[sample], plng[sample], tid, tlat, tlng, KNN_K)
    ranks = np.tile(np.arange(1, KNN_K + 1, dtype=np.int64), len(sample))
    return {
        "rows": n,
        "targets": nt,
        "k": KNN_K,
        "id_sum": int(pid.sum()),
        "sample_mod": KNN_SAMPLE_MOD,
        "sample_moments": moments([np.repeat(pid[sample], KNN_K), top.ravel(), ranks]),
    }


def build_pyfiles_zip(pkg_dir: Path, zpath: Path) -> None:
    """The archive geo_spark.session.ensure_pyfiles ships to Python
    workers, built ahead of time so no timed process rebuilds it."""
    zpath.parent.mkdir(parents=True, exist_ok=True)
    tmp = zpath.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
        for p in sorted(pkg_dir.rglob("*.py")):
            z.write(p, p.relative_to(pkg_dir.parent).as_posix())
    os.replace(tmp, zpath)


def prepare(workload: str, seed: int, fixtures: Path) -> Path:
    """Fixture directory for (workload, seed), built once and reused; the
    fixtures of other seeds and sizes are removed to bound disk use."""
    key = hashlib.sha1(json.dumps(SIZES[workload], sort_keys=True).encode()).hexdigest()
    d = fixtures / f"{workload}-s{seed}-{key[:8]}"
    if (d / "reference.json").exists():
        return d
    shutil.rmtree(fixtures, ignore_errors=True)
    tmp = fixtures / ".tmp"
    tmp.mkdir(parents=True)
    if workload == "points_knn":
        ref = _prep_knn(seed, tmp)
    else:
        ref = _prep_pages(workload, seed, tmp)
    ref["workload"] = workload
    ref["seed"] = seed
    (tmp / "reference.json").write_text(json.dumps(ref))
    os.replace(tmp, d)
    return d
