"""kNN differential tests: ring expansion must equal the brute path, and
the brute path must equal a numpy all-pairs oracle."""

from __future__ import annotations

import numpy as np
import pytest

from geo_spark.kernel import cellid as ck
from geo_spark.operators.knn import _knn_brute, _knn_ring


def _mk_points(spark, n, seed):
    rng = np.random.default_rng(seed)
    lat = np.degrees(np.arcsin(rng.uniform(-1, 1, n)))
    lng = rng.uniform(-180, 180, n)
    rows = [(int(i), float(lat[i]), float(lng[i])) for i in range(n)]
    return (
        spark.createDataFrame(rows, "pid long, lat double, lng double"),
        lat,
        lng,
    )


def _numpy_oracle(plat, plng, tlat, tlng, k):
    px, py, pz = ck.latlng_to_xyz(plat, plng)
    tx, ty, tz = ck.latlng_to_xyz(tlat, tlng)
    p = np.stack([px, py, pz], axis=1)
    t = np.stack([tx, ty, tz], axis=1)
    d = p[:, None, :] - t[None, :, :]
    chord2 = np.minimum((d * d).sum(axis=2), 4.0)
    tids = np.arange(len(tlat))
    order = np.lexsort((np.broadcast_to(tids, chord2.shape), chord2), axis=1)
    out = set()
    for pid in range(len(plat)):
        for rank, tix in enumerate(order[pid, :k], 1):
            out.add((pid, int(tix), rank))
    return out


@pytest.mark.parametrize("k", [1, 3])
def test_brute_matches_numpy(spark, k):
    pts, plat, plng = _mk_points(spark, 500, 1)
    tg, tlat, tlng = _mk_points(spark, 40, 2)
    tg = tg.withColumnRenamed("pid", "tid")
    got = {
        (r["pid"], r["tid"], r["rank"])
        for r in _knn_brute(
            pts, tg, k, "pid", "tid", ("lat", "lng"), ("lat", "lng")
        ).collect()
    }
    assert got == _numpy_oracle(plat, plng, tlat, tlng, k)


def test_ring_matches_brute(spark):
    k = 3
    pts, plat, plng = _mk_points(spark, 300, 3)
    tg, tlat, tlng = _mk_points(spark, 250, 4)
    tg = tg.withColumnRenamed("pid", "tid")
    brute = _numpy_oracle(plat, plng, tlat, tlng, k)
    ring = {
        (r["pid"], r["tid"], r["rank"])
        for r in _knn_ring(
            pts,
            tg,
            k,
            "pid",
            "tid",
            ("lat", "lng"),
            ("lat", "lng"),
            level=3,
            max_rounds=24,
            straggler_brute_cells=0,
        ).collect()
    }
    assert ring == brute


def test_ring_clustered_multi_round(spark):
    # Clustered targets far from some points -> several expansion rounds;
    # results must still equal the exact oracle.
    k = 2
    rng = np.random.default_rng(11)
    plat = rng.uniform(-60, 60, 200)
    plng = rng.uniform(-180, 180, 200)
    tlat = np.concatenate([rng.normal(40, 0.5, 150), rng.normal(-30, 0.5, 150)])
    tlng = np.concatenate([rng.normal(-74, 0.5, 150), rng.normal(151, 0.5, 150)])
    pts = spark.createDataFrame(
        [(int(i), float(plat[i]), float(plng[i])) for i in range(len(plat))],
        "pid long, lat double, lng double",
    )
    tg = spark.createDataFrame(
        [(int(i), float(tlat[i]), float(tlng[i])) for i in range(len(tlat))],
        "tid long, lat double, lng double",
    )
    got = {
        (r["pid"], r["tid"], r["rank"])
        for r in _knn_ring(
            pts, tg, k, "pid", "tid", ("lat", "lng"), ("lat", "lng"),
            level=6, max_rounds=64, straggler_brute_cells=3000,
        ).collect()
    }
    assert got == _numpy_oracle(plat, plng, tlat, tlng, k)


def test_ring_safety_net_brute_fallback(spark):
    # max_rounds too small to converge -> the straggler brute fallback
    # must still produce exact results.
    k = 1
    pts, plat, plng = _mk_points(spark, 80, 5)
    tg, tlat, tlng = _mk_points(spark, 120, 6)
    tg = tg.withColumnRenamed("pid", "tid")
    got = {
        (r["pid"], r["tid"], r["rank"])
        for r in _knn_ring(
            pts, tg, k, "pid", "tid", ("lat", "lng"), ("lat", "lng"),
            level=8, max_rounds=2, straggler_brute_cells=0,
        ).collect()
    }
    assert got == _numpy_oracle(plat, plng, tlat, tlng, k)


def test_ring_straggler_switch(spark):
    # With the default switch threshold the test-size corpus finishes as
    # one broadcast GEMM on round 0 — still exact.
    k = 2
    pts, plat, plng = _mk_points(spark, 150, 7)
    tg, tlat, tlng = _mk_points(spark, 200, 8)
    tg = tg.withColumnRenamed("pid", "tid")
    stats = []
    got = {
        (r["pid"], r["tid"], r["rank"])
        for r in _knn_ring(
            pts, tg, k, "pid", "tid", ("lat", "lng"), ("lat", "lng"),
            level=4, max_rounds=24, stats=stats,
        ).collect()
    }
    assert got == _numpy_oracle(plat, plng, tlat, tlng, k)
    assert any("straggler_brute" in s for s in stats)


def test_farthest_join_is_reverse_order(spark):
    """farthest_join rank 1 is the true max-distance target (numpy
    differential), and farthest(k=T) reverses nearest(k=T) modulo the
    shared tie rule."""
    import numpy as np

    from geo_spark.kernel import cellid as ck
    from geo_spark.operators.knn import farthest_join

    rng = np.random.default_rng(17)
    pts = [(int(i), float(la), float(ln)) for i, (la, ln) in
           enumerate(zip(rng.uniform(-80, 80, 40), rng.uniform(-179, 179, 40)))]
    tgs = [(int(i), float(la), float(ln)) for i, (la, ln) in
           enumerate(zip(rng.uniform(-80, 80, 25), rng.uniform(-179, 179, 25)))]
    pdf = spark.createDataFrame(pts, "pid long, lat double, lng double")
    tdf = spark.createDataFrame(tgs, "tid long, lat double, lng double")
    got = {}
    for r in farthest_join(pdf, tdf, k=3).collect():
        got.setdefault(r["pid"], {})[r["rank"]] = r["tid"]

    px, py, pz = ck.latlng_to_xyz(
        np.array([p[1] for p in pts]), np.array([p[2] for p in pts]))
    tx, ty, tz = ck.latlng_to_xyz(
        np.array([t[1] for t in tgs]), np.array([t[2] for t in tgs]))
    P = np.stack([px, py, pz], axis=1)
    T = np.stack([tx, ty, tz], axis=1)
    d = ((P[:, None, :] - T[None, :, :]) ** 2).sum(axis=2)
    for i, (pid, _, _) in enumerate(pts):
        order = np.lexsort((np.arange(len(tgs)), -d[i]))
        assert got[pid][1] == int(order[0])
        assert [got[pid][r] for r in (1, 2, 3)] == [int(t) for t in order[:3]]


def test_farthest_join_pole_targets(spark):
    """Pinned pole degeneracy (VERDICT r2 #6): the antipode trick maps
    lat +-90 to the opposite pole where lng is meaningless — chord
    distance is lng-invariant there, so ranking must still match the
    numpy max-distance oracle exactly, including points AT the poles."""
    from geo_spark.operators.knn import farthest_join

    pts = [
        (0, 90.0, 0.0),      # north pole
        (1, -90.0, 123.0),   # south pole, arbitrary lng
        (2, 89.999, -45.0),  # pole-adjacent
        (3, 0.0, 180.0),     # antimeridian equator
        (4, 12.0, 34.0),
    ]
    tgs = [
        (0, 90.0, 77.0),     # north pole with nonzero lng
        (1, -90.0, 0.0),     # south pole
        (2, -89.998, 10.0),  # pole-adjacent
        (3, 0.0, -180.0),    # antimeridian (negative form)
        (4, -12.0, -146.0),  # near-antipode of point 4
    ]
    pdf = spark.createDataFrame(pts, "pid long, lat double, lng double")
    tdf = spark.createDataFrame(tgs, "tid long, lat double, lng double")
    got = {}
    for r in farthest_join(pdf, tdf, k=len(tgs)).collect():
        got.setdefault(r["pid"], []).append((r["rank"], r["tid"]))

    plat = np.array([p[1] for p in pts]); plng = np.array([p[2] for p in pts])
    tlat = np.array([t[1] for t in tgs]); tlng = np.array([t[2] for t in tgs])
    px, py, pz = ck.latlng_to_xyz(plat, plng)
    tx, ty, tz = ck.latlng_to_xyz(tlat, tlng)
    P = np.stack([px, py, pz], axis=1)
    T = np.stack([tx, ty, tz], axis=1)
    d = ((P[:, None, :] - T[None, :, :]) ** 2).sum(axis=2)
    for i, (pid, _, _) in enumerate(pts):
        # ties (both poles are equidistant from an equator point) break
        # by ascending tid at equal *antipodal* chord2 — replicate the
        # operator's tie key: distance to the antipode, ascending
        ax, ay, az = ck.latlng_to_xyz(-tlat, ((tlng + 360.0) % 360.0) - 180.0)
        A = np.stack([ax, ay, az], axis=1)
        da = ((P[i, None, :] - A) ** 2).sum(axis=1)
        order = np.lexsort((np.arange(len(tgs)), da))
        want = [(rk + 1, int(t)) for rk, t in enumerate(order)]
        assert sorted(got[pid]) == want, pid


def test_ring_cube_corner_cluster(spark):
    """Pinned cube-corner case (VERDICT r2 #6): at cube corners the
    clamped cross-face wrap makes the neighbor relation asymmetric, so a
    cell can re-enter a later ring and re-emit a (point, target) pair;
    the in-window dedup must keep results exact.  Points and targets
    cluster tightly around the (1,1,1)/sqrt(3) corner (lat 35.264,
    lng 45) where faces 0, 1, 2 meet."""
    k = 3
    rng = np.random.default_rng(23)
    corner_lat = np.degrees(np.arctan(1.0 / np.sqrt(2.0)))
    plat = corner_lat + rng.uniform(-2.0, 2.0, 120)
    plng = 45.0 + rng.uniform(-2.0, 2.0, 120)
    tlat = corner_lat + rng.uniform(-2.0, 2.0, 90)
    tlng = 45.0 + rng.uniform(-2.0, 2.0, 90)
    pts = spark.createDataFrame(
        [(int(i), float(plat[i]), float(plng[i])) for i in range(len(plat))],
        "pid long, lat double, lng double",
    )
    tg = spark.createDataFrame(
        [(int(i), float(tlat[i]), float(tlng[i])) for i in range(len(tlat))],
        "tid long, lat double, lng double",
    )
    # fine level -> many occupied cells on all three faces around the
    # corner, several expansion rounds crossing face boundaries
    got = {
        (r["pid"], r["tid"], r["rank"])
        for r in _knn_ring(
            pts, tg, k, "pid", "tid", ("lat", "lng"), ("lat", "lng"),
            level=8, max_rounds=64, straggler_brute_cells=0,
        ).collect()
    }
    assert got == _numpy_oracle(plat, plng, tlat, tlng, k)


def test_broadcast_ring_matches_oracle(spark):
    # The middle tier (closure-shipped targets, shuffle-free expansion)
    # must equal the exact oracle on a uniform fixture at a forced-fine
    # level (several hops before termination).
    from geo_spark.operators.knn import _knn_broadcast_ring

    k = 3
    pts, plat, plng = _mk_points(spark, 400, 31)
    tg, tlat, tlng = _mk_points(spark, 300, 32)
    tg = tg.withColumnRenamed("pid", "tid")
    got = {
        (r["pid"], r["tid"], r["rank"])
        for r in _knn_broadcast_ring(
            pts, tg, k, "pid", "tid", ("lat", "lng"), ("lat", "lng"),
            level=5,
        ).collect()
    }
    assert got == _numpy_oracle(plat, plng, tlat, tlng, k)


def test_broadcast_ring_clustered_and_straggler(spark):
    # Targets clustered in two far blobs, points uniform -> isolated
    # points must hop far; a tiny max_seen_cells forces the task-local
    # straggler GEMM for them.  Both paths must stay exact.
    from geo_spark.operators.knn import _knn_broadcast_ring

    k = 2
    rng = np.random.default_rng(33)
    plat = np.degrees(np.arcsin(rng.uniform(-1, 1, 250)))
    plng = rng.uniform(-180, 180, 250)
    tlat = np.concatenate([rng.normal(40, 0.5, 120), rng.normal(-30, 0.5, 120)])
    tlng = np.concatenate([rng.normal(-74, 0.5, 120), rng.normal(151, 0.5, 120)])
    pts = spark.createDataFrame(
        [(int(i), float(plat[i]), float(plng[i])) for i in range(len(plat))],
        "pid long, lat double, lng double",
    )
    tg = spark.createDataFrame(
        [(int(i), float(tlat[i]), float(tlng[i])) for i in range(len(tlat))],
        "tid long, lat double, lng double",
    )
    for max_seen in (4096, 8):
        got = {
            (r["pid"], r["tid"], r["rank"])
            for r in _knn_broadcast_ring(
                pts, tg, k, "pid", "tid", ("lat", "lng"), ("lat", "lng"),
                level=6, max_seen_cells=max_seen,
            ).collect()
        }
        assert got == _numpy_oracle(plat, plng, tlat, tlng, k)


def test_knn_join_routes_middle_tier(spark):
    # knn_join with BRUTE_FORCE_MAX_TARGETS < n <= BROADCAST_RING_MAX_TARGETS
    # must route through the broadcast-ring tier and stay exact.
    from geo_spark.operators import knn as knn_mod
    from geo_spark.operators.knn import knn_join

    k = 2
    pts, plat, plng = _mk_points(spark, 200, 41)
    tg, tlat, tlng = _mk_points(spark, 300, 42)
    tg = tg.withColumnRenamed("pid", "tid")
    orig = knn_mod.BRUTE_FORCE_MAX_TARGETS
    knn_mod.BRUTE_FORCE_MAX_TARGETS = 100
    try:
        got = {
            (r["pid"], r["tid"], r["rank"])
            for r in knn_join(
                pts, tg, k,
                point_key="pid", target_key="tid",
                latlng=("lat", "lng"), target_latlng=("lat", "lng"),
            ).collect()
        }
    finally:
        knn_mod.BRUTE_FORCE_MAX_TARGETS = orig
    assert got == _numpy_oracle(plat, plng, tlat, tlng, k)


def _spark_rows(spark, key, lat, lng, order=None):
    order = np.arange(len(lat)) if order is None else order
    return spark.createDataFrame(
        [(int(i), float(lat[i]), float(lng[i])) for i in order],
        f"{key} long, lat double, lng double",
    )


def test_broadcast_ring_face_wrap_levels(spark):
    # Level 0 has 6 cells, so every hop-1 ring wraps onto other faces;
    # level 7 (BROADCAST_RING_MAX_LEVEL) is the finest the neighbor
    # table serves.  Points and targets sit around the (1,1,1)/sqrt(3)
    # corner where faces 0, 1 and 2 meet, so level-7 walks cross face
    # edges at the corner.
    from geo_spark.operators.knn import BROADCAST_RING_MAX_LEVEL, _knn_broadcast_ring

    k = 3
    rng = np.random.default_rng(51)
    corner_lat = np.degrees(np.arctan(1.0 / np.sqrt(2.0)))
    plat = corner_lat + rng.uniform(-1.0, 1.0, 150)
    plng = 45.0 + rng.uniform(-1.0, 1.0, 150)
    tlat = corner_lat + rng.uniform(-1.5, 1.5, 120)
    tlng = 45.0 + rng.uniform(-1.5, 1.5, 120)
    # a few far targets so level-0 rings must reach other faces
    tlat = np.concatenate([tlat, [-60.0, 10.0, -5.0]])
    tlng = np.concatenate([tlng, [-120.0, -170.0, 100.0]])
    pts = _spark_rows(spark, "pid", plat, plng)
    tg = _spark_rows(spark, "tid", tlat, tlng)
    want = _numpy_oracle(plat, plng, tlat, tlng, k)
    assert len(set(ck.face(ck.cellid_from_latlng(plat, plng)).tolist())) == 3
    for level in (0, BROADCAST_RING_MAX_LEVEL):
        got = {
            (r["pid"], r["tid"], r["rank"])
            for r in _knn_broadcast_ring(
                pts, tg, k, "pid", "tid", ("lat", "lng"), ("lat", "lng"),
                level=level,
            ).collect()
        }
        assert got == want, level


def test_knn_boundary_ties_rank_by_target_id(spark):
    # Four targets per site share exact coordinates under distinct ids,
    # fed in shuffled order, so the k-th distance ties for every point:
    # the brute and broadcast-ring tiers must both rank the tie by id.
    from geo_spark.operators.knn import _knn_broadcast_ring

    k = 6
    rng = np.random.default_rng(53)
    slat = rng.uniform(-50, 50, 60)
    slng = rng.uniform(-180, 180, 60)
    tlat, tlng = np.repeat(slat, 4), np.repeat(slng, 4)
    # half the points sit exactly on a site (chord2 0 four times over)
    plat = np.concatenate([slat[:40], rng.uniform(-50, 50, 40)])
    plng = np.concatenate([slng[:40], rng.uniform(-180, 180, 40)])
    pts = _spark_rows(spark, "pid", plat, plng)
    tg = _spark_rows(spark, "tid", tlat, tlng, order=rng.permutation(len(tlat)))
    want = _numpy_oracle(plat, plng, tlat, tlng, k)

    px, py, pz = ck.latlng_to_xyz(plat, plng)
    tx, ty, tz = ck.latlng_to_xyz(tlat, tlng)
    d = (
        (np.stack([px, py, pz], 1)[:, None, :] - np.stack([tx, ty, tz], 1)[None])
        ** 2
    ).sum(axis=2)
    srt = np.sort(d, axis=1)
    assert (srt[:, k - 1] == srt[:, k]).all()  # every k-th distance ties

    brute = {
        (r["pid"], r["tid"], r["rank"])
        for r in _knn_brute(
            pts, tg, k, "pid", "tid", ("lat", "lng"), ("lat", "lng")
        ).collect()
    }
    ring = {
        (r["pid"], r["tid"], r["rank"])
        for r in _knn_broadcast_ring(
            pts, tg, k, "pid", "tid", ("lat", "lng"), ("lat", "lng"), level=4
        ).collect()
    }
    assert brute == want
    assert ring == want


def test_topk_order_matches_full_lexsort():
    # Spark-free: the partition-then-sort top-k must return exactly the
    # first kk columns of the full (d, key) lexsort, including rows that
    # take the fallback (k-th ties, inf padding, NaN) and C <= kk.
    from geo_spark.operators.knn import _topk_order

    rng = np.random.default_rng(57)
    for trial in range(40):
        n = int(rng.integers(1, 30))
        c = int(rng.integers(1, 40))
        kk = int(rng.integers(0, c + 3))
        # coarse values make ties common, at the k-th column and elsewhere
        d = rng.integers(0, 6, (n, c)).astype(np.float64) / 4.0
        if trial % 2:
            d += rng.uniform(0, 1e-3, (n, c))
        key = rng.integers(0, 1_000, (n, c))
        if n > 2 and 0 < kk < c:
            # inject a tie at the k-th column: copy the kk-th value onward
            r = int(rng.integers(0, n))
            kth_col = np.argsort(d[r], kind="stable")[kk - 1]
            d[r, rng.integers(0, c)] = d[r, kth_col]
            d[0, : min(kk + 1, c)] = np.inf  # inf padding, as the merge uses
            key[0, : min(kk + 1, c)] = np.iinfo(np.int64).max
            d[1, rng.integers(0, c)] = np.nan
        for k_arg in (key, key[0]):  # (n, C) and broadcast (C,) keys
            full = np.lexsort((np.broadcast_to(k_arg, d.shape), d), axis=1)
            np.testing.assert_array_equal(_topk_order(d, k_arg, kk), full[:, :kk])
