"""tile_theil_sen: robust median-of-slopes trend per tile."""

import numpy as np
from pyspark.sql import functions as F

from geo_spark.operators.tiling import tile_theil_sen

ZOOM = 2
DAY = 86_400_000_000


def _mk(spark, tiles: dict):
    """tiles: {(lat, lng): {day: count}} -> events df"""
    rows = []
    for (la, ln), days in tiles.items():
        for d, c in days.items():
            for _ in range(c):
                rows.append((float(la), float(ln), d * DAY + 7))
    return spark.createDataFrame(rows, "lat double, lng double, ts_us long")


def _ref(days: dict) -> tuple[int, int, int]:
    ds = sorted(days)
    slopes = []
    k = 10**9
    for i in range(len(ds)):
        for j in range(i + 1, len(ds)):
            dd = ds[j] - ds[i]
            dc = days[ds[j]] - days[ds[i]]
            slopes.append((dc * 1000 + k * dd) // dd - k)
    slopes.sort()
    n = len(slopes)
    return len(ds), n, slopes[(n + 1) // 2 - 1]


def test_matches_reference_and_outlier_robust(spark):
    tiles = {
        (10.0, 10.0): {0: 5, 1: 7, 2: 9, 3: 11, 4: 500},  # bot spike day 4
        (40.0, -100.0): {0: 20, 2: 14, 5: 8},  # gappy decline
        (-30.0, 60.0): {1: 3},  # single day -> excluded
    }
    got = {
        r["qk"]: (r["n_days"], r["n_pairs"], r["slope_mu"])
        for r in tile_theil_sen(_mk(spark, tiles), ZOOM).collect()
    }
    assert len(got) == 2
    wants = [
        _ref(tiles[(10.0, 10.0)]),
        _ref(tiles[(40.0, -100.0)]),
    ]
    assert sorted(got.values()) == sorted(wants)
    # robustness: the spike tile's median slope stays at the underlying
    # +2/day trend (least squares would report ~ +90/day)
    spike = _ref(tiles[(10.0, 10.0)])
    assert spike[2] == 2000


def test_negative_slope_floors_match_python(spark):
    # dc*1000 not divisible by dd: floor semantics must match // exactly
    tiles = {(0.0, 0.0): {0: 10, 3: 3}}  # slope -7/3 -> floor(-2333.33)
    [r] = tile_theil_sen(_mk(spark, tiles), ZOOM).collect()
    assert r["slope_mu"] == (-7 * 1000 + 10**9 * 3) // 3 - 10**9 == -2334


def test_plan_is_native(spark):
    df = _mk(spark, {(0.0, 0.0): {0: 1, 1: 2}})
    plan = (
        tile_theil_sen(df, ZOOM)._jdf.queryExecution().executedPlan().toString()
    )
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_randomized_differential(spark):
    """Seeded random tile/day/count tables vs the pure-python
    reference — full (n_days, n_pairs, median) equality per tile."""
    rng = np.random.default_rng(20260821)
    tiles = {}
    centers = [(5.0, 5.0), (50.0, 120.0), (-45.0, -60.0), (70.0, 179.0)]
    for la, ln in centers:
        nd = int(rng.integers(2, 9))
        days = sorted(rng.choice(40, size=nd, replace=False).tolist())
        tiles[(la, ln)] = {int(d): int(rng.integers(1, 30)) for d in days}
    got = {
        r["qk"]: (r["n_days"], r["n_pairs"], r["slope_mu"])
        for r in tile_theil_sen(_mk(spark, tiles), ZOOM).collect()
    }
    want = sorted(_ref(d) for d in tiles.values())
    assert sorted(got.values()) == want


def _ref_band(days: dict, z_mu: int = 1960):
    """Pure-python replay of trend_band_from_daily's exact spec."""
    import math

    ds = sorted(days)
    k = 10**9
    slopes = []
    for i in range(len(ds)):
        for j in range(i + 1, len(ds)):
            dd = ds[j] - ds[i]
            dc = days[ds[j]] - days[ds[i]]
            slopes.append((dc * 1000 + k * dd) // dd - k)
    slopes.sort()
    d, n = len(ds), len(slopes)
    w = d * (d - 1) * (2 * d + 5)
    c = math.isqrt(18 * z_mu * z_mu * w) // 18 // 1000
    rlo = max(1, (n - c) // 2)
    rhi = min(n, (n + c) // 2 + 1)
    return (
        d,
        n,
        c,
        slopes[rlo - 1],
        slopes[(n + 1) // 2 - 1],
        slopes[rhi - 1],
    )


def test_band_matches_python_reference(spark):
    from geo_spark.operators.tiling import tile_theil_sen_band

    tiles = {
        (10.0, 10.0): {0: 5, 1: 7, 2: 9, 3: 11, 4: 500},
        (40.0, -100.0): {0: 20, 2: 14, 5: 8, 7: 30, 9: 1},
        (-30.0, 60.0): {1: 3},  # single day -> excluded
        # NB (-60, -150), not (0, 0): at zoom 2 the (0, 0) tile is the
        # same quadkey as (-30, 60) and the fixtures would merge
        (-60.0, -150.0): {0: 1, 10: 4},  # N=1: band collapses to the slope
    }
    got = {
        r["qk"]: (
            r["n_days"],
            r["n_pairs"],
            r["c_alpha"],
            r["lo_mu"],
            r["slope_mu"],
            r["hi_mu"],
        )
        for r in tile_theil_sen_band(_mk(spark, tiles), ZOOM).collect()
    }
    assert len(got) == 3
    wants = sorted(
        _ref_band(days)
        for (la, ln), days in tiles.items()
        if len(days) >= 2
    )
    assert sorted(got.values()) == wants
    # the band brackets the point estimate everywhere
    for d, n, c, lo, med, hi in got.values():
        assert lo <= med <= hi


def test_band_isqrt_fixup_is_exact():
    """The SQL isqrt (float sqrt + one-step integer fix-up) must equal
    math.isqrt on every radicand the operator can produce near
    perfect squares and at scale — sweep d (days) over 2..2000 plus
    the 10-year horizon, at the three documented z levels."""
    import math

    for z_mu in (1645, 1960, 2576):
        for d in list(range(2, 2001)) + [3650]:
            x = 18 * z_mu * z_mu * d * (d - 1) * (2 * d + 5)
            s0 = int(math.floor(math.sqrt(float(x))))
            if (s0 + 1) * (s0 + 1) <= x:
                s0 += 1
            elif s0 * s0 > x:
                s0 -= 1
            assert s0 == math.isqrt(x), (z_mu, d)


def test_band_widens_with_confidence(spark):
    from geo_spark.operators.tiling import tile_theil_sen_band

    tiles = {(10.0, 10.0): {i: 3 * i + (i % 4) for i in range(12)}}
    ev = _mk(spark, tiles)
    bands = {}
    for z in (1645, 1960, 2576):
        [r] = tile_theil_sen_band(ev, ZOOM, z_mu=z).collect()
        bands[z] = (r["lo_mu"], r["hi_mu"], r["c_alpha"])
    assert bands[1645][2] <= bands[1960][2] <= bands[2576][2]
    assert bands[1645][0] >= bands[1960][0] >= bands[2576][0]
    assert bands[1645][1] <= bands[1960][1] <= bands[2576][1]


def test_band_plan_is_native_and_broadcast(spark):
    from geo_spark.operators.tiling import tile_theil_sen_band

    df = _mk(spark, {(0.0, 0.0): {0: 1, 1: 2, 2: 4}})
    plan = (
        tile_theil_sen_band(df, ZOOM)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def _ref_mk(days: dict, z_mu: int = 1960):
    """Pure-python replay of tile_mann_kendall's exact spec."""
    import math
    from collections import Counter

    ds = sorted(days)
    n = len(ds)
    s = 0
    for i in range(n):
        for j in range(i + 1, n):
            d = days[ds[j]] - days[ds[i]]
            s += (d > 0) - (d < 0)
    tie = sum(
        t * (t - 1) * (2 * t + 5)
        for t in Counter(days.values()).values()
    )
    w = n * (n - 1) * (2 * n + 5) - tie
    c = math.isqrt(18 * z_mu * z_mu * w) // 18 // 1000
    if s > 0 and s - 1 > c:
        trend = 1
    elif s < 0 and -s - 1 > c:
        trend = -1
    else:
        trend = 0
    return (n, s, c, trend)


def test_mann_kendall_matches_python_reference(spark):
    from geo_spark.operators.tiling import tile_mann_kendall

    tiles = {
        # strongly increasing, n=10: significant at 95%
        (10.0, 10.0): {i: 2 * i + 1 for i in range(10)},
        # strongly decreasing
        (40.0, -100.0): {i: 40 - 3 * i for i in range(10)},
        # short noisy series: S small -> not significant
        (-60.0, -150.0): {0: 5, 1: 3, 2: 6, 3: 4},
        # all-tied counts: W = 0, S = 0 -> no trend (zero-variance path)
        (70.0, 100.0): {0: 7, 1: 7, 2: 7, 3: 7, 4: 7},
        (-30.0, 60.0): {1: 3},  # single day -> excluded
    }
    got = {
        r["qk"]: (r["n_days"], r["s_stat"], r["c_alpha"], r["trend"])
        for r in tile_mann_kendall(_mk(spark, tiles), ZOOM).collect()
    }
    assert len(got) == 4
    wants = sorted(
        _ref_mk(days) for days in tiles.values() if len(days) >= 2
    )
    assert sorted(got.values()) == wants
    # the planted trends come out: one +1, one -1, two 0
    trends = sorted(t for _, _, _, t in got.values())
    assert trends == [-1, 0, 0, 1]


def test_mann_kendall_randomized_differential(spark):
    import numpy as np

    from geo_spark.operators.tiling import tile_mann_kendall

    rng = np.random.default_rng(20260822)
    centers = [(5.0, 5.0), (50.0, 120.0), (-45.0, -60.0), (70.0, 179.0)]
    tiles = {}
    for la, ln in centers:
        ds = sorted(
            rng.choice(60, size=int(rng.integers(2, 25)), replace=False)
        )
        tiles[(la, ln)] = {
            int(d): int(rng.integers(1, 12)) for d in ds
        }
    got = {
        r["qk"]: (r["n_days"], r["s_stat"], r["c_alpha"], r["trend"])
        for r in tile_mann_kendall(_mk(spark, tiles), ZOOM).collect()
    }
    wants = sorted(_ref_mk(days) for days in tiles.values())
    assert sorted(got.values()) == wants


def test_mann_kendall_plan_is_native(spark):
    from geo_spark.operators.tiling import tile_mann_kendall

    df = _mk(spark, {(0.0, 0.0): {0: 1, 1: 2, 2: 4}})
    plan = (
        tile_mann_kendall(df, ZOOM)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def _ref_cp(days: dict):
    """Pure-python replay of changepoint_from_daily's exact spec."""
    ds = sorted(days)
    n = len(ds)
    t = sum(days[d] for d in ds)
    best = None
    p = 0
    for k, d in enumerate(ds[:-1], start=1):
        p += days[d]
        stat = abs(n * p - k * t)
        key = (stat, -d)
        if best is None or key > best:
            best = key
    return (n, t, -best[1], best[0])


def test_changepoint_matches_python_reference(spark):
    from geo_spark.operators.tiling import tile_changepoint

    tiles = {
        # clean level shift at day 4->5
        (10.0, 10.0): {d: (3 if d < 5 else 30) for d in range(10)},
        # flat series: stat 0, cp at first day
        (40.0, -100.0): {d: 7 for d in range(6)},
        # gappy with a dip
        (-60.0, -150.0): {0: 50, 3: 48, 7: 5, 9: 6, 15: 4},
        (-30.0, 60.0): {1: 3},  # single day -> excluded
    }
    got = {
        r["qk"]: (r["n_days"], r["total"], r["cp_day"], r["cp_stat"])
        for r in tile_changepoint(_mk(spark, tiles), ZOOM).collect()
    }
    assert len(got) == 3
    wants = sorted(
        _ref_cp(days) for days in tiles.values() if len(days) >= 2
    )
    assert sorted(got.values()) == wants
    # the planted shift is found at day 4 (last day of the low regime)
    shift = _ref_cp(tiles[(10.0, 10.0)])
    assert shift[2] == 4
    flat = _ref_cp(tiles[(40.0, -100.0)])
    assert flat[3] == 0 and flat[2] == 0

    # a signed daily series (a net-flow or delta count): the total is
    # the series sum, not the largest prefix sum
    from geo_spark.operators.tiling import changepoint_from_daily

    signed = {0: 4, 1: 6, 2: -9, 3: 2}
    daily = spark.createDataFrame(
        [(7, d, c) for d, c in signed.items()], "qk long, day long, cnt long"
    )
    (r,) = changepoint_from_daily(daily).collect()
    assert (r["n_days"], r["total"], r["cp_day"], r["cp_stat"]) == _ref_cp(signed)
    assert r["total"] == 3


def test_changepoint_randomized_differential(spark):
    import numpy as np

    from geo_spark.operators.tiling import tile_changepoint

    rng = np.random.default_rng(20260823)
    centers = [(5.0, 5.0), (50.0, 120.0), (-45.0, -60.0), (70.0, 179.0)]
    tiles = {}
    for la, ln in centers:
        ds = sorted(
            rng.choice(50, size=int(rng.integers(2, 20)), replace=False)
        )
        tiles[(la, ln)] = {int(d): int(rng.integers(1, 40)) for d in ds}
    got = {
        r["qk"]: (r["n_days"], r["total"], r["cp_day"], r["cp_stat"])
        for r in tile_changepoint(_mk(spark, tiles), ZOOM).collect()
    }
    wants = sorted(_ref_cp(days) for days in tiles.values())
    assert sorted(got.values()) == wants


def test_changepoint_plan_is_native_no_join(spark):
    from geo_spark.operators.tiling import tile_changepoint

    df = _mk(spark, {(0.0, 0.0): {0: 1, 1: 9, 2: 9}})
    plan = (
        tile_changepoint(df, ZOOM)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" not in plan  # windows + argmax only after the daily agg


def test_changepoint_shift_invariance(spark):
    """stat_k = |n*P_k - k*T| is EXACTLY invariant under adding a
    constant to every day's count (P_k gains k*c, T gains n*c, the
    two cancel) — so cp_day and cp_stat must not move."""
    from geo_spark.operators.tiling import tile_changepoint

    base = {0: 3, 2: 9, 5: 4, 6: 30, 9: 28}
    shifted = {d: v + 17 for d, v in base.items()}
    [r0] = tile_changepoint(
        _mk(spark, {(10.0, 10.0): base}), ZOOM
    ).collect()
    [r1] = tile_changepoint(
        _mk(spark, {(10.0, 10.0): shifted}), ZOOM
    ).collect()
    assert (r0["cp_day"], r0["cp_stat"]) == (r1["cp_day"], r1["cp_stat"])
    assert r1["total"] == r0["total"] + 17 * len(base)


def test_mann_kendall_monotone_invariance(spark):
    """S, the tie structure, C, and the decision depend only on the
    ORDER of the values — any strictly increasing transform of the
    counts leaves all four unchanged exactly."""
    from geo_spark.operators.tiling import tile_mann_kendall

    base = {0: 3, 1: 9, 3: 4, 5: 9, 8: 30, 11: 2}
    mono = {d: v * v * 7 + 5 for d, v in base.items()}  # strictly incr on >=0
    [r0] = tile_mann_kendall(
        _mk(spark, {(10.0, 10.0): base}), ZOOM
    ).collect()
    [r1] = tile_mann_kendall(
        _mk(spark, {(10.0, 10.0): mono}), ZOOM
    ).collect()
    assert (r0["s_stat"], r0["c_alpha"], r0["trend"]) == (
        r1["s_stat"],
        r1["c_alpha"],
        r1["trend"],
    )


def test_band_linear_trend_equivariance(spark):
    """Adding an exact linear trend a*day to every count shifts EVERY
    pairwise milli-slope by exactly a*1000 (the shifted-division rule
    is exact for integer a: dc' = dc + a*dd), so the median and both
    band endpoints translate by a*1000 while c_alpha and n_pairs are
    untouched."""
    from geo_spark.operators.tiling import tile_theil_sen_band

    a = 6
    base = {0: 40, 2: 35, 3: 41, 7: 36, 9: 44}
    trended = {d: v + a * d for d, v in base.items()}
    [r0] = tile_theil_sen_band(
        _mk(spark, {(10.0, 10.0): base}), ZOOM
    ).collect()
    [r1] = tile_theil_sen_band(
        _mk(spark, {(10.0, 10.0): trended}), ZOOM
    ).collect()
    assert r1["n_pairs"] == r0["n_pairs"]
    assert r1["c_alpha"] == r0["c_alpha"]
    assert r1["lo_mu"] == r0["lo_mu"] + a * 1000
    assert r1["slope_mu"] == r0["slope_mu"] + a * 1000
    assert r1["hi_mu"] == r0["hi_mu"] + a * 1000
