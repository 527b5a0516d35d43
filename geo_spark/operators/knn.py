"""kNN join: nearest targets per point, distributed.

Mirrors the reference's adaptive strategy (s2/edge_query.go:414-489):

- **Brute path** for small target sets (the analog of
  ``maxBruteForceIndexSize``, s2/min_distance_targets.go:99): targets are
  collected and shipped in the task closure; each Arrow batch computes the
  full (batch x targets) squared-chord matrix in numpy and argpartitions
  top-k.  No shuffle at all — the 1000-executor plan is pure map.

- **Ring path** for large target sets (the north star's "kNN via
  cell-ring expansion", replacing the reference's best-first priority
  queue, s2/edge_query.go:527-568): targets are bucketed by their
  level-L cell; per round r the points' candidate set grows by the cells
  at hop-distance exactly r (connectivity rings via AllNeighbors,
  s2/cellid.go:274-321 — face-wrap correct); a point finishes once its
  k-th best distance is within the proven lower bound for unseen rings
  (r * MinWidth(L), s2/metric.go:45-106) — every distance comparison is
  exact, so results equal the brute path (differential-tested).

- **Broadcast-ring tier** between the two (up to
  ``BROADCAST_RING_MAX_TARGETS`` targets): the same hop rings and
  termination bound, walked task-locally with no shuffle.  The driver
  indexes level-L cells densely (``cellid >> (61 - 2L)`` = face * 4**L
  + pos, in cell-id order) and builds one int32 8-neighbor table over
  all 6 * 4**L cells (6,144 rows at level 5, the auto level's ceiling;
  98,304 rows = 3 MiB at ``BROADCAST_RING_MAX_LEVEL`` = 7) plus CSR
  offsets of the cell-sorted targets, so every hop inside a task is an
  array lookup.  ``knn_join`` sends an explicit level above 7 to the
  ring path, which takes any level.

The numpy tiers (brute, broadcast-ring, ``knn_regions``) pick top-k
through :func:`_topk_order`, the one copy of the (distance, key)
ordering rule: argpartition, then sort only the selected entries, with
a full lexsort for rows tied at the k-th value.

Distances are squared chord lengths (s2/point.go:141-146) computed as
native Spark SQL float arithmetic after the joins — JVM codegen, not UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from geo_spark.plans.checkpoints import free_local_checkpoint
from pyspark.sql import types as T

import numpy as np
import pandas as pd

from geo_spark.functions import sql as s2sql
from geo_spark.functions.s2 import s2_cellid, s2_xyz
from geo_spark.kernel import cellid as ck
from geo_spark.kernel import cellunion as cu
from geo_spark.kernel import metric
from geo_spark.kernel.regions import chord2_from_angle

BRUTE_FORCE_MAX_TARGETS = 4096
# closure-shipped ring tier: target sets up to this size ride to every
# task as numpy arrays (~40 B/target -> 20 MB at the cap), and the ring
# expansion runs shuffle-free inside one mapInPandas pass
BROADCAST_RING_MAX_TARGETS = 500_000
# the closure-shipped tier walks a dense (6 * 4**L, 8) int32 neighbor
# table: 3 MiB at this level, 12 MiB one level finer.  Finer explicit
# levels take the distributed ring tier.
BROADCAST_RING_MAX_LEVEL = 7
# frontier x targets pairs below this finish as one broadcast GEMM
_STRAGGLER_BRUTE_CELLS = 64_000_000


def _with_xyz(df: DataFrame, lat: str, lng: str, prefix: str) -> DataFrame:
    p = F.col("_p3")
    return (
        df.withColumn("_p3", s2_xyz(F.col(lat), F.col(lng)))
        .withColumns(
            {f"{prefix}x": p["x"], f"{prefix}y": p["y"], f"{prefix}z": p["z"]}
        )
        .drop("_p3")
    )


def knn_join(
    points: DataFrame,
    targets: DataFrame,
    k: int,
    point_key: str = "pid",
    target_key: str = "tid",
    latlng: tuple[str, str] = ("lat", "lng"),
    target_latlng: tuple[str, str] | None = None,
    level: int | None = None,
    max_rounds: int = 24,
    stats: list | None = None,
    straggler_brute_cells: int = _STRAGGLER_BRUTE_CELLS,
) -> DataFrame:
    """Returns (point_key, target_key, rank) with rank 1..k by ascending
    squared chord distance, ties broken by target key (the analog of the
    reference's result ordering, s2/edge_query.go:149).  Pass a list as
    ``stats`` to receive one dict per ring round (round, seconds,
    active-point count) for benchmark logging."""
    t_latlng = target_latlng or latlng
    n_targets = targets.count()
    if n_targets <= BRUTE_FORCE_MAX_TARGETS:
        return _knn_brute(points, targets, k, point_key, target_key, latlng, t_latlng)
    if n_targets <= BROADCAST_RING_MAX_TARGETS and (
        level is None or level <= BROADCAST_RING_MAX_LEVEL
    ):
        return _knn_broadcast_ring(
            points, targets, k, point_key, target_key, latlng, t_latlng, level
        )
    return _knn_ring(
        points,
        targets,
        k,
        point_key,
        target_key,
        latlng,
        t_latlng,
        level,
        max_rounds,
        stats=stats,
        straggler_brute_cells=straggler_brute_cells,
    )


def _topk_order(d: np.ndarray, key: np.ndarray, kk: int) -> np.ndarray:
    """(n, kk) column indices of each row's first kk entries in (d, key,
    column) order: exactly ``np.lexsort((key, d), axis=1)[:, :kk]``
    without sorting whole rows.  ``key`` is (C,) or (n, C).

    argpartition picks kk columns per row.  When exactly kk entries of
    a row are <= its kk-th value, those kk are the only possible top-k
    set and only they are sorted (in column order first, so equal
    (d, key) pairs keep lexsort's stable order).  Every other row --
    ties at the kk-th value, inf padding, NaN -- takes the full
    lexsort."""
    key = np.broadcast_to(key, d.shape)
    if kk == 0 or kk >= d.shape[1]:
        return np.lexsort((key, d), axis=1)[:, :kk]
    part = np.sort(np.argpartition(d, kk - 1, axis=1)[:, :kk], axis=1)
    rows = np.arange(len(d))[:, None]
    top_d = d[rows, part]
    kth = top_d.max(axis=1)  # NaN when a NaN made the cut
    out = part[rows, np.lexsort((key[rows, part], top_d), axis=1)]
    slow = (d <= kth[:, None]).sum(axis=1) != kk
    if slow.any():
        out[slow] = np.lexsort((key[slow], d[slow]), axis=1)[:, :kk]
    return out


def _knn_brute(
    points: DataFrame,
    targets: DataFrame,
    k: int,
    point_key: str,
    target_key: str,
    latlng: tuple[str, str],
    t_latlng: tuple[str, str],
    exact_ties: bool = False,
) -> DataFrame:
    """Closure-shipped targets, one numpy GEMM-ish pass per Arrow batch.

    ``exact_ties=True`` re-orders runs of float-equal chord2 values with
    the exact CompareDistances cascade (kernel/predicates.py,
    s2/predicates.go:470-723): targets whose true distances differ below
    double resolution rank by true distance, genuine exact ties still
    break by target key — the scale-invariant tie order the reference's
    result ordering guarantees (s2/edge_query.go:149)."""
    rows = targets.select(target_key, *t_latlng).collect()
    tids = np.array([r[0] for r in rows], dtype=np.int64)
    tx, ty, tz = ck.latlng_to_xyz(
        np.array([r[1] for r in rows], dtype=np.float64),
        np.array([r[2] for r in rows], dtype=np.float64),
    )
    tmat = np.stack([tx, ty, tz], axis=1)  # (T,3)
    kk = min(k, len(tids))

    src = points.select(point_key, *latlng)
    # small-scan parallelism lift (same rationale as the ring tiers): a
    # local fixture's few parquet splits would run the whole GEMM pass
    # on a handful of cores; at production scale the scan already
    # carries >= cores splits and this never fires
    want_parts = points.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < want_parts:
        src = src.repartition(want_parts)
    key_type = src.schema[point_key].dataType.simpleString()
    schema = f"{point_key} {key_type}, {target_key} long, rank int"

    def fn(batches):
        for pdf in batches:
            x, y, z = ck.latlng_to_xyz(
                pdf[latlng[0]].to_numpy(np.float64),
                pdf[latlng[1]].to_numpy(np.float64),
            )
            pts = np.stack([x, y, z], axis=1)  # (B,3)
            # chord2 = |p|^2 + |t|^2 - 2 p.t == 2 - 2 p.t for unit vectors,
            # but match the subtraction form used everywhere else exactly.
            d = pts[:, None, :] - tmat[None, :, :]
            chord2 = np.minimum((d * d).sum(axis=2), 4.0)  # (B,T)
            # top-k ascending with (chord2, tid) tie order
            if exact_ties:
                order = np.lexsort(
                    (np.broadcast_to(tids, chord2.shape), chord2), axis=1
                )
                topk = _resolve_tie_runs(
                    pts, chord2, order, order[:, :kk], kk, tmat, tids
                )
            else:
                topk = _topk_order(chord2, tids, kk)
            b = len(pdf)
            out = pd.DataFrame(
                {
                    point_key: np.repeat(pdf[point_key].to_numpy(), kk),
                    target_key: tids[topk].ravel(),
                    "rank": np.tile(np.arange(1, kk + 1, dtype=np.int32), b),
                }
            )
            yield out

    return src.mapInPandas(fn, schema)


def _resolve_tie_runs(pts, chord2, order, topk, kk, tmat, tids):
    """Re-rank runs of float-equal chord2 overlapping the top-k by exact
    squared-chord comparison (the CompareDistances cascade's exact tier;
    kernel/predicates.exact_compare_chord2_scalar).  Only tie runs pay
    the exact-arithmetic cost; everything else is untouched."""
    from fractions import Fraction

    topk = topk.copy()
    n_t = chord2.shape[1]
    for r in range(len(pts)):
        row_order = order[r]
        vals = chord2[r, row_order]
        px = None
        i = 0
        changed = False
        while i < kk:
            j = i + 1
            while j < n_t and vals[j] == vals[i]:
                j += 1
            if j - i > 1:
                if px is None:
                    px = [Fraction(float(v)) for v in pts[r]]
                exact = []
                for tix in row_order[i:j]:
                    da = sum(
                        (px[c] - Fraction(float(tmat[tix, c]))) ** 2
                        for c in range(3)
                    )
                    exact.append((da, int(tids[tix]), int(tix)))
                exact.sort(key=lambda t: (t[0], t[1]))
                row_order = row_order.copy()
                row_order[i:j] = [t[2] for t in exact]
                changed = True
            i = j
        if changed:
            topk[r] = row_order[:kk]
    return topk


def _auto_level(n_targets: int, k: int) -> int:
    """Bucket level for ring expansion: ~max(k, 4) targets per cell with
    a 64-targets/cell density ceiling (tuned A/B in round 2)."""
    cells_wanted = max(6, n_targets // max(k, 4))
    l_target = int(np.ceil(np.log2(max(cells_wanted / 6, 1)) / 2))
    l_cap = int(np.ceil(np.log2(max(n_targets / (6 * 64), 1)) / 2))
    return max(0, min(30, max(l_target, l_cap)))


def _knn_broadcast_ring(
    points: DataFrame,
    targets: DataFrame,
    k: int,
    point_key: str,
    target_key: str,
    latlng: tuple[str, str],
    t_latlng: tuple[str, str],
    level: int | None = None,
    max_seen_cells: int = 4096,
) -> DataFrame:
    """Closure-shipped ring expansion: the middle tier between the brute
    GEMM (<= BRUTE_FORCE_MAX_TARGETS) and the distributed ring join.

    The reference's best-first search is per-query-point
    (s2/edge_query.go:527-568); here it is amortized per occupied
    point-CELL and vectorized.  The driver gives every level-L cell a
    dense index (:func:`_dense_cell`, face * 4**L + pos, in cell-id
    order), builds the 8-neighbor table of all 6 * 4**L cells in one
    vectorized AllNeighbors call (:func:`_neighbor_table`, int32:
    6,144 rows at level 5, 98,304 rows = 3 MiB at level 7, the
    ``BROADCAST_RING_MAX_LEVEL`` cap), and buckets the targets by
    dense cell as CSR offsets into the cell-sorted target arrays.  All
    of it ships to every task in the closure.  One mapInPandas pass
    then walks hop rings per distinct point-cell with array lookups
    only: hop r+1 is the unique table rows of hop r minus a boolean
    ``seen`` array, and each hop's targets come from the offsets.  Each
    hop's candidates merge into running per-point top-k arrays until
    the k-th distance is within the hop lower bound (hop * MinWidth(L),
    the same exact-termination rule as the distributed path).  ZERO
    shuffles, zero driver rounds — the plan is scan -> mapInPandas,
    identical in shape to the brute tier but with per-cell candidate
    pruning instead of all-pairs.  Cells whose expansion drags past
    ``max_seen_cells`` (isolated points in empty ocean) fall back to
    every target outside the seen cells — the straggler switch,
    task-local.

    Results are exact and equal the brute path: distances are the same
    float arithmetic, ties break by (chord2, tid), and bucketing
    partitions the targets so no (point, target) pair can duplicate."""
    rows = targets.select(target_key, *t_latlng).collect()
    tids = np.array([r[0] for r in rows], dtype=np.int64)
    tlat = np.array([r[1] for r in rows], dtype=np.float64)
    tlng = np.array([r[2] for r in rows], dtype=np.float64)
    n_targets = len(tids)
    if level is None:
        # Coarser than the distributed path's _auto_level on purpose:
        # the walk runs per occupied point-CELL in task-local Python, so
        # each cell and hop costs a fixed interpreter overhead while the
        # per-candidate distance work is one vectorized fold.  ~48
        # targets/cell keeps the loop short; the level stays <= 5 up to
        # BROADCAST_RING_MAX_TARGETS.
        level = max(
            0, min(30, int(np.log2(max(n_targets / (6 * 48), 1)) / 2))
        )
    if level > BROADCAST_RING_MAX_LEVEL:
        raise ValueError(
            f"_knn_broadcast_ring: level {level} exceeds "
            f"BROADCAST_RING_MAX_LEVEL={BROADCAST_RING_MAX_LEVEL} "
            f"(the neighbor table holds 6 * 4**level rows); use _knn_ring"
        )
    tx, ty, tz = ck.latlng_to_xyz(tlat, tlng)
    tdense = _dense_cell(ck.cellid_from_xyz(tx, ty, tz), level)
    order = np.argsort(tdense, kind="stable")
    tdense = tdense[order]
    tmat = np.stack([tx, ty, tz], axis=1)[order]
    tids_s = tids[order]
    nbr = _neighbor_table(level)
    n_cells = len(nbr)
    # CSR: the sorted targets of dense cell c are t_lo[c]:t_hi[c]
    t_count = np.bincount(tdense, minlength=n_cells)
    t_hi = np.cumsum(t_count)
    t_lo = t_hi - t_count
    kk = min(k, n_targets)
    min_width = metric.MIN_WIDTH.value(level)

    src = points.select(point_key, *latlng)
    # The Arrow pass parallelizes per input partition.  A small-scale
    # scan (few splits) would throttle to a fraction of the cluster; at
    # production scale the point table already carries >= cores splits
    # and this round-robin of the 3-column projection never fires.
    want_parts = points.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < want_parts:
        src = src.repartition(want_parts)
    key_type = src.schema[point_key].dataType.simpleString()
    schema = f"{point_key} {key_type}, {target_key} long, rank int"

    def targets_in(cells: np.ndarray) -> np.ndarray:
        """Indices (into the sorted target arrays) bucketed in cells,
        cell by cell: one arange shifted per CSR run."""
        lo = t_lo[cells]
        n = t_hi[cells] - lo
        return np.repeat(lo - (np.cumsum(n) - n), n) + np.arange(n.sum())

    def merge_topk(best_d, best_t, pts3, cand_idx):
        """Fold the candidate targets into the running (d, tid) top-k
        arrays; both sorted by (d, tid) per row."""
        d = pts3[:, None, :] - tmat[cand_idx][None, :, :]
        nd = np.minimum((d * d).sum(axis=2), 4.0)  # (n, C)
        nt = np.broadcast_to(tids_s[cand_idx], nd.shape)
        alld = np.concatenate([best_d, nd], axis=1)
        allt = np.concatenate([best_t, nt], axis=1)
        sel = _topk_order(alld, allt, kk)
        rws = np.arange(len(alld))[:, None]
        return alld[rws, sel], allt[rws, sel]

    def fn(batches):
        for pdf in batches:
            x, y, z = ck.latlng_to_xyz(
                pdf[latlng[0]].to_numpy(np.float64),
                pdf[latlng[1]].to_numpy(np.float64),
            )
            pmat = np.stack([x, y, z], axis=1)
            pdense = _dense_cell(ck.cellid_from_xyz(x, y, z), level)
            uniq, inv = np.unique(pdense, return_inverse=True)
            # point rows of each distinct cell, ascending
            groups = np.split(
                np.argsort(inv, kind="stable"), np.cumsum(np.bincount(inv))[:-1]
            )
            out_t = np.empty((len(pmat), kk), dtype=np.int64)
            for c, idx in zip(uniq, groups):
                pts3 = pmat[idx]
                best_d = np.full((len(idx), kk), np.inf)
                best_t = np.full((len(idx), kk), np.iinfo(np.int64).max)
                # hops {0,1} up front: hop 0 alone can never terminate
                ring = np.unique(np.append(nbr[c], c))
                seen = np.zeros(n_cells, dtype=bool)
                seen[ring] = True
                n_seen = len(ring)
                cand = targets_in(ring)
                n_seen_t = len(cand)
                if len(cand):
                    best_d, best_t = merge_topk(best_d, best_t, pts3, cand)
                hop = 1
                frontier = ring
                while True:
                    bound2 = chord2_from_angle(hop * min_width)
                    done = (best_d[:, -1] <= bound2) | (
                        np.isfinite(best_d[:, -1]) & (n_seen_t >= n_targets)
                    )
                    if done.all() or n_seen_t >= n_targets:
                        break
                    if n_seen > max_seen_cells:
                        # straggler: finish against ALL remaining targets
                        rest = np.nonzero(~seen[tdense])[0]
                        if len(rest):
                            best_d, best_t = merge_topk(
                                best_d, best_t, pts3, rest
                            )
                        break
                    nxt = np.unique(nbr[frontier])
                    nxt = nxt[~seen[nxt]]
                    if not len(nxt):
                        break  # sphere exhausted
                    seen[nxt] = True
                    n_seen += len(nxt)
                    cand = targets_in(nxt)
                    n_seen_t += len(cand)
                    if len(cand):
                        best_d, best_t = merge_topk(best_d, best_t, pts3, cand)
                    frontier = nxt
                    hop += 1
                out_t[idx] = best_t
            b = len(pdf)
            yield pd.DataFrame(
                {
                    point_key: np.repeat(pdf[point_key].to_numpy(), kk),
                    target_key: out_t.ravel(),
                    "rank": np.tile(np.arange(1, kk + 1, dtype=np.int32), b),
                }
            )

    return src.mapInPandas(fn, schema)


def _dense_cell(cellid, level: int) -> np.ndarray:
    """Dense index of the level-``level`` cell holding each cell id (any
    level >= ``level``): ``cellid >> (61 - 2L)`` == face * 4**L + pos,
    which keeps cell-id order."""
    shift = np.uint64(ck.POS_BITS - 2 * level)
    return (np.asarray(cellid, dtype=np.uint64) >> shift).astype(np.int64)


def _neighbor_table(level: int) -> np.ndarray:
    """(6 * 4**L, 8) int32 dense indices of every level-L cell's
    same-level neighbors, from one vectorized AllNeighbors call
    (face-wrap correct; a cube-corner row may repeat an entry)."""
    shift = np.uint64(ck.POS_BITS - 2 * level)
    dense = np.arange(ck.NUM_FACES << (2 * level), dtype=np.uint64)
    cells = (dense << shift) | (np.uint64(1) << (shift - np.uint64(1)))
    return _dense_cell(ck.all_neighbors_same_level(cells), level).astype(np.int32)


def _dedup_topk(df: DataFrame, point_key: str, target_key: str, k: int) -> DataFrame:
    """Per-point top-k with (point, target) dedup in ONE exchange.

    A duplicate (point, target) pair always carries a bitwise-identical
    chord2 (same SQL expression over the same column values), so in the
    per-point (chord2, target) sort duplicates are adjacent: a lag-filter
    removes them inside the same window pass, and the rank window reuses
    the exchange+sort (Catalyst sees the filter preserves the child
    ordering) — versus dropDuplicates + window, which shuffles twice."""
    w = Window.partitionBy(point_key).orderBy("chord2", target_key)
    return (
        df.withColumn("_pt", F.lag(target_key).over(w))
        .withColumn("_pc", F.lag("chord2").over(w))
        .where(
            F.col("_pt").isNull()
            | (F.col("_pt") != F.col(target_key))
            | (F.col("_pc") != F.col("chord2"))
        )
        .drop("_pt", "_pc")
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def _expand_ring(ring: DataFrame) -> DataFrame:
    """(pcell, rcell) ring rows -> the 8-neighborhood of every ring cell,
    vectorized over whole Arrow batches (all_neighbors_same_level)."""

    def fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cells = ck.from_signed(pdf["rcell"].to_numpy(np.int64))
            nbrs = ck.all_neighbors_same_level(cells)  # (n, 8) uint64
            yield pd.DataFrame(
                {
                    "pcell": np.repeat(pdf["pcell"].to_numpy(np.int64), 8),
                    "rcell": ck.to_signed(nbrs.ravel()),
                }
            )

    return ring.mapInPandas(fn, "pcell long, rcell long")


def _knn_ring(
    points: DataFrame,
    targets: DataFrame,
    k: int,
    point_key: str,
    target_key: str,
    latlng: tuple[str, str],
    t_latlng: tuple[str, str],
    level: int | None,
    max_rounds: int,
    stats: list | None = None,
    straggler_brute_cells: int = _STRAGGLER_BRUTE_CELLS,
) -> DataFrame:
    """Synchronized ring expansion (SURVEY.md §3.3), scale-shaped:

    - ring state lives in a (pcell, rcell) DataFrame over the DISTINCT
      occupied point-cells — hop r+1 = neighbors(hop r) minus hops r-1/r
      (triangle inequality: an 8-neighborhood never skips a hop), so each
      round costs one vectorized neighbor pass, never a from-scratch BFS;
    - only ACTIVE points are re-ranked each round: finished points' rows
      move to an append-only done list, so the per-round window input is
      (active x <= k) + this round's candidates, not everything so far;
    - per-round state is localCheckpoint-ed (lineage truncation) and the
      previous round's cache released — round cost stays flat no matter
      how many rounds run.
    """
    n_targets = targets.count()
    if level is None:
        # Aim for O(k) targets per cell: pick the level where the target
        # density per cell is ~max(k, 4).  (Interleaved A/B on 30k points
        # x 5k targets confirmed this beats one-level-coarser ~20%: more
        # rounds, but each is small and the rank windows stay tight.)
        cells_wanted = max(6, n_targets // max(k, 4))
        l_target = int(np.ceil(np.log2(max(cells_wanted / 6, 1)) / 2))
        # density ceiling of 64 targets/cell bounds the first-ring rank
        # window for large k (where k-per-cell would go very coarse and
        # GC-thrash the window input)
        l_cap = int(np.ceil(np.log2(max(n_targets / (6 * 64), 1)) / 2))
        level = max(0, min(30, max(l_target, l_cap)))

    tg = _with_xyz(targets.select(target_key, *t_latlng), *t_latlng, "t")
    tg = tg.withColumn(
        "tcell", s2sql.parent(s2_cellid(F.col(t_latlng[0]), F.col(t_latlng[1])), level)
    ).select(target_key, "tx", "ty", "tz", "tcell")
    tg.cache().count()

    pts = _with_xyz(points.select(point_key, *latlng), *latlng, "p")
    pts = pts.withColumn(
        "pcell", s2sql.parent(s2_cellid(F.col(latlng[0]), F.col(latlng[1])), level)
    ).select(point_key, "px", "py", "pz", "pcell")
    pts = pts.persist()
    pts.count()

    chord2_expr = F.least(
        (F.col("px") - F.col("tx")) * (F.col("px") - F.col("tx"))
        + (F.col("py") - F.col("ty")) * (F.col("py") - F.col("ty"))
        + (F.col("pz") - F.col("tz")) * (F.col("pz") - F.col("tz")),
        F.lit(4.0),
    )

    frontier = pts
    # Initial ring = hops {0,1}: the occupied point-cells plus their full
    # 8-neighborhoods.  Hop 0 alone can never finish a point (its unseen-
    # ring lower bound is 0), so gathering it separately would spend one
    # whole synchronized round with no terminations; starting at hops
    # {0,1} saves that round while the hop-(r+1) advance below stays
    # valid (neighbors(hops<=1) minus seen = exactly hop 2).
    ring0 = pts.select("pcell").distinct().withColumn("rcell", F.col("pcell"))
    ring = (
        ring0.unionByName(_expand_ring(ring0)).distinct().localCheckpoint()
    )
    prev_ring: DataFrame | None = None
    active_best: DataFrame | None = None
    done_parts: list[DataFrame] = []
    # retirement bookkeeping: the previous round's active_best
    # checkpoint can be freed once the new one materializes, UNLESS a
    # done_part captured it (those lazy plans are read in the final
    # union); ring checkpoints retire two generations back.
    retirable_ab: DataFrame | None = None
    stale_ring: DataFrame | None = None
    # a replaced frontier checkpoint is freed once the round's next ring
    # materializes (the lazy ring semi-joins read it until then); the
    # persisted pts is never freed here.
    stale_front: DataFrame | None = None
    min_width = metric.MIN_WIDTH.value(level)
    # frontier size is tracked arithmetically (it only shrinks by the
    # done-key subtraction) so the loop never re-counts it: one driver
    # action per round (done_keys.count) instead of three.
    n_front = pts.count()

    import time as _time

    for r in range(max_rounds):
        _t0 = _time.time()
        hop = r + 1  # highest hop gathered after this round's join
        cand = (
            frontier.join(ring, "pcell")
            .join(tg, F.col("rcell") == F.col("tcell"))
            .withColumn("chord2", chord2_expr)
            .select(point_key, target_key, "chord2")
        )
        merged = cand if active_best is None else active_best.unionByName(cand)
        # dedup within the rank pass: at cube corners the clamped
        # cross-face wrap makes the neighbor relation asymmetric, so a
        # cell can re-enter a later ring and re-emit a (point, target)
        # pair — a duplicate would eat a top-k slot and evict a true
        # neighbor.
        active_best = (
            _dedup_topk(merged, point_key, target_key, k)
            .drop("rank")
            .localCheckpoint()  # eager: materializes + truncates lineage
        )
        free_local_checkpoint(retirable_ab)
        retirable_ab = active_best

        # Termination: a point is done once it has k results and the k-th
        # distance is within the unseen-ring lower bound hop*MinWidth(level)
        # (unseen cells are at hop distance > hop, hence at least hop full
        # cell widths away).
        bound2 = chord2_from_angle(hop * min_width)
        per_point = active_best.groupBy(point_key).agg(
            F.count(F.lit(1)).alias("_n"), F.max("chord2").alias("_kth")
        )
        done_keys = (
            per_point.where((F.col("_n") >= k) & (F.col("_kth") <= F.lit(bound2)))
            .select(point_key)
            .localCheckpoint()
        )
        n_done = done_keys.count()
        if n_done > 0:
            # done_parts and the shrunken active_best are single flat
            # joins off checkpointed frames — leave them lazy (no
            # checkpoint barrier); the next round's window job or the
            # final union computes them exactly once where needed.  The
            # frontier is re-read by every later round, so it is
            # checkpointed: left lazy, each round replays the whole
            # anti-join chain of the rounds before it.
            done_parts.append(active_best.join(done_keys, point_key, "semi"))
            retirable_ab = None  # captured by the done_part just appended
            active_best = active_best.join(done_keys, point_key, "left_anti")
            n_front -= n_done
            if n_front <= 0:
                if stats is not None:
                    stats.append({"round": r, "sec": round(_time.time() - _t0, 3)})
                break
            if frontier is not pts:
                stale_front = frontier
            frontier = frontier.join(
                done_keys, point_key, "left_anti"
            ).localCheckpoint()
            # drop ring cells that no longer serve any active point
            ring = ring.join(
                frontier.select("pcell").distinct(), "pcell", "semi"
            )
            if prev_ring is not None:
                prev_ring = prev_ring.join(
                    frontier.select("pcell").distinct(), "pcell", "semi"
                )
        # Straggler switch (the reference's adaptive brute-force choice,
        # s2/edge_query.go:469-488, applied mid-flight): once the leftover
        # all-pairs work is one cheap GEMM, stop ring-walking isolated
        # points across empty ocean cells and finish them exactly.
        if n_front * n_targets <= straggler_brute_cells:
            leftover = (
                frontier.crossJoin(F.broadcast(tg))
                .withColumn("chord2", chord2_expr)
                .select(point_key, target_key, "chord2")
            )
            active_best = active_best.unionByName(leftover)
            if stats is not None:
                stats.append(
                    {
                        "round": r,
                        "sec": round(_time.time() - _t0, 3),
                        "straggler_brute": int(n_front),
                    }
                )
            break
        # advance to hop r+1: neighbors of the ring minus hops r-1 and r
        seen = ring if prev_ring is None else ring.unionByName(prev_ring)
        nxt = (
            _expand_ring(ring)
            .distinct()
            .join(seen, ["pcell", "rcell"], "left_anti")
            .localCheckpoint()
        )
        # the ring two hops back was last read in `seen` while nxt
        # materialized (no-op when cell-dropping wrapped it in a lazy
        # semi-join — best effort by design)
        free_local_checkpoint(stale_ring)
        stale_ring = prev_ring
        free_local_checkpoint(stale_front)
        stale_front = None
        prev_ring, ring = ring, nxt
        if stats is not None:
            stats.append({"round": r, "sec": round(_time.time() - _t0, 3)})
    else:
        # Safety net: brute-force the stragglers against all targets.
        leftover = frontier.crossJoin(F.broadcast(tg)).withColumn(
            "chord2", chord2_expr
        ).select(point_key, target_key, "chord2")
        active_best = active_best.unionByName(leftover)

    out = active_best
    for part in done_parts:
        out = out.unionByName(part)
    return _dedup_topk(out, point_key, target_key, k).select(
        point_key, target_key, F.col("rank").cast("int").alias("rank")
    )


def knn_regions(
    points,
    layer,
    k: int,
    point_key: str = "pid",
    latlng: tuple[str, str] = ("lat", "lng"),
):
    """Top-k nearest layer geometries per point by exact region distance
    (kernel/regions.distance_chord2).  Brute path for dimension-table
    layers (the reference's small-index fallback); rank ties break by
    geom_id, matching EdgeQueryResult ordering (s2/edge_query.go:149).

    Layers above Layer.MAX_CLOSURE_GEOMS take the distributed tier:
    the layer must be a distance layer (build_distance_layer, which
    records its buffer radius) and the result is the exact top-k among
    geometries WITHIN that radius — the reference's radius-bounded
    EdgeQuery (options.DistanceLimit, s2/edge_query.go:177-230).
    Points with fewer than k geometries in range return fewer rows.
    Plan: covering-candidate equi-join + blob-join batch-local refine
    (no per-geometry keyed shuffle) + one rank window per point."""
    from geo_spark.kernel.regions import distance_chord2

    if layer.regions is None:
        if layer.radius_rad is None:
            raise ValueError(
                "knn_regions over a >MAX_CLOSURE_GEOMS layer needs a "
                "distance layer (build_distance_layer) whose buffer "
                "radius bounds the search"
            )
        from geo_spark.operators.distance_join import distance_join

        pts = points.select(point_key, *latlng).withColumn(
            "_knn_cell", s2_cellid(F.col(latlng[0]), F.col(latlng[1]))
        )
        pairs = distance_join(
            pts,
            layer,
            layer.radius_rad,
            point_key,
            cell_col="_knn_cell",
            latlng=latlng,
        )
        w = Window.partitionBy(point_key).orderBy("chord2", "geom_id")
        return (
            pairs.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(
                point_key,
                "geom_id",
                F.col("rank").cast("int").alias("rank"),
                "chord2",
            )
        )
    regions = sorted(layer.regions.items())
    kk = min(k, len(regions))

    src = points.select(point_key, *latlng)
    key_type = src.schema[point_key].dataType.simpleString()
    schema = f"{point_key} {key_type}, geom_id long, rank int, chord2 double"

    def fn(batches):
        gids = np.array([g for g, _ in regions], dtype=np.int64)
        for pdf in batches:
            x, y, z = ck.latlng_to_xyz(
                pdf[latlng[0]].to_numpy(np.float64),
                pdf[latlng[1]].to_numpy(np.float64),
            )
            pts3 = np.stack([x, y, z], axis=1)
            dmat = np.stack(
                [distance_chord2(r, pts3) for _, r in regions], axis=1
            )  # (B, G)
            topk = _topk_order(dmat, gids, kk)
            b = len(pdf)
            rows = np.arange(b)[:, None]
            yield pd.DataFrame(
                {
                    point_key: np.repeat(pdf[point_key].to_numpy(), kk),
                    "geom_id": gids[topk].ravel(),
                    "rank": np.tile(np.arange(1, kk + 1, dtype=np.int32), b),
                    "chord2": dmat[rows, topk].ravel(),
                }
            )

    return src.mapInPandas(fn, schema)


def farthest_join(
    points: DataFrame,
    targets: DataFrame,
    k: int,
    point_key: str = "pid",
    target_key: str = "tid",
    latlng: tuple[str, str] = ("lat", "lng"),
    target_latlng: tuple[str, str] | None = None,
    **kwargs,
) -> DataFrame:
    """Top-k FARTHEST targets per point (the FurthestEdgeQuery analog,
    s2/edge_query.go max-distance targets): max distance to t equals
    pi minus min distance to t's antipode, so the whole nearest-kNN
    machinery — brute GEMM path and the ring-expansion scale path —
    runs unchanged against the antipodal target set.  Rank 1 is the
    farthest; ties break by target key (ascending), matching the
    reference's deterministic result ordering."""
    t_latlng = target_latlng or latlng
    tla, tln = t_latlng
    anti = targets.withColumn(tla, -F.col(tla)).withColumn(
        tln, ((F.col(tln) + 360.0) % 360.0) - 180.0
    )
    return knn_join(
        points,
        anti,
        k,
        point_key=point_key,
        target_key=target_key,
        latlng=latlng,
        target_latlng=t_latlng,
        **kwargs,
    )
