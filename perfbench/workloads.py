"""The three workloads: one-time builds, one timed execution, and the check
of that execution's output against the Spark-free reference.

Every timed execution finishes all of its work: the read workloads write
through the ``noop`` sink, the rollup writes its real output.  The noop
workloads fingerprint their output with an ``Observation`` computed in the
same pass, so checking costs no second execution.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from geo_spark.kernel import cellid as ck
from geo_spark.operators.knn import knn_join
from geo_spark.operators.spatial_join import build_layer, spatial_join
from geo_spark.operators.tiling import tile_counts, with_tiles
from geo_spark.plans.manifest import verify_manifest, write_with_manifest
from geo_spark.sources.extract import extract_encode
from geo_spark.sources.layers import city_loop_regions

from perfbench import prep
from perfbench.probes import Tracer


class CheckFailed(Exception):
    pass


def _dec(c):
    return c.cast("decimal(38,0)")


def moment_exprs(a, b, c=None, where=None) -> list:
    """Spark aggregates equal to ``prep.moments`` over the rows (a, b, c),
    restricted to ``where`` when given."""
    a, b = _dec(a), _dec(b)
    terms = [_dec(F.lit(1)), a, b, a * b, a * a * b, a * b * b]
    if c is not None:
        terms.append(a * b * _dec(c))
    if where is not None:
        terms = [F.when(where, t).otherwise(_dec(F.lit(0))) for t in terms]
    return [F.sum(t) for t in terms]


def noop_observed(df: DataFrame, exprs: list, tracer: Tracer) -> list[int]:
    """Execute df through the noop sink; return exprs aggregated in the same
    pass."""
    obs = Observation()
    named = [e.alias(f"m{i}") for i, e in enumerate(exprs)]
    with tracer.span("sink.noop"):
        df.observe(obs, *named).write.format("noop").mode("overwrite").save()
    got = obs.get
    return [int(got[f"m{i}"] or 0) for i in range(len(exprs))]


def noop(df: DataFrame, tracer: Tracer) -> None:
    with tracer.span("sink.noop"):
        df.write.format("noop").mode("overwrite").save()


class Workload:
    """Base: ``build`` once, then ``run`` (timed) and ``check`` per
    execution; ``layer_runs`` lists the isolated single-layer plans the
    traced run times."""

    name = ""

    def __init__(self, spark, fixture: Path, work: Path, tracer: Tracer):
        self.spark = spark
        self.fixture = fixture
        self.work = work
        self.tracer = tracer
        self.ref = json.loads((fixture / "reference.json").read_text())
        self.rows = self.ref["rows"]

    def build(self) -> None:
        raise NotImplementedError

    def run(self):
        raise NotImplementedError

    def check(self, handle) -> str:
        """Raise CheckFailed unless the output is correct; return its
        fingerprint."""
        raise NotImplementedError

    def cleanup(self, handle) -> None:
        pass

    def layer_runs(self) -> dict:
        return {}


class TileRollupWrite(Workload):
    """pages -> extract+encode -> level-10 tile counts -> coarse bucket ->
    partitioned write with manifest and lineage read-back."""

    name = "tile_rollup_write"
    BUCKET = f"tile_l{prep.BUCKET_LEVEL}"

    def __init__(self, *a):
        super().__init__(*a)
        self._n = itertools.count()
        self.expected = {int(t): int(c) for t, c in self.ref["tiles"]}

    def _rollup(self, encoded: DataFrame) -> DataFrame:
        with self.tracer.span("operators.tiling.tile_counts"):
            counts = tile_counts(encoded, prep.TILE_LEVEL, sort=False)
        with self.tracer.span("operators.tiling.with_tiles"):
            return with_tiles(counts, levels=(prep.BUCKET_LEVEL,), cell_col="tile")

    def build(self) -> None:
        pages = self.spark.read.parquet(str(self.fixture / "pages"))
        with self.tracer.span("sources.extract.extract_encode"):
            encoded = extract_encode(pages, keep=())
        self.out = self._rollup(encoded)

    def run(self):
        n = next(self._n)
        out = self.work / f"rollup-{n}"
        manifest = self.work / f"rollup-{n}.manifest.jsonl"
        with self.tracer.span("plans.manifest.write_with_manifest"):
            write_with_manifest(self.out, str(out), self.BUCKET, str(manifest))
        return out, manifest

    def check(self, handle) -> str:
        out, manifest = handle
        with self.tracer.span("plans.manifest.verify_manifest"):
            bad = verify_manifest(self.spark, str(out), self.BUCKET, str(manifest))
        if bad:
            raise CheckFailed(f"manifest disagrees with output in buckets {bad[:5]}")
        part = ds.partitioning(pa.schema([(self.BUCKET, pa.int64())]), flavor="hive")
        t = ds.dataset(str(out), format="parquet", partitioning=part).to_table()
        tile = t.column("tile").to_numpy()
        cnt = t.column("cnt").to_numpy()
        bucket = t.column(self.BUCKET).to_numpy()
        want_bucket = ck.to_signed(ck.parent(ck.from_signed(tile), prep.BUCKET_LEVEL))
        if not np.array_equal(bucket, want_bucket):
            raise CheckFailed("tile written under the wrong bucket")
        order = np.argsort(tile)
        got = dict(zip(tile[order].tolist(), cnt[order].tolist()))
        if len(got) != len(tile) or got != self.expected:
            raise CheckFailed(
                f"tile counts differ: {len(got)} tiles vs {len(self.expected)} expected"
            )
        return hashlib.sha1(tile[order].tobytes() + cnt[order].tobytes()).hexdigest()

    def cleanup(self, handle) -> None:
        out, manifest = handle
        shutil.rmtree(out, ignore_errors=True)
        manifest.unlink(missing_ok=True)

    def layer_runs(self) -> dict:
        pages = self.spark.read.parquet(str(self.fixture / "pages"))
        encoded = self.spark.read.parquet(str(self.fixture / "encoded"))
        return {
            "sources.extract": extract_encode(pages, keep=()),
            "operators.tiling": self._rollup(encoded),
        }


class PagesPipJoin(Workload):
    """pages -> extract+encode -> covering join against 50 city loops with
    exact refinement -> noop."""

    name = "pages_pip_join"

    def build(self) -> None:
        with self.tracer.span("operators.spatial_join.build_layer"):
            layer = build_layer(
                self.spark, city_loop_regions(prep.PIP_LOOPS), max_cells=8
            )
        pages = self.spark.read.parquet(str(self.fixture / "pages"))
        with self.tracer.span("sources.extract.extract_encode"):
            encoded = extract_encode(pages, keep=("url",))
        with self.tracer.span("operators.spatial_join.spatial_join"):
            self.out = spatial_join(
                encoded, layer, point_key="url", latlng=("lat", "lng")
            )
        page = F.substring("url", len(prep.URL_PREFIX) + 1, 32).cast("long")
        self.exprs = moment_exprs(page, F.col("geom_id"))

    def run(self):
        return noop_observed(self.out, self.exprs, self.tracer)

    def check(self, handle) -> str:
        if handle != self.ref["moments"]:
            raise CheckFailed(
                f"join output {handle[0]} pairs, fingerprint differs from "
                f"reference ({self.ref['pairs']} pairs)"
            )
        return ",".join(map(str, handle))

    def layer_runs(self) -> dict:
        pages = self.spark.read.parquet(str(self.fixture / "pages"))
        return {"sources.extract": extract_encode(pages, keep=("url",))}


class PointsKnn(Workload):
    """points x targets k-nearest join (broadcast-ring tier) -> noop."""

    name = "points_knn"

    def build(self) -> None:
        points = self.spark.read.parquet(str(self.fixture / "points"))
        targets = self.spark.read.parquet(str(self.fixture / "targets"))
        with self.tracer.span("operators.knn.knn_join"):
            self.out = knn_join(
                points, targets, k=self.ref["k"], point_key="id", target_key="tid"
            )
        a, b, c = F.col("id"), F.col("tid"), F.col("rank")
        sampled = (a % self.ref["sample_mod"]) == 0
        self.exprs = moment_exprs(a, b, c) + moment_exprs(a, b, c, where=sampled)

    def run(self):
        return noop_observed(self.out, self.exprs, self.tracer)

    def check(self, handle) -> str:
        k, n = self.ref["k"], self.rows
        full, sample = handle[:7], handle[7:]
        if full[0] != k * n or full[1] != k * self.ref["id_sum"]:
            raise CheckFailed(f"{full[0]} result rows, expected {k} per point")
        if sample != self.ref["sample_moments"]:
            raise CheckFailed("sampled points differ from brute-force top-k")
        return ",".join(map(str, full))


WORKLOADS = {w.name: w for w in (TileRollupWrite, PagesPipJoin, PointsKnn)}
