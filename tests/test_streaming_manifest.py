"""Streaming tile counts == batch tile counts; manifest write is
idempotent and resumes exactly the missing buckets, also after a crash
before the manifest commit or with a torn manifest."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from geo_spark.functions import sql as s2sql
from geo_spark.operators.geo_noise import with_geo_noise
from geo_spark.plans.manifest import load_manifest, verify_manifest, write_with_manifest
from geo_spark.sources.extract import extract_encode
from geo_spark.sources.pages import synth_pages
from geo_spark.streaming.tiles import (
    read_pages_stream,
    run_available_now,
    stream_tile_counts,
)


def test_stream_matches_batch(spark, tmp_path):
    src = str(tmp_path / "pages")
    synth_pages(spark, 2000, partitions=4).write.parquet(src)

    batch = (
        extract_encode(spark.read.parquet(src), keep=("url", "warc_ts"))
        .withColumn("tile", s2sql.parent(F.col("cell_id"), 10))
        .groupBy(F.window("warc_ts", "1 hour").alias("win"), "tile")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("win.start").alias("window_start"), "tile", "cnt")
    )
    expected = {(r["window_start"], r["tile"], r["cnt"]) for r in batch.collect()}

    stream = stream_tile_counts(read_pages_stream(spark, src), level=10)
    q = run_available_now(stream, "tiles_test", str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["tile"], r["cnt"])
        for r in spark.sql("select * from tiles_test").collect()
    }
    q.stop()
    assert got == expected
    assert len(got) > 10


def _bucketed_events(spark):
    ev = with_geo_noise(spark.range(0, 3000).withColumnRenamed("id", "event_id"), "event_id")
    return ev.withColumn("bucket", (F.col("event_id") % 8).cast("int"))


def _per_bucket(m: dict) -> dict:
    return {b: (e["rows"], e["content_hash"]) for b, e in m.items()}


@pytest.fixture(scope="module")
def clean_run(spark, tmp_path_factory):
    """One uninterrupted write of the 8-bucket events: (out, manifest, m)."""
    d = tmp_path_factory.mktemp("clean")
    out, manifest = str(d / "out"), str(d / "manifest.jsonl")
    m = write_with_manifest(_bucketed_events(spark), out, "bucket", manifest)
    assert len(m) == 8
    return out, manifest, m


def test_manifest_idempotent_resume(spark, tmp_path):
    out = str(tmp_path / "out")
    manifest = str(tmp_path / "manifest.jsonl")
    df = _bucketed_events(spark)

    m1 = write_with_manifest(df, out, "bucket", manifest)
    assert len(m1) == 8
    assert sum(e["rows"] for e in m1.values()) == 3000
    assert verify_manifest(spark, out, "bucket", manifest) == []

    # Simulate a mid-run crash: drop two buckets from disk AND manifest.
    for b in ("2", "5"):
        shutil.rmtree(f"{out}/bucket={b}")
    kept = {k: v for k, v in m1.items() if k not in ("2", "5")}
    with open(manifest, "w") as f:
        for e in kept.values():
            f.write(json.dumps(e) + "\n")

    # Resume writes exactly the missing buckets; totals restored.
    m2 = write_with_manifest(df, out, "bucket", manifest)
    assert set(m2) == {str(i) for i in range(8)}
    assert verify_manifest(spark, out, "bucket", manifest) == []
    assert spark.read.parquet(out).count() == 3000

    # A third run is a no-op (manifest complete).
    before = load_manifest(manifest)
    m3 = write_with_manifest(df, out, "bucket", manifest)
    assert m3 == before


def test_manifest_crash_before_commit_resumes(spark, tmp_path, monkeypatch, clean_run):
    from geo_spark.plans import manifest as manifest_mod

    out = str(tmp_path / "out")
    manifest = str(tmp_path / "manifest.jsonl")
    df = _bucketed_events(spark)
    write_with_manifest(df.where(~F.col("bucket").isin(2, 5)), out, "bucket", manifest)
    with open(manifest, "rb") as f:
        before = f.read()

    # The crash: buckets 2 and 5 reach the output, the manifest commit
    # does not.
    real_replace = manifest_mod.os.replace
    calls = []

    def crash_once(src, dst):
        calls.append(dst)
        if len(calls) == 1:
            raise OSError("crash before the manifest commit")
        return real_replace(src, dst)

    monkeypatch.setattr(manifest_mod.os, "replace", crash_once)
    with pytest.raises(OSError, match="crash before the manifest commit"):
        write_with_manifest(df, out, "bucket", manifest)
    monkeypatch.undo()
    assert calls == [manifest]
    with open(manifest, "rb") as f:
        assert f.read() == before
    assert not os.path.exists(manifest + ".tmp")
    assert set(load_manifest(manifest)) == {"0", "1", "3", "4", "6", "7"}

    resumed = write_with_manifest(df, out, "bucket", manifest)
    assert _per_bucket(resumed) == _per_bucket(clean_run[2])
    assert _per_bucket(load_manifest(manifest)) == _per_bucket(clean_run[2])
    assert verify_manifest(spark, out, "bucket", manifest) == []


def test_manifest_torn_final_line_resumes(spark, tmp_path, clean_run):
    clean_out, clean_manifest, clean = clean_run
    out = str(tmp_path / "out")
    manifest = str(tmp_path / "manifest.jsonl")
    shutil.copytree(clean_out, out)
    with open(clean_manifest) as f:
        lines = f.readlines()
    last = json.loads(lines[-1])
    # a crash mid-append: the last entry stops halfway through its line
    with open(manifest, "w") as f:
        f.write("".join(lines[:-1]) + lines[-1][: len(lines[-1]) // 2])

    loaded = load_manifest(manifest)
    assert set(loaded) == set(clean) - {last["bucket"]}
    assert _per_bucket(loaded) == {
        b: v for b, v in _per_bucket(clean).items() if b != last["bucket"]
    }

    resumed = write_with_manifest(_bucketed_events(spark), out, "bucket", manifest)
    assert _per_bucket(resumed) == _per_bucket(clean)
    assert verify_manifest(spark, out, "bucket", manifest) == []


def test_manifest_torn_interior_line_raises(tmp_path):
    manifest = str(tmp_path / "manifest.jsonl")
    good = [
        json.dumps({"bucket": str(b), "rows": 3, "content_hash": "17"}) + "\n"
        for b in range(3)
    ]
    with open(manifest, "w") as f:
        f.write(good[0] + "\n" + good[1][:20] + "\n" + good[2])
    with pytest.raises(ValueError, match="line 3 "):
        load_manifest(manifest)


def test_stream_dedup_matches_batch_distinct(spark, tmp_path):
    from geo_spark.streaming.dedup import run_dedup_available_now, stream_exact_dedup
    from geo_spark.streaming.tiles import read_pages_stream

    src = str(tmp_path / "pages_dup")
    base = synth_pages(spark, 500, partitions=2)
    # Duplicate every page once (same text, later ts).
    dup = base.withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 10 MINUTES"))
    base.unionByName(dup).write.parquet(src)

    expected = (
        spark.read.parquet(src)
        .select(F.md5("text").alias("m"))
        .distinct()
        .count()
    )
    assert expected == 500

    stream = stream_exact_dedup(read_pages_stream(spark, src))
    q = run_dedup_available_now(stream, "dedup_test", str(tmp_path / "ckpt2"))
    q.awaitTermination(120)
    got = spark.sql("select count(distinct text_md5) c, count(*) n from dedup_test").first()
    q.stop()
    assert got["c"] == 500
    assert got["n"] == 500  # exactly one survivor per content digest


def test_stateful_sessionization(spark, tmp_path):
    from geo_spark.streaming.sessions import sessionize

    # Two hosts; host A has two sessions separated by a >30min gap.
    import datetime as dt

    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)
    rows = []
    for i, (host, off_min) in enumerate(
        [("a.com", 0), ("a.com", 5), ("a.com", 10),
         ("a.com", 120), ("a.com", 125),
         ("b.com", 0), ("b.com", 40)]
    ):
        rows.append(
            (
                f"https://{host}/p{i}",
                t0 + dt.timedelta(minutes=off_min),
                b"<html></html>",
                f"t{i}",
                "en",
            )
        )
    # A late far-future row pushes the watermark so earlier sessions
    # time out and emit within the availableNow drain.
    rows.append(
        ("https://c.com/x", t0 + dt.timedelta(days=2), b"<html></html>", "t", "en")
    )
    src = str(tmp_path / "sess_pages")
    spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    ).write.parquet(src)

    from geo_spark.streaming.tiles import read_pages_stream

    stream = sessionize(read_pages_stream(spark, src), gap_minutes=30)
    q = (
        stream.writeStream.format("memory")
        .queryName("sessions_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["host"], r["n_pages"])
        for r in spark.sql("select * from sessions_test").collect()
    }
    q.stop()
    # a.com: sessions of 3 and 2 pages; b.com: two 1-page sessions.
    assert ("a.com", 3) in got
    assert ("a.com", 2) in got
    assert ("b.com", 1) in got


def test_stream_spatial_join_matches_batch(spark, tmp_path):
    from geo_spark.operators.spatial_join import build_layer, spatial_join
    from geo_spark.sources.layers import city_loop_regions
    from geo_spark.streaming.spatial import stream_spatial_join

    src = str(tmp_path / "pages_sj")
    synth_pages(spark, 3000, partitions=4).write.parquet(src)
    layer = build_layer(spark, city_loop_regions(20), max_cells=8)

    batch_pts = extract_encode(spark.read.parquet(src), keep=("url",))
    expected = {
        (r["url"], r["geom_id"])
        for r in spatial_join(
            batch_pts, layer, point_key="url", latlng=("lat", "lng")
        ).collect()
    }

    stream_pts = extract_encode(
        read_pages_stream(spark, src), keep=("url",)
    )
    joined = stream_spatial_join(
        stream_pts, layer, point_key="url", latlng=("lat", "lng")
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("sj_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_sj"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["url"], r["geom_id"])
        for r in spark.sql("select * from sj_test").collect()
    }
    q.stop()
    assert got == expected
    assert len(got) > 0


def test_stream_geohash_matches_batch(spark, tmp_path):
    """The zero-Python streaming pipeline (regex geotags -> native
    geohash -> windowed counts) matches its batch twin row for row, and
    its plan carries no Python eval node."""
    from geo_spark.functions.webgrid import geohash_col
    from geo_spark.sources.geotags import with_geotags
    from geo_spark.streaming.tiles import (
        read_pages_stream,
        run_available_now,
        stream_geohash_counts,
    )

    src = str(tmp_path / "pages_gh")
    synth_pages(spark, 2000, partitions=4).write.parquet(src)

    batch = (
        with_geotags(spark.read.parquet(src))
        .withColumn("gh", geohash_col(F.col("lat"), F.col("lng"), 4))
        .where(F.col("gh").isNotNull())
        .groupBy(F.window("warc_ts", "1 hour").alias("win"), "gh")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("win.start").alias("window_start"), "gh", "cnt")
    )
    expected = {(r["window_start"], r["gh"], r["cnt"]) for r in batch.collect()}

    stream = stream_geohash_counts(read_pages_stream(spark, src), precision=4)
    plan = stream._jdf.queryExecution().analyzed().toString()
    assert "pythonUDF" not in plan and "PythonUDF" not in plan
    q = run_available_now(stream, "gh_tiles_test", str(tmp_path / "ckpt_gh"))
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["gh"], r["cnt"])
        for r in spark.sql("select * from gh_tiles_test").collect()
    }
    q.stop()
    assert got == expected
    assert len(got) > 10
