"""Checkpoint manifest: per-partition lineage + row counts, idempotent
resume (the north rule's mid-run recovery contract).

The output is hash-partitioned by a bucket column (e.g. a coarse tile);
after each successful write the manifest records, per bucket:
``rows`` and an order-insensitive content hash (sum of xxhash64 over all
columns, exact decimal accumulation; the bucket column enters as its
string, the form its directory name stores, so the hash does not depend
on how a reader types it).  On resume, buckets already in the manifest
are skipped — the write path filters them out *before* any shuffle, so a
99%-complete 10^12-row job redoes only the missing 1%.  Dynamic
partition overwrite keeps a half-written bucket from poisoning the
output: rewriting a bucket replaces exactly that directory.

One write is one data pass plus the lineage read-back.  There is no
emptiness pre-pass: an empty dynamic-overwrite write changes no bucket
(on a fresh path it leaves an empty directory), and the read-back is
pinned to the input's schema, so a resume whose manifest is already
complete, or an empty input, finds no new bucket and returns the
manifest unchanged without rewriting it.

The manifest commits atomically: the whole updated manifest goes to a
temp file beside it, is fsynced, and ``os.replace``-d over the old one,
so a crash leaves either the old manifest or the new one.  A torn final
line (a crash mid-append by an older writer, or a truncated copy) loads
as "not recorded" — safe, because dynamic overwrite rewrites that bucket
on resume.  A torn line anywhere else is corruption, and loading raises
``ValueError`` naming the line.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def load_manifest(manifest_path: str) -> dict[str, dict]:
    if not os.path.exists(manifest_path):
        return {}
    with open(manifest_path) as f:
        lines = [(n, line) for n, line in enumerate(f, 1) if line.strip()]
    entries: dict[str, dict] = {}
    for i, (n, line) in enumerate(lines):
        try:
            e = json.loads(line)
        except json.JSONDecodeError as err:
            if i == len(lines) - 1:
                break  # torn final line: that bucket is not recorded
            raise ValueError(
                f"{manifest_path}: line {n} is not a manifest entry"
            ) from err
        entries[str(e["bucket"])] = e
    return entries


def _commit_manifest(manifest_path: str, entries: dict[str, dict]) -> None:
    tmp = manifest_path + ".tmp"
    with open(tmp, "w") as f:
        for e in entries.values():
            f.write(json.dumps(e) + "\n")
        f.flush()
        os.fsync(f.fileno())
    try:
        os.replace(tmp, manifest_path)
    except BaseException:
        os.unlink(tmp)
        raise


def _bucket_stats(df: DataFrame, bucket_col: str) -> DataFrame:
    cols = [
        F.col(c).cast("string") if c == bucket_col else F.col(c) for c in df.columns
    ]
    content_hash = F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).cast("string")
    return df.groupBy(bucket_col).agg(
        F.count(F.lit(1)).alias("rows"), content_hash.alias("content_hash")
    )


def write_with_manifest(
    df: DataFrame,
    out_path: str,
    bucket_col: str,
    manifest_path: str,
) -> dict[str, dict]:
    """Write df partitioned by bucket_col, skipping buckets the manifest
    already records; returns the updated manifest dict."""
    spark = df.sparkSession
    done = load_manifest(manifest_path)
    pending = ~F.col(bucket_col).cast("string").isin(list(done))
    todo = df.where(pending) if done else df

    (
        todo.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(bucket_col)
        .parquet(out_path)
    )

    # Lineage pass over what was just written (reads back the committed
    # files, so the manifest describes the durable output, not the plan).
    written = spark.read.schema(todo.schema).parquet(out_path)
    if done:
        written = written.where(pending)
    new = {
        str(r[bucket_col]): {
            "bucket": str(r[bucket_col]),
            "rows": r["rows"],
            "content_hash": r["content_hash"],
        }
        for r in _bucket_stats(written, bucket_col).collect()
    }
    if new:
        done.update(new)
        _commit_manifest(manifest_path, done)
    return done


def verify_manifest(
    spark: SparkSession, out_path: str, bucket_col: str, manifest_path: str
) -> list[str]:
    """Audit: re-derive per-bucket stats from the output and return the
    buckets whose rows/content_hash disagree with the manifest."""
    recorded = load_manifest(manifest_path)
    actual = {
        str(r[bucket_col]): r
        for r in _bucket_stats(spark.read.parquet(out_path), bucket_col).collect()
    }
    bad = []
    for bucket, entry in recorded.items():
        a = actual.get(bucket)
        if (
            a is None
            or a["rows"] != entry["rows"]
            or a["content_hash"] != entry["content_hash"]
        ):
            bad.append(bucket)
    bad.extend(b for b in actual if b not in recorded)
    return sorted(bad)
