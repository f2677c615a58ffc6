"""Demonstrate bucket-count evolution keeping per-batch cost flat.

SCALING.md's deployment rule is ``n_buckets ∝ |view|``: with a FIXED
bucket count, buckets fatten as the view grows and a micro-batch's
touched-bucket IO grows right back toward O(|view|).  Round 5 made the
rule executable — ``BucketedMaterializedView.maybe_rebucket()`` (mean
bucket size from file metadata crosses ``target × growth_factor`` → one
amortized full rewrite at a power-of-two count).

This tool measures a view growing 4× through bulk upserts, with the SAME
1000-row micro-batch evaluated at each checkpoint, under two policies:

- ``fixed``:    n_buckets stays at its initial sizing;
- ``rebucket``: ``maybe_rebucket`` runs between growth steps (as the
  stream engine does every ``rebucket_every`` batches).

Primary metric: **bytes of touched buckets per batch** — the exact
read+rewrite IO a batch pays, computed from file metadata (wall-clock on
this box is page-cache-dependent and swings 3-7× run-to-run; a first cut
of this tool timed seconds and produced non-monotonic noise).  Median-of-3
seconds is recorded as a secondary, labeled untrustworthy.

Expected shape: fixed's touched bytes grow ∝ |view| (buckets fatten);
rebucket steps back to ~batch_keys × target_bucket_bytes after each
re-bucket — flat in |view|.

Writes tools/rebucket_growth_results.json and prints a table.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

START_ROWS = 4_000_000
STEP_ROWS = 4_000_000
N_STEPS = 3                  # view: 4M → 8M → 12M → 16M
BUCKET_ROWS = 4000           # target bucket size, rows
BATCH_ROWS = 1000
ROW_BYTES = 170              # ~payload row footprint (md5×4 + keys)
TARGET_BUCKET_BYTES = BUCKET_ROWS * ROW_BYTES
GROWTH_FACTOR = 2            # rebucket when mean bucket > 2× target


def main() -> None:
    from pyspark.sql import functions as F

    from ydb_cdc_processor_spark.operators.bucketed_view import (
        BucketedMaterializedView)
    from ydb_cdc_processor_spark.session import get_spark

    spark = get_spark("rebucket-growth")
    spark.sparkContext.setLogLevel("ERROR")

    def keyed(n: int, start: int = 0):
        pay = F.concat(*[F.md5(F.concat(F.col("id").cast("string"),
                                        F.lit(f":{i}")))
                         for i in range(4)])
        return (spark.range(start, start + n)
                .select(F.col("id").alias("k"),
                        (F.col("id") % 1000).alias("user_id"),
                        (F.col("id") * 1.5).alias("value"),
                        pay.alias("payload")))

    work = tempfile.mkdtemp(prefix="rebucket_growth_")
    n0_buckets = START_ROWS // BUCKET_ROWS
    results: dict[str, list[dict]] = {"fixed": [], "rebucket": []}
    try:
        for variant in ("fixed", "rebucket"):
            path = os.path.join(work, f"view_{variant}")
            schema = keyed(1).schema
            mv = BucketedMaterializedView(spark, path, ["k"], schema=schema,
                                          n_buckets=n0_buckets)
            mv.apply(keyed(START_ROWS))        # build (untimed)
            size = START_ROWS
            for step in range(N_STEPS + 1):
                # the SAME steady-state micro-batch at every checkpoint:
                # half updates, half new keys just past the current max
                batch = keyed(BATCH_ROWS, start=size - BATCH_ROWS // 2) \
                    .withColumn("value", F.col("value") + 1) \
                    .localCheckpoint(eager=True)
                # primary metric: exact touched-bucket bytes (the IO the
                # batch reads and rewrites), from file metadata
                touched = [r[0] for r in batch.select(
                    mv.bucket_expr().alias("b")).distinct().collect()]
                touched_bytes = sum(
                    os.path.getsize(f)
                    for files in mv.bucket_files(touched).values()
                    for f in files)
                mv.apply(batch, small_delta=True)       # warm
                samples = []
                for _ in range(3):
                    t0 = time.perf_counter()
                    mv.apply(batch, small_delta=True)
                    samples.append(time.perf_counter() - t0)
                results[variant].append({
                    "view_rows": size,
                    "n_buckets": mv.n_buckets,
                    "touched_buckets": len(touched),
                    "touched_mb": round(touched_bytes / 2**20, 1),
                    "per_batch_sec_noisy": round(
                        statistics.median(samples), 3)})
                if step == N_STEPS:
                    break
                mv.apply(keyed(STEP_ROWS, start=size))  # bulk growth
                size += STEP_ROWS
                if variant == "rebucket":
                    fired = mv.maybe_rebucket(
                        target_bucket_bytes=TARGET_BUCKET_BYTES,
                        growth_factor=GROWTH_FACTOR)
                    if fired:
                        results[variant][-1]["rebucketed_to"] = mv.n_buckets
            shutil.rmtree(path, ignore_errors=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    out = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "rebucket_growth_results.json")
    with open(out, "w") as f:
        json.dump({"results": results, "start_rows": START_ROWS,
                   "step_rows": STEP_ROWS, "bucket_rows": BUCKET_ROWS,
                   "target_bucket_bytes": TARGET_BUCKET_BYTES,
                   "growth_factor": GROWTH_FACTOR}, f, indent=1,
                  sort_keys=True)

    print(f"{'variant':10s}{'view':>8s}{'n_buckets':>11s}"
          f"{'touched':>9s}{'MB/batch':>10s}{'sec(noisy)':>12s}")
    for variant, rows in results.items():
        for r in rows:
            extra = (f"  → rebucketed to {r['rebucketed_to']}"
                     if "rebucketed_to" in r else "")
            print(f"{variant:10s}{r['view_rows'] // 1_000_000:>7d}M"
                  f"{r['n_buckets']:>11d}{r['touched_buckets']:>9d}"
                  f"{r['touched_mb']:>10.1f}"
                  f"{r['per_batch_sec_noisy']:>12.2f}{extra}")


if __name__ == "__main__":
    main()
