"""Granule re-shard growth evidence (round-12).

The composed layout bounds a small CDC merge's IO to
``touched_sub_buckets × sub_bucket_size``.  A granule whose volume
outgrows its construction-time ``n_sub`` loses the second factor: each
sub-bucket grows linearly with the day, so a 10-key micro-batch —
which touches ≤10 directories no matter what — reads linearly more
bytes.  ``reshard_granule`` (or the ``maybe_reshard_granules``
sawtooth) restores the bound by raising the hot granule's fan-out in
proportion to its volume.

This sweep grows ONE hot day 1× → 4× → 16× and measures a fixed
10-key single-day micro-batch merge against

  fixed     — n_sub frozen at 4 (construction-time parallelism)
  resharded — fan-out grown with the volume via maybe_reshard_granules

Read the BYTES column (deterministic, contention-immune): fixed grows
linearly with day volume, resharded stays ~flat.  Wall seconds are the
usual page-cache/CPU-share noise — SOLO runs only.

Usage: SPARK_DRIVER_MEMORY=16g python tools/reshard_growth.py
Writes tools/reshard_growth_results.json.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from ydb_cdc_processor_spark.operators.range_view import (  # noqa: E402
    RangePartitionedView)
from ydb_cdc_processor_spark.session import get_spark  # noqa: E402

HOT = "2024-01-03"
BASE_ROWS = 20_000
SCALES = (1, 4, 16)


def _rows(spark, n_hot: int):
    hot = spark.range(n_hot).select(
        F.col("id"), F.lit(HOT).cast("date").alias("day"),
        F.md5(F.col("id").cast("string")).alias("val"))
    cold = spark.range(1 << 40, (1 << 40) + 2_000).select(
        F.col("id"),
        F.to_date(F.concat(F.lit("2024-01-0"),
                           (F.col("id") % 2 + 1).cast("string"))).alias("day"),
        F.md5(F.col("id").cast("string")).alias("val"))
    return hot.unionByName(cold)


def _touched_bytes(rv, batch) -> tuple[int, int]:
    ids = sorted({r[0] for r in batch.select(
        rv.bucket_expr().alias("b")).distinct().collect()})
    total = sum(os.path.getsize(f)
                for files in rv.bucket_files(ids).values() for f in files)
    return len(ids), total


def main() -> None:
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "16g")
    spark = get_spark("reshard-growth")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="reshard_growth_")
    out = []
    try:
        for scale in SCALES:
            n_hot = BASE_ROWS * scale
            full = _rows(spark, n_hot).localCheckpoint(eager=True)
            batch = (full.where(F.col("day") == F.lit(HOT).cast("date"))
                     .where(F.col("id") % (n_hot // 10) == 0).limit(10)
                     .localCheckpoint(eager=True))
            for variant in ("fixed", "resharded"):
                path = os.path.join(work, f"{variant}_{scale}")
                rv = RangePartitionedView(
                    spark, path, keys=["day", "id"], part_col="day",
                    granularity="day", n_sub=4)
                rv.apply(full, action="upsertInto")
                if variant == "resharded":
                    # target ≈ the 1×-day sub-bucket size → fan-out
                    # grows with the day (the sawtooth policy)
                    target = max(1, rv.granule_bytes()[
                        rv.partition_id(HOT)] // (4 * scale))
                    rv.maybe_reshard_granules(
                        target_bucket_bytes=target, growth_factor=2)
                n_dirs, nbytes = _touched_bytes(rv, batch)
                t0 = time.perf_counter()
                rv.apply(batch, action="upsertInto")
                wall = round(time.perf_counter() - t0, 3)
                row = {"scale": scale, "hot_rows": n_hot,
                       "variant": variant,
                       "granule_n_sub": rv.granule_n_sub(
                           rv.partition_id(HOT)),
                       "touched_dirs": n_dirs,
                       "touched_bytes": nbytes, "merge_sec": wall}
                out.append(row)
                print(row, flush=True)
        dst = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "reshard_growth_results.json")
        with open(dst, "w") as fh:
            json.dump(out, fh, indent=1)
        print(f"wrote {dst}")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
