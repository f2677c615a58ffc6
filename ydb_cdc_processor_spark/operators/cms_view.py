"""Incrementally-maintained count-min sketch — approximate frequencies
under CDC, deletes included.

The IVM sketch family, completed: HllView (hll_view.py) maintains
approximate DISTINCT counts but cannot retract (register max is
monotone); this view maintains approximate FREQUENCIES and CAN —
count-min counters are a LINEAR sketch (each cell is a sum of
contributions), so an old image's words feed through as −1s and the
counter table tracks the live corpus exactly as if rebuilt from
scratch (pinned by recompute_check in the lifecycle test).  The
classic turnstile guarantee holds: as long as every live true count is
≥ 0, each counter equals true + non-negative collision mass, so
``est = min over depth`` never underestimates.

State: ``depth · 16^width_hex`` counter cells — FIXED size regardless
of vocabulary (the |vocab|-independence that distinguishes it from the
exact q_top_terms rollup), stored as a bucketed
:class:`~ydb_cdc_processor_spark.operators.agg_view.AggregateView`
keyed ``(_d, _b)`` under the standard batch-token replay fence.  The
geometry ``(depth, width_hex)`` is layout state in that store's own
manifest (``cells/_buckets.json``).
Per-batch cost: one map-side-combined ±contribution agg over the batch
(exchange ≤ partitions·depth·width rows) + a merge touching only the
batch cells' buckets.  Serving: point estimates for a probe term set
read only the probes' cells' buckets.

Hash rule shared verbatim with ``sketches.cms_top_terms`` (bucket =
first ``width_hex`` hex chars of ``md5(d || ':' || value)``) so the
one-shot sketch, this view, and the DuckDB oracle are bit-identical.
Reference anchor for the maintained-store contract:
``YqlWriter.java:118-147`` (idempotent keyed merge per batch).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ydb_cdc_processor_spark.operators.agg_view import AggregateView
from ydb_cdc_processor_spark.operators.bucketed_view import (
    mutate_manifest, read_manifest)
from ydb_cdc_processor_spark.operators.ivm_feed import Feed

#: counter-store row schema — read_touched types empty results from it
_STORE_SCHEMA = T.StructType([T.StructField("_d", T.IntegerType()),
                              T.StructField("_b", T.StringType()),
                              T.StructField("c", T.LongType())])


class CmsView:
    """Persistent count-min counter table with signed incremental
    maintenance and bucket-pruned point estimates."""

    def __init__(self, spark: SparkSession, path: str,
                 value_col: str, depth: int = 4, width_hex: int = 2,
                 n_buckets: int = 8):
        if depth < 1:
            raise ValueError("depth must be >= 1")
        if not 1 <= width_hex <= 8:
            raise ValueError("width_hex must be in [1, 8]")
        self.spark = spark
        self.path = path
        self.value_col = value_col
        self.depth = depth
        self.width_hex = width_hex
        self.counts = AggregateView(
            spark, os.path.join(path, "cells"), group_cols=["_d", "_b"],
            sum_cols={}, count_col="c", backend="bucketed",
            n_buckets=n_buckets)
        # (depth, width_hex) are LAYOUT properties: cells of a store
        # built at one geometry are meaningless at another.  They live
        # in the counter store's manifest ("cms"), written HERE, before
        # any data — a first-batch crash before a post-merge layout
        # write would leave a populated store whose reopen could
        # silently probe at a different geometry and UNDERcount (the
        # one error class CMS must never make); on reopen the manifest
        # wins over the constructor
        cells = self.counts.path
        stored = read_manifest(cells).get("cms")
        if stored:
            self.depth = int(stored["depth"])
            self.width_hex = int(stored["width_hex"])
        else:
            layout = {"depth": self.depth, "width_hex": self.width_hex}
            mutate_manifest(cells,
                            lambda doc: doc.__setitem__("cms", layout))

    # -- hashing (the cms_top_terms rule, verbatim) ----------------------------

    def _cells(self, rows: DataFrame) -> DataFrame:
        """One ``(_d, _b)`` contribution row per input row per depth."""
        ds = F.array([F.lit(i) for i in range(self.depth)])
        return (rows
                .select(F.col(self.value_col).cast("string").alias("_t"))
                .select("_t", F.explode(ds).alias("_d"))
                .select("_d", F.substring(
                    F.md5(F.concat_ws(":", F.col("_d").cast("string"),
                                      F.col("_t"))),
                    1, self.width_hex).alias("_b")))

    # -- maintenance -------------------------------------------------------------

    def apply_delta(self, new_rows: DataFrame | None,
                    old_rows: DataFrame | None = None,
                    batch_token: str | None = None) -> None:
        """Merge one micro-batch: +1 per cell of each new row's value,
        −1 per cell of each old image's value (a rewrite retracts the
        old value and contributes the new — the linear-sketch property;
        both sides ride AggregateView's signed merge under its
        batch-token fence)."""
        if new_rows is None and old_rows is None:
            return
        self.counts.apply_delta(
            self._cells(new_rows) if new_rows is not None else None,
            self._cells(old_rows) if old_rows is not None else None,
            batch_token=batch_token)

    def merge_from(self, other: "CmsView",
                   batch_token: str | None = None) -> None:
        """Federated union of shard sketches: count-min counters are
        LINEAR, so per-shard cell counts SUM into the one-shot sketch of
        the union (Cormode–Muthukrishnan's mergeability) — same geometry
        required, cells of one (depth, width) are meaningless at
        another.  Rides :meth:`~ydb_cdc_processor_spark.operators.
        agg_view.AggregateView.merge_rollup` (token-fenced: counter
        addition is not idempotent).

        Run between committed batches of any live feed (via
        ``merge_rollup``): a replay of a COMMITTED feed batch is skipped
        by the applied-token history, and a torn one was never visible,
        so it applies once."""
        if other.value_col != self.value_col:
            raise ValueError(
                f"value_col must match to merge ({other.value_col!r} vs "
                f"{self.value_col!r}) — counters over different columns "
                "sum into a meaningless sketch")
        if (other.depth, other.width_hex) != (self.depth, self.width_hex):
            raise ValueError(
                f"cannot merge a depth={other.depth}/width_hex="
                f"{other.width_hex} sketch into depth={self.depth}/"
                f"width_hex={self.width_hex} — cell geometry differs")
        st = other.counts.store()
        if not st.exists():
            return
        self.counts.merge_rollup(st.read(), batch_token=batch_token)

    def feed(self) -> Feed:
        """Adapter for a CDC engine's ``agg_views`` list: upserts
        contribute +new −old-image, deletes retract via old images
        alone — the DistinctCountView protocol, so the counter table
        tracks the engine's LIVE row view."""
        return Feed(self.apply_delta)

    def start_stream(self, rows_stream: DataFrame, checkpoint_dir: str,
                     available_now: bool = True):
        """Maintain the sketch from an APPEND-ONLY stream (foreachBatch
        → :meth:`apply_delta` with no old images, fenced by the batch
        id).  Rewrites/deletes need old images — ride a CDC engine's
        ``agg_views`` feed for those.  Returns the StreamingQuery."""
        def _batch(df, batch_id: int) -> None:
            self.apply_delta(df, None, batch_token=f"cms:{batch_id}")

        writer = (rows_stream.writeStream
                  .foreachBatch(_batch)
                  .option("checkpointLocation", checkpoint_dir))
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    # -- serving -----------------------------------------------------------------

    def estimate(self, terms: DataFrame, term_col: str = "term") -> DataFrame:
        """Point estimates ``(term, est_count BIGINT)`` for a probe term
        set — est ≥ live true count (turnstile CMS).  Reads ONLY the
        probes' cells' store buckets; a term whose cells were never
        touched estimates 0."""
        probes = (terms.select(F.col(term_col).cast("string")
                               .alias("term")).distinct())
        ds = F.array([F.lit(i) for i in range(self.depth)])
        pb = (probes.select("term", F.explode(ds).alias("_d"))
              .withColumn("_b", F.substring(
                  F.md5(F.concat_ws(":", F.col("_d").cast("string"),
                                    F.col("term"))),
                  1, self.width_hex))
              .localCheckpoint(eager=True))
        store = self.counts.store(_STORE_SCHEMA)
        touched = sorted({r[0] for r in pb.select(
            store.bucket_expr().alias("_k")).distinct().collect()})
        cells = (store.read_touched(touched, _STORE_SCHEMA)
                 .select("_d", "_b", "c"))
        return (pb.join(cells, on=["_d", "_b"], how="left")
                .groupBy("term")
                .agg(F.min(F.coalesce(F.col("c"), F.lit(0)))
                     .alias("est_count")))

    def top_terms(self, vocab: DataFrame, k: int = 20,
                  term_col: str = "term") -> DataFrame:
        """Top-``k`` of a candidate vocabulary by estimate —
        ``(term, est_count, rnk)``, the ``cms_top_terms`` output
        contract over the maintained state."""
        from pyspark.sql import Window
        est = self.estimate(vocab, term_col)
        w = Window.orderBy(F.col("est_count").desc(),
                           F.col("term").asc())
        return (est.withColumn("rnk",
                               F.row_number().over(w).cast("int"))
                .where(F.col("rnk") <= k))

    def recompute_check(self, rows: DataFrame) -> bool:
        """True iff the counter table equals a from-scratch sketch of
        ``rows`` (zero cells dropped — AggregateView deletes groups
        whose count reaches 0)."""
        want = {tuple(r) for r in self._cells(rows)
                .groupBy("_d", "_b").agg(F.count(F.lit(1)).alias("c"))
                .collect()}
        got = {tuple(r) for r in self.counts.read()
               .select("_d", "_b", "c").collect()}
        return want == got

    def maintain(self) -> None:
        """Between-batch housekeeping on the cell store (state is
        depth·width rows — compaction is the one that matters)."""
        self.counts.store(_STORE_SCHEMA).maintain()
