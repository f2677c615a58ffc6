"""Incremental SPAN-duplication index — boilerplate detection AT INGEST.

:func:`~ydb_cdc_processor_spark.operators.dedup.duplicate_spans` answers
"which spans repeat across this corpus" as a one-shot job.  The online
form a continuously-ingesting pipeline needs is: as each micro-batch of
documents arrives, "which of ITS spans repeat license headers, templates,
quoted passages already seen" — without rescanning the corpus (the same
continuous-maintenance contract NearDupIndex applies to whole-doc
near-dups, here applied at sub-document granularity).

Design — a persistent gram-frequency store:

- **State**: ``digest → n_docs`` (live documents containing that
  k-token window), held in a bucketed
  :class:`~ydb_cdc_processor_spark.operators.agg_view.AggregateView`
  (count-only rollup hashed on the digest).  NO posting list: per-doc
  membership is enforced at CONTRIBUTION time (a doc's grams are
  distinct-ified, and updates/deletes feed the old text's grams as
  −contributions through the standard old-image protocol), so the
  count stays exact at a fraction of a posting list's footprint.
- **Per batch**: +1 per distinct (doc, gram) of the new text, −1 per
  distinct (doc, gram) of the old images; the count delta merges into
  only the touched digests' buckets under the batch-token fence.
  Then the batch's gram positions join against ONLY those buckets'
  counts, and windows with ``n_docs ≥ min_docs`` merge into maximal
  spans (dedup.merge_islands).
- **Semantics**: flags are AS-OF-INGEST — a batch's spans are judged
  against everything ingested up to and including the batch itself
  (the store updates first, so within-batch duplicates surface).
  Earlier docs are NOT retro-flagged when a later batch re-uses their
  text; with counts only, the index cannot know which docs held a gram.
  Retroactive flagging is the one-shot ``duplicate_spans`` recompute —
  run it periodically if you need it.  The LAST batch of any ingest
  order is judged against the full corpus, so its flags equal the
  one-shot spans restricted to its docs (pinned by the any-batching
  property test).
- **Cost**: O(|batch| grams) contributions (map-side combined to one
  row per touched digest), O(touched buckets) store merge + read.
  Nothing scans the store; nothing is quadratic.  At 100 TB the store
  is |distinct k-grams| rows of (32-byte digest, count) — the
  bucketed-view growth story (``maybe_rebucket``) applies as usual.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ydb_cdc_processor_spark.operators.agg_view import AggregateView
from ydb_cdc_processor_spark.operators.dedup import (
    gram_stream, merge_islands)
from ydb_cdc_processor_spark.operators.ivm_feed import Feed

#: row schema of the count store — read_touched types empty results
#: from it when every probed bucket is absent (fresh or fully-retracted
#: store)
_STORE_SCHEMA = T.StructType([T.StructField("_h", T.StringType()),
                              T.StructField("n_docs", T.LongType())])


class SpanDupIndex:
    """Persistent k-gram frequency index with per-batch span flagging."""

    def __init__(self, spark: SparkSession, path: str, k: int = 5,
                 min_docs: int = 2, n_buckets: int = 16):
        self.spark = spark
        self.k = k
        self.min_docs = min_docs
        self.counts = AggregateView(
            spark, path, group_cols=["_h"], sum_cols={},
            count_col="n_docs", backend="bucketed", n_buckets=n_buckets)

    # -- contributions --------------------------------------------------------

    def _doc_grams(self, docs: DataFrame, id_col: str,
                   text_col: str) -> DataFrame:
        """Distinct (id, _h) per doc — each live doc contributes ONE
        count per window content it holds, however often the window
        repeats inside the doc."""
        return (gram_stream(docs, id_col, text_col, self.k)
                .select(id_col, "_h").distinct())

    # -- the incremental step -------------------------------------------------

    def apply_batch(self, docs: DataFrame, old_docs: DataFrame | None = None,
                    id_col: str = "doc_id", text_col: str = "text",
                    batch_token: str | None = None) -> DataFrame:
        """Ingest a batch (``old_docs``: pre-merge images of re-written
        docs, None for append-only corpora) and return ITS duplicated
        spans ``(doc_id, span_start, span_end, n_tokens)`` judged
        against everything ingested so far including the batch.

        The count update runs FIRST (fenced by ``batch_token``), then
        the flag join reads only the batch digests' buckets.  Output is
        eagerly materialized — the next apply_batch's bucket promotion
        replaces the files the lazy plan would reference."""
        # cache the gram stream for the batch: it feeds THREE
        # evaluations (the count contribution inside apply_delta, the
        # touched-bucket collect, and the flag join) and the
        # tokenize+window+md5 forest is the expensive part of each —
        # without the cache it recomputed per consumer (guide §1.2:
        # don't pay the same pass twice).  Batch-bounded rows; lineage
        # reads only ``docs``, never the store dirs the count merge
        # promotes over, so a lazy persist is safe.
        g = gram_stream(docs, id_col, text_col, self.k).persist()
        try:
            new_contrib = g.select(id_col, "_h").distinct()
            old_contrib = (self._doc_grams(old_docs, id_col, text_col)
                           if old_docs is not None else None)
            self.counts.apply_delta(new_contrib, old_contrib,
                                    batch_token=batch_token)

            store = self.counts.store(_STORE_SCHEMA)
            touched = sorted({r[0] for r in g.select(
                store.bucket_expr().alias("_b")).distinct().collect()})
            dup = (store.read_touched(touched, _STORE_SCHEMA)
                   .where(F.col("n_docs") >= self.min_docs)
                   .select("_h"))
            hits = g.join(dup, on="_h").select(id_col, "pos")
            return merge_islands(hits, id_col, self.k) \
                .localCheckpoint(eager=True)
        finally:
            g.unpersist()

    def feed(self, id_col: str = "doc_id", text_col: str = "text") -> Feed:
        """Adapter for a CDC engine's ``agg_views`` list: maintains the
        gram counts (with old-image retractions) WITHOUT span flagging —
        the flag pass is a query (:meth:`flag_docs`), not maintenance."""
        def _apply(new_rows, old_rows, batch_token=None) -> None:
            new_c = (self._doc_grams(new_rows, id_col, text_col)
                     if new_rows is not None else None)
            old_c = (self._doc_grams(old_rows, id_col, text_col)
                     if old_rows is not None else None)
            if new_c is None and old_c is None:
                return
            self.counts.apply_delta(new_c, old_c, batch_token=batch_token)
        return Feed(_apply)

    # -- serving --------------------------------------------------------------

    def flag_docs(self, docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
        """Duplicated spans of ``docs`` against the CURRENT store,
        without updating it (pure read; touched-bucket pruned)."""
        # same gram-forest cache as apply_batch (two consumers here:
        # the touched collect and the flag join); the result is
        # eagerly materialized so the cache can be dropped before
        # returning
        g = gram_stream(docs, id_col, text_col, self.k).persist()
        try:
            store = self.counts.store(_STORE_SCHEMA)
            touched = sorted({r[0] for r in g.select(
                store.bucket_expr().alias("_b")).distinct().collect()})
            dup = (store.read_touched(touched, _STORE_SCHEMA)
                   .where(F.col("n_docs") >= self.min_docs)
                   .select("_h"))
            hits = g.join(dup, on="_h").select(id_col, "pos")
            return merge_islands(hits, id_col, self.k) \
                .localCheckpoint(eager=True)
        finally:
            g.unpersist()

    def gram_counts(self) -> DataFrame:
        """The full (digest, n_docs) relation — the audit surface."""
        return (self.counts.store(_STORE_SCHEMA).read()
                .select("_h", F.col("n_docs").cast("long")
                        .alias("n_docs")))

    # -- streaming drive ------------------------------------------------------

    def start_stream(self, docs_stream: DataFrame, checkpoint_dir: str,
                     spans_path: str, id_col: str = "doc_id",
                     text_col: str = "text", available_now: bool = True):
        """Maintain the index from a STREAM of documents (foreachBatch):
        each micro-batch's spans append to a parquet sink tagged with
        the streaming batch id; the count update is fenced by it, so a
        checkpoint replay neither double-counts (batch-token fence)
        nor duplicates spans after :meth:`read_spans`'s
        collapse.  Returns the StreamingQuery."""
        def _batch(df, batch_id: int) -> None:
            (self.apply_batch(df, id_col=id_col, text_col=text_col,
                              batch_token=f"span:{batch_id}")
             .withColumn("_batch_id", F.lit(int(batch_id)))
             .write.mode("append").parquet(spans_path))

        writer = (docs_stream.writeStream
                  .foreachBatch(_batch)
                  .option("checkpointLocation", checkpoint_dir))
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def read_spans(self, spans_path: str, id_col: str = "doc_id") -> DataFrame:
        """The streamed spans, replay-collapsed: one row per
        (doc, span_start, span_end) keeping the first-emitting batch."""
        from pyspark.sql import Window
        w = Window.partitionBy(id_col, "span_start", "span_end") \
            .orderBy(F.col("_batch_id").asc())
        return (self.spark.read.parquet(spans_path)
                .withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1).drop("_rn"))

    def maintain(self) -> None:
        """Between-batch housekeeping on the backing store — the
        rebucket/compact sawtooth (engines reach this through
        ``maintain_derived_stores``; hand-driven loops call it at their
        own cadence)."""
        self.counts.store().maintain()
