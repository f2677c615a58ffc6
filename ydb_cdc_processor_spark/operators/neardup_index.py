"""Incremental near-duplicate index — near-dup detection AT INGEST.

The batch near-dup operators (operators/dedup.py) answer "which pairs in
this corpus are near-dups" as a one-shot job.  A training-data pipeline
also needs the ONLINE form: as each micro-batch of documents arrives,
"which already-ingested documents does this batch duplicate?" — without
rescanning the corpus.  (The reference maintains row views per consumed
batch, YqlWriter.java:163-215; this is the same continuous-maintenance
contract applied to a similarity index instead of a keyed table.)

Design — a persistent MinHash-LSH signature store:

- **State**: one row per (band, bucket, doc) carrying the doc's full
  k-hash MinHash signature, kept in a
  :class:`~ydb_cdc_processor_spark.operators.bucketed_view.
  BucketedMaterializedView` whose CO-LOCATION key is (band, bucket)
  while row identity stays (band, bucket, doc) — every signature that
  can collide with an incoming doc lives in a store bucket the batch
  already touches.
- **Per batch**: signatures + band rows of the incoming docs (the same
  salted-hash pipeline as ``dedup.minhash_lsh_pairs``, so with
  ``hash_fn="md5"`` the whole index is engine-replayable); ONE
  idempotent upsert of the new band rows; then an equi-join of the
  batch's band rows against ONLY the touched store buckets — candidates
  are scored by signature agreement (the MinHash Jaccard estimate) with
  no second pass over any text.
- **Cost**: O(|batch| × bands) new rows, O(touched buckets) store read/
  rewrite, and a bucket-local equi-join.  Nothing scans the index;
  nothing ever forms all-pairs.  At 100 TB the store is exactly the
  bucketed-view scale story (n_buckets ∝ |index|, ``maybe_rebucket``).

Replay semantics: the upsert is idempotent per (band, bucket, doc), so
a checkpoint replay converges the STORE; the returned pair set for a
replayed batch is recomputed identically (pure function of store+batch).
A re-ingested doc whose text CHANGED leaves its old band rows behind —
the index treats (doc_id → text) as immutable, the standard contract
for append-only corpora; mutable corpora should delete the doc's rows
first (``view.apply(..., action="deleteFrom")``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ydb_cdc_processor_spark.operators.bucketed_view import (
    BucketedMaterializedView)
from ydb_cdc_processor_spark.operators.dedup import minhash_signatures


def _release_checkpoint(df: DataFrame) -> None:
    """Drop the blocks behind an eager ``localCheckpoint``.
    ``DataFrame.unpersist`` does not reach them: they belong to the RDD
    under the frame's ``LogicalRDD`` leaf, not to the cache manager."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)


class NearDupIndex:
    """Persistent banded-MinHash index with per-batch candidate lookup."""

    def __init__(self, spark: SparkSession, path: str,
                 n_shingle: int = 3, k: int = 16, bands: int = 4,
                 hash_fn: str = "md5", n_buckets: int = 16,
                 salt_threshold: int | None = 4096):
        """``salt_threshold``: MinHash buckets inherit corpus skew — a
        viral shingle-set (boilerplate, templated spam) can put
        thousands of docs in ONE (band, bucket), and the store join then
        hands a single task the whole quadratic blow-up.  When any
        touched store bucket holds >= this many docs, the lookup join is
        salted (``functions.partitioning.salted_join``): the store side
        spreads over n_salts sub-keys and the batch side replicates, so
        the hot bucket's work lands on n_salts tasks instead of one.
        The PAIR SET IS UNCHANGED (salting only re-partitions the join —
        pinned by test_neardup_skew_salting_same_pairs); candidate
        OUTPUT volume for such a bucket is inherently quadratic and is
        surfaced, not hidden: per-batch occupancy lands in
        :attr:`last_skew`.  ``None`` disables the guard (and its one
        extra touched-bucket aggregate per batch)."""
        if k % bands != 0:
            raise ValueError("k must be divisible by bands")
        self.spark = spark
        self.n_shingle = n_shingle
        self.k = k
        self.bands = bands
        self.hash_fn = hash_fn
        self.salt_threshold = salt_threshold
        #: observability for the skew guard, refreshed per apply_batch:
        #: {"max_bucket_docs", "salted", "n_salts"}
        self.last_skew: dict = {"max_bucket_docs": 0, "salted": False,
                                "n_salts": 1}
        self.sig_cols = [f"mh{i}" for i in range(k)]
        self.view = BucketedMaterializedView(
            spark, path, keys=["band", "bucket", "doc"],
            bucket_keys=["band", "bucket"], n_buckets=n_buckets)

    # -- signature → band rows ----------------------------------------------

    def band_rows(self, docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
        """(doc, band, bucket, mh0..mh{k-1}) — one row per doc per band,
        the full signature riding along for join-time scoring."""
        rpb = self.k // self.bands
        sig = minhash_signatures(docs, id_col, text_col,
                                 self.n_shingle, self.k, self.hash_fn)
        bucket_of = F.md5 if self.hash_fn == "md5" else F.xxhash64
        bands = F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                bucket_of(F.concat_ws(
                    ",", *[F.col(f"mh{b * rpb + r}") for r in range(rpb)]))
                .cast("string").alias("bucket"))
            for b in range(self.bands)])).alias("bb")
        return (sig.select("doc", bands, *self.sig_cols)
                .select("doc", "bb.band", "bb.bucket", *self.sig_cols))

    # -- the incremental step -----------------------------------------------

    def apply_batch(self, docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
        """Index this batch and return its candidate near-dup pairs
        ``(doc_a, doc_b, est_jaccard)`` (doc_a < doc_b, distinct) —
        batch-vs-already-indexed AND batch-vs-batch, scored by MinHash
        signature agreement rounded to 6 digits.

        The upsert runs FIRST (idempotent per full key), then the
        lookup joins the batch's band rows against the touched store
        buckets — which now include the batch itself, so within-batch
        pairs surface in the same pass and the plan never references
        pre-merge parquet files that the commit just superseded."""
        band = self.band_rows(docs, id_col, text_col) \
            .localCheckpoint(eager=True)  # bounded: |batch| × bands rows
        touched = self.view.apply(band, action="upsertInto")

        stored = self.view.read_touched(touched, band.schema) \
            .select(F.col("doc").alias("_idoc"), "band", "bucket",
                    *[F.col(c).alias(f"_i{c}") for c in self.sig_cols])
        persisted = None
        if self.salt_threshold is not None:
            # the skew probe executes `stored` once and the candidate
            # join executes it again — persist the touched read for the
            # batch (bounded: the batch vocabulary's buckets; DISK
            # spill keeps it safe) instead of paying the pruned parquet
            # scan twice (measured ~0.5 s/batch at sf0.1, 20% of the
            # whole entry)
            from pyspark import StorageLevel
            persisted = stored = stored.persist(
                StorageLevel.MEMORY_AND_DISK)
        # plain equality (NULL → no agreement), matching ANSI CASE WHEN
        # semantics so the SQL oracle replays the identical estimate
        agree = sum(F.coalesce((F.col(c) == F.col(f"_i{c}")).cast("int"),
                               F.lit(0))
                    for c in self.sig_cols)
        joined = self._store_join(band, stored)
        cand = joined.where(F.col("doc") != F.col("_idoc"))
        pairs = (cand.select(
                     F.least("doc", "_idoc").alias("doc_a"),
                     F.greatest("doc", "_idoc").alias("doc_b"),
                     F.round(agree / F.lit(float(self.k)), 6)
                      .alias("est_jaccard"))
                 .distinct())
        # materialize NOW: the lazy plan references the store's parquet
        # files, which the NEXT apply_batch's commit garbage-collects —
        # a caller holding the un-forced frame across batches would hit
        # FileNotFound.  Bounded output (candidate pairs of one batch).
        out = pairs.localCheckpoint(eager=True)
        if persisted is not None:
            persisted.unpersist()
        # free the band rows' blocks now (``out`` no longer reads them)
        # rather than whenever ContextCleaner notices the frame is gone:
        # on a stream they would pile up one micro-batch at a time
        _release_checkpoint(band)
        return out

    def _store_join(self, band: DataFrame, stored: DataFrame) -> DataFrame:
        """The batch-vs-store candidate join, skew-guarded: when any
        touched store bucket's occupancy reaches ``salt_threshold``, the
        STORE side (the big one) is salted over n_salts sub-keys and the
        batch side replicated — same pair set, bounded per-task fan-in.
        The occupancy probe costs one aggregate over the already-pruned
        touched buckets (never the whole store)."""
        if self.salt_threshold is None:
            return band.join(stored, on=["band", "bucket"])
        row = (stored.groupBy("band", "bucket")
               .agg(F.count(F.lit(1)).alias("_n"))
               .agg(F.max("_n").alias("mx")).collect()[0])
        mx = int(row["mx"] or 0)
        if mx < self.salt_threshold:
            self.last_skew = {"max_bucket_docs": mx, "salted": False,
                              "n_salts": 1}
            return band.join(stored, on=["band", "bucket"])
        from ydb_cdc_processor_spark.functions.partitioning import (
            salted_join)
        n_salts = min(64, 2 * -(-mx // self.salt_threshold))
        self.last_skew = {"max_bucket_docs": mx, "salted": True,
                          "n_salts": n_salts}
        return salted_join(stored, band, ["band", "bucket"],
                           n_salts=n_salts)

    # -- streaming drive -----------------------------------------------------

    def start_stream(self, docs_stream: DataFrame, checkpoint_dir: str,
                     pairs_path: str, id_col: str = "doc_id",
                     text_col: str = "text", available_now: bool = True):
        """Maintain the index from a STREAM of documents (foreachBatch):
        each micro-batch is indexed and its candidate pairs appended to
        a parquet sink, tagged with the streaming batch id.

        Replay contract: the store upsert is idempotent, and a replayed
        batch re-appends its (identical) pairs under the same batch id —
        :meth:`read_pairs` collapses them, so kill/restart converges to
        the same pair set (pinned by the restart test).  Returns the
        StreamingQuery."""
        def _batch(df, batch_id: int) -> None:
            (self.apply_batch(df, id_col, text_col)
             .withColumn("_batch_id", F.lit(int(batch_id)))
             .write.mode("append").parquet(pairs_path))

        writer = (docs_stream.writeStream
                  .foreachBatch(_batch)
                  .option("checkpointLocation", checkpoint_dir))
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def read_pairs(self, pairs_path: str) -> DataFrame:
        """The streamed candidate pairs, replay-collapsed: one row per
        (doc_a, doc_b) keeping the first-emitting batch id."""
        from pyspark.sql import Window
        w = Window.partitionBy("doc_a", "doc_b").orderBy(
            F.col("_batch_id").asc(), F.col("est_jaccard").asc())
        return (self.spark.read.parquet(pairs_path)
                .withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1).drop("_rn"))

    def maintain(self) -> None:
        """Between-batch housekeeping on the backing store — the
        rebucket/compact sawtooth (engines reach this through
        ``maintain_derived_stores``; hand-driven loops call it at their
        own cadence)."""
        self.view.maintain()
