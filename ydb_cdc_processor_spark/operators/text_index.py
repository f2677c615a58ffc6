"""Incrementally-maintained full-text retrieval index — BM25-ready
term postings kept exact under CDC.

The batch builders (``text.inverted_index``, ``text.bm25_topk``) re-scan
the corpus per query; a 100 TB corpus that ingests continuously wants
the index MAINTAINED, not rebuilt: this class keeps one row per live
``(term, doc)`` pair — ``(term, doc, tf, dl)`` — in a
:class:`~ydb_cdc_processor_spark.operators.bucketed_view.
BucketedMaterializedView` CO-LOCATED on ``term``, so a ranked query
reads ONLY the probed terms' buckets (O(touched) directory listing),
never the index.

Maintenance rides the engines' ``agg_views`` pre-merge old-image feed
(duck-typed ``apply_delta(new, old, token)`` — operators/ivm_feed): a
rewritten document retracts by its OLD text's term set (terms that
disappeared delete; survivors upsert with the new tf AND the new dl —
dl is denormalized onto every posting row precisely so a doc rewrite
never leaves a stale length behind), both sides in ONE fused
touched-bucket pass.  The GLOBAL scalars BM25 needs — corpus size,
total token count, non-empty doc count — are ±deltas from one 1-row
collect of a signed agg over the batch, kept in the postings store's
manifest (``corpus``).  They were originally a 1-group
``AggregateView``, but a Spark read+union+write store job for a single
row cost a FIXED ~1.5 s per micro-batch.

Commit and replay: a batch's postings, its scalar ±delta and its token
land in ONE manifest replace (``BucketedMaterializedView.merge_touched``
with a ``mutate``), so the store's one replay rule covers both halves:
a committed token is skipped whole, a sequenced token at or below its
feed's ``seq_hwm`` refuses (:class:`MaintenanceFenceError`), and any
other replay applies the whole batch once — a crashed batch left
nothing visible.  :meth:`TextIndex.merge_from` commits the same way.

Scoring (:meth:`topk`) is bit-replayable cross-engine, same calls as
``text.bm25_topk``: rational idf ``(N - df + 0.5)/(df + 0.5)`` (ln is
not correctly rounded across engines), per-(query, doc) scores folded
in SORTED term order, and ``avgdl`` computed as the exact-integer
``sum_dl / n_nonempty`` double division (never a streaming AVG).  df
per probed term is exact from the touched read — a term's postings
live entirely in its bucket.

100 TB shape: per-batch maintenance cost ∝ the BATCH's vocabulary's
buckets (bounded by min(n_buckets, batch vocab) — independent of index
size); query cost ∝ probed terms' buckets.  Stopword-scale terms make
single buckets large — size ``n_buckets`` to the corpus vocabulary
(``maybe_rebucket`` sawtooth) and keep stopwords out of queries, the
same discipline every posting-list engine imposes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ydb_cdc_processor_spark.operators.bucketed_view import (
    BUCKET_COL, BucketedMaterializedView, add_counters, skip_replay)
from ydb_cdc_processor_spark.operators.ivm_feed import Feed
from ydb_cdc_processor_spark.operators.merge import compose_merge
from ydb_cdc_processor_spark.operators.text import normalize_words

_ALL = "_all"   # the stats rollup's single constant group


class TextIndex:
    """A persisted term→postings index over ``(id_col, text_col)``
    documents, maintained incrementally from a CDC old-image feed and
    served with BM25 top-k ranked retrieval."""

    def __init__(self, spark: SparkSession, path: str,
                 id_col: str = "doc_id", text_col: str = "text",
                 n_buckets: int = 16):
        self.spark = spark
        self.path = path
        self.id_col = id_col
        self.text_col = text_col
        self.view = BucketedMaterializedView(
            spark, f"{path}/postings", keys=["term", "doc"],
            bucket_keys=["term"], n_buckets=n_buckets)

    # -- corpus scalars ----------------------------------------------------------
    # (n_docs, sum_dl, sum_nz) — corpus size, total token count, and the
    # count of non-empty docs (avgdl's denominator, mirroring the batch
    # scorer whose dl table omits token-less docs) — in the postings
    # manifest's ``corpus`` entry, committed with the postings.

    def _read_stats(self) -> dict:
        c = self.view.manifest().get("corpus") or {}
        return {k: int(c.get(k, 0)) for k in ("n_docs", "sum_dl", "sum_nz")}

    @staticmethod
    def _add_corpus(dn: int, ddl: int, dnz: int):
        """The ``mutate`` that adds a scalar ±delta to the manifest's
        ``corpus`` entry inside the batch's commit."""
        return lambda doc: add_counters(doc, "corpus", n_docs=dn,
                                        sum_dl=ddl, sum_nz=dnz)

    def _stats_delta(self, new_docs: DataFrame | None,
                     old_docs: DataFrame | None) -> tuple[int, int, int]:
        """+stats of upserted docs, −stats of their old images: one
        signed agg over the batch → a 1-row collect."""
        # sign the document frames and UNION BEFORE the explode: one
        # explode + one (doc, _sgn) agg over the concatenated batch
        # replaces two independent explode+agg subtrees feeding a
        # union-of-aggregates — one fewer exchange + final-agg pair per
        # batch (union is no-shuffle; a rewritten doc appears under
        # both signs and the (doc, _sgn) grouping keeps the sides'
        # per-doc dl exact and independent; all-integer arithmetic, so
        # fold order cannot change the result)
        parts = []
        if new_docs is not None:
            parts.append(new_docs.select(
                F.col(self.id_col).cast("long").alias("doc"),
                F.col(self.text_col).alias("text"),
                F.lit(1).alias("_sgn")))
        if old_docs is not None:
            parts.append(old_docs.select(
                F.col(self.id_col).cast("long").alias("doc"),
                F.col(self.text_col).alias("text"),
                F.lit(-1).alias("_sgn")))
        docs = parts[0]
        for p in parts[1:]:
            docs = docs.unionByName(p)
        words = docs.select("doc", "_sgn",
                            F.explode_outer(normalize_words(F.col("text")))
                            .alias("term"))
        per_doc = (words.groupBy("doc", "_sgn")
                   .agg(F.sum(F.when(F.col("term").isNotNull()
                                     & (F.col("term") != ""), 1)
                              .otherwise(0)).alias("dl"))
                   .select("_sgn", "dl",
                           F.when(F.col("dl") > 0, 1).otherwise(0)
                           .alias("nz")))
        row = per_doc.agg(
            F.coalesce(F.sum("_sgn"), F.lit(0)).alias("dn"),
            F.coalesce(F.sum(F.col("_sgn") * F.col("dl")), F.lit(0))
             .alias("ddl"),
            F.coalesce(F.sum(F.col("_sgn") * F.col("nz")), F.lit(0))
             .alias("dnz")).collect()[0]
        return int(row["dn"]), int(row["ddl"]), int(row["dnz"])

    def feed(self) -> Feed:
        """Adapter for a CDC engine's ``agg_views`` list."""
        return Feed(self.apply_delta)

    # -- tokenization ----------------------------------------------------------

    def _postings(self, rows: DataFrame) -> DataFrame:
        """``(term, doc, tf, dl)`` for a batch of documents — one
        explode + two batch-local hash aggs; docs with no tokens
        contribute no rows (exactly the batch scorer's dl table)."""
        words = (rows.select(F.col(self.id_col).cast("long").alias("doc"),
                             F.explode_outer(
                                 normalize_words(F.col(self.text_col)))
                             .alias("term"))
                 .where(F.col("term").isNotNull() & (F.col("term") != "")))
        tf = words.groupBy("doc", "term").agg(
            F.count(F.lit(1)).alias("tf"))
        dl = tf.groupBy("doc").agg(F.sum("tf").alias("dl"))
        return tf.join(dl, on="doc")

    def _doc_stats(self, rows: DataFrame) -> DataFrame:
        """One ``(_all, dl, nz)`` row per document (dl 0 for token-less
        docs — they count in n_docs but not in avgdl).  Deliberately a
        SECOND tokenization of the batch rather than a join against the
        materialized postings: the explode+agg forest is whole-stage
        codegen over batch-local data, measured CHEAPER than the
        distinct+join shuffle that deriving dl from postings costs."""
        words = (rows.select(F.col(self.id_col).cast("long").alias("doc"),
                             F.explode_outer(
                                 normalize_words(F.col(self.text_col)))
                             .alias("term")))
        return (words.groupBy("doc")
                .agg(F.sum(F.when(F.col("term").isNotNull()
                                  & (F.col("term") != ""), 1)
                           .otherwise(0)).alias("dl"))
                .select(F.lit("x").alias(_ALL), F.col("dl"),
                        F.when(F.col("dl") > 0, 1).otherwise(0)
                        .alias("nz")))

    # -- maintenance -----------------------------------------------------------

    def apply_delta(self, new_rows: DataFrame | None,
                    old_rows: DataFrame | None,
                    batch_token: str | None = None) -> None:
        """One micro-batch: ``new_rows`` = upserted document rows (None
        for a delete-only batch), ``old_rows`` = pre-merge images of
        every touched doc.  Stale postings — deleted docs' terms, or
        terms the rewrite dropped — delete by (term, doc); surviving
        and new terms upsert with the batch's tf/dl; one fused
        touched-bucket pass.  The postings, the corpus-scalar ±delta and
        the batch token commit in ONE manifest replace, so a replay is
        decided once for all of them (see the module docstring): a
        committed batch is skipped, a committed-then-evicted sequenced
        one refuses with :class:`MaintenanceFenceError`, and a crashed
        one — nothing of it visible — applies once, also after a
        federated :meth:`merge_from` ran in between."""
        if new_rows is None and old_rows is None:
            return
        token = None if batch_token is None else f"{batch_token}:tix"
        # decided BEFORE any work: a committed batch costs no Spark job
        if skip_replay(self.view.manifest(), token,
                       f"text index {self.path}"):
            return
        # bootstrap guard, shared by postings AND stats: old images can
        # arrive on the very first batch (fact view predating the
        # index) — the store tracked NONE of them, so there is nothing
        # stale to delete and nothing to retract (retracting would
        # leave n_docs short of the postings' doc set)
        if not self.view.exists():
            old_rows = None
            if new_rows is None:
                return
        ups = None
        cached_ups = None
        if new_rows is not None:
            ups = self._postings(new_rows).select("term", "doc", "tf", "dl")
        try:
            delta = ups
            if old_rows is not None:
                if ups is not None:
                    # the batch tokenization feeds the stale anti-join AND
                    # the store merge — cache it so the explode+agg forest
                    # evaluates once (the merge's touched-bucket collect
                    # fills the cache)
                    cached_ups = ups = ups.persist()
                old_pairs = self._postings(old_rows).select("term", "doc")
                if ups is not None:
                    old_pairs = old_pairs.join(ups.select("term", "doc"),
                                               on=["term", "doc"],
                                               how="left_anti")
                # stale postings ride the same delta with a NULL tf
                stale = old_pairs.select(
                    "term", "doc", F.lit(None).cast("long").alias("tf"),
                    F.lit(None).cast("long").alias("dl"))
                delta = stale if ups is None else ups.unionByName(stale)
            self.view.merge_touched(
                delta, _upsert_or_delete, batch_token=token,
                mutate=self._add_corpus(
                    *self._stats_delta(new_rows, old_rows)))
        finally:
            if cached_ups is not None:
                cached_ups.unpersist()

    def start_stream(self, doc_stream: DataFrame, checkpoint_dir: str,
                     available_now: bool = True):
        """Index documents from a STREAM (foreachBatch →
        :meth:`apply_delta` with no old images) — the append-only
        continuous-ingest shape, mirroring ``VectorIndex.start_stream``.

        Contract: NEW documents only.  A doc REWRITE needs its old
        image to retract dropped terms — that path is the CDC engines'
        ``agg_views`` feed (:meth:`feed`), which supplies old images
        per batch (pinned by
        test_stream_maintains_text_index_across_restart).

        Replay: the batch id is the batch token, so a checkpoint replay
        converges — kill/restart equals one-shot ingest.  Returns the
        StreamingQuery."""
        def _batch(df, batch_id: int) -> None:
            self.apply_delta(df, None, batch_token=f"tixs:{batch_id}")

        writer = (doc_stream.writeStream
                  .foreachBatch(_batch)
                  .option("checkpointLocation", checkpoint_dir))
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    # -- observability -----------------------------------------------------------

    def bucket_stats(self) -> DataFrame:
        """Per-bucket occupancy of the postings store — bounded output
        (≤ ``n_buckets`` rows), the hot-term / rebucket signal
        (VectorIndex.cell_stats' pattern).  A stopword-scale term
        concentrates postings in ITS bucket: ``max_term_df`` names the
        worst term's document frequency per bucket, and a bucket whose
        ``n_postings`` is a large multiple of the others means every
        micro-batch touching that term rewrites a store-sized file —
        the signal to raise ``n_buckets`` (``maintain``'s sawtooth) and
        to serve queries with ``max_df_ratio`` so the term's postings
        stop being scored.  (Query-time parallelism itself does not
        collapse on a hot bucket: parquet splits its files across
        tasks.)"""
        per_term = (self.view.read().groupBy("term")
                    .agg(F.count(F.lit(1)).alias("df")))
        return (per_term.withColumn("bucket", self.view.bucket_expr())
                .groupBy("bucket")
                .agg(F.sum("df").alias("n_postings"),
                     F.count(F.lit(1)).alias("n_terms"),
                     F.max("df").alias("max_term_df")))

    # -- serving ---------------------------------------------------------------

    def read(self) -> DataFrame:
        """The live ``(term, doc, tf, dl)`` postings relation (audit /
        recompute-check surface)."""
        return self.view.read().select("term", "doc", "tf", "dl")

    def merge_from(self, other: "TextIndex",
                   batch_token: str | None = None) -> None:
        """Federated union of shard text indexes over DISJOINT doc sets
        (the per-shard corpus deployment — each shard indexes its own
        documents; a doc must live in exactly ONE shard, the same
        partitioned-ownership rule every sharded search system imposes).
        Postings rows are per-(term, doc) facts, so the union is a keyed
        merge into the touched term buckets; the corpus scalars
        (n_docs, sum_dl, sum_nz) SUM.  Both commit in ONE out-of-band
        manifest replace (it bumps the postings store's ``epoch``), so
        pass ``batch_token`` when the caller may replay: a committed
        merge is then skipped whole.  Key collisions (contract
        violations) resolve deterministically to the higher (tf, dl)
        row, never positionally.  Run between committed batches of any
        live feed; a crashed feed batch left nothing visible, so its
        replay after the merge applies it once."""
        if (other.id_col, other.text_col) != (self.id_col, self.text_col):
            raise ValueError("id_col and text_col must match to merge")
        if not other.view.exists():
            return
        from pyspark.sql import Window
        w = Window.partitionBy("term", "doc", BUCKET_COL).orderBy(
            F.col("tf").desc(), F.col("dl").desc())
        self.view.merge_touched(
            other.view.read(),
            lambda target, d: (
                target.unionByName(d)
                .withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1).drop("_rn")),
            batch_token=batch_token, out_of_band=True,
            mutate=self._add_corpus(*other._corpus_stats()))

    def _corpus_stats(self) -> tuple[int, int, int]:
        st = self._read_stats()    # zeros when no batch ever applied
        return st["n_docs"], st["sum_dl"], st["sum_nz"]

    def topk(self, queries: DataFrame, k: int = 5,
             k1: float = 1.2, b: float = 0.75,
             qid_col: str = "qid", qterm_col: str = "term",
             max_df_ratio: float | None = None) -> DataFrame:
        """BM25 top-``k`` docs per query — ``(qid, doc_id, rank, score)``
        with the exact schema/semantics of ``text.bm25_topk`` over the
        index's current corpus state.  Reads ONLY the probed terms'
        buckets: postings, tf, dl, and df all come from the touched
        read; n_docs/avgdl from the manifest's corpus scalars.

        ``max_df_ratio``: the hot-term guard — query terms whose
        document frequency exceeds ``ratio·n_docs`` are DROPPED from
        scoring (classic stopword pruning: their BM25 idf
        ``(N-df+.5)/(df+.5)`` is near zero while their posting list is
        corpus-sized, so they cost almost everything and contribute
        almost nothing).  Scores then equal exact BM25 over the query
        MINUS the pruned terms; a query that is ALL stopwords returns
        empty.  df is exact from the touched read (a term's postings
        live entirely in its bucket), so the cut is deterministic —
        pinned by test_stopword_guard_drops_hot_terms."""
        # ONE driver action serves the whole probe phase: the distinct
        # (qid, term) pairs collect WITH their store bucket ids (the
        # VectorIndex.query pattern), and the query frame is rebuilt as
        # a LOCAL relation — its later broadcast into the scoring join
        # is built driver-side with no extra job.  (Formerly: a
        # localCheckpoint + a terms collect + a bucket-probe collect —
        # three driver actions per serve for query-sized data.)
        qt = queries.select(F.col(qid_col).alias("qid"),
                            F.col(qterm_col).alias("term")).distinct()
        qrows = qt.withColumn("_b", self.view.bucket_expr()).collect()
        terms = sorted({r["term"] for r in qrows})
        n_docs, sum_dl, sum_nz = self._corpus_stats()
        out_schema = T.StructType([
            T.StructField("qid", T.StringType()),
            T.StructField(self.id_col, T.LongType()),
            T.StructField("rank", T.IntegerType()),
            T.StructField("score", T.DoubleType())])
        if not terms or not self.view.exists() or sum_nz == 0:
            return self.spark.createDataFrame([], out_schema)
        qterms = self.spark.createDataFrame(
            [(r["qid"], r["term"]) for r in qrows], qt.schema)
        touched = sorted({r["_b"] for r in qrows})
        post = (self.view.read_touched(touched)
                .where(F.col("term").isin(terms))
                .select("term", "doc", "tf", "dl")
                .localCheckpoint(eager=True))
        # df is exact from the touched read: a term's postings live
        # entirely in its own bucket
        dft = post.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        if max_df_ratio is not None:
            dft = dft.where(F.col("df") <= F.lit(max_df_ratio * n_docs))
            # prune the hot terms' postings BEFORE the scoring joins —
            # the inner dft join below would drop them anyway, but the
            # explicit semi-join keeps the big frame small up front
            post = post.join(F.broadcast(dft.select("term")),
                             on="term", how="left_semi")
        avgdl = F.lit(float(sum_dl)) / F.lit(float(sum_nz))
        idf = (F.lit(n_docs) - F.col("df") + F.lit(0.5)) \
            / (F.col("df") + F.lit(0.5))
        tf_part = (F.col("tf") * F.lit(k1 + 1.0)) \
            / (F.col("tf") + F.lit(k1) * (F.lit(1.0 - b)
               + F.lit(b) * F.col("dl") / avgdl))
        scored = (post.join(F.broadcast(qterms), on="term")
                  .join(F.broadcast(dft), on="term")
                  .select("qid", "doc", "term",
                          (idf * tf_part).cast("double").alias("s")))
        total = (scored.groupBy("qid", "doc")
                 .agg(F.aggregate(
                     F.array_sort(F.collect_list(F.struct("term", "s"))),
                     F.lit(0.0), lambda acc, x: acc + x["s"])
                     .alias("score")))
        from pyspark.sql import Window
        w = Window.partitionBy("qid").orderBy(F.col("score").desc(),
                                              F.col("doc").asc())
        return (total.withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= k)
                .select("qid", F.col("doc").alias(self.id_col),
                        F.col("rank").cast("int").alias("rank"),
                        F.round(F.col("score"), 6).alias("score")))

    # -- invariants ------------------------------------------------------------

    def recompute_check(self, docs: DataFrame) -> bool:
        """True iff postings AND corpus stats equal a from-scratch
        tokenization of ``docs`` (the lifecycle tests' invariant)."""
        want = {tuple(r) for r in self._postings(docs)
                .select("term", "doc", "tf", "dl").collect()}
        # a store no batch ever touched was never created — empty by
        # convention (fresh-store reads raise)
        got = ({tuple(r) for r in self.read().collect()}
               if self.view.exists() else set())
        if want != got:
            return False
        exp = (self._doc_stats(docs).groupBy(_ALL)
               .agg(F.count(F.lit(1)).alias("n"),
                    F.sum("dl").alias("sdl"), F.sum("nz").alias("snz"))
               .collect())
        n, sdl, snz = ((int(exp[0]["n"]), int(exp[0]["sdl"]),
                        int(exp[0]["snz"])) if exp else (0, 0, 0))
        return (n, sdl, snz) == self._corpus_stats()

    def maintain(self) -> None:
        """Between-batch housekeeping (the stream engines call this):
        bucket-count sawtooth + small-file compaction on the postings
        store."""
        self.view.maintain()


def _upsert_or_delete(target: DataFrame, delta: DataFrame) -> DataFrame:
    """The fused postings merge: delta rows with a tf upsert, rows with
    a NULL tf (stale postings) delete; the two are key-disjoint."""
    keys = ["term", "doc", BUCKET_COL]
    tf = F.col("tf")
    return compose_merge(target, delta.where(tf.isNotNull()),
                         delta.where(tf.isNull()).select(*keys), keys,
                         "upsertInto")
