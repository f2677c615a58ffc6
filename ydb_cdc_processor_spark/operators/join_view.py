"""Incrementally-maintained JOIN view — delta-join IVM under CDC on
BOTH sides.

The reference maintains single-table views: each micro-batch runs the
user's YQL over the batch and upserts one target (`YqlWriter.java:118-147`,
`CdcMsgParser.java:225-249`).  The natural next view class — asked of
every warehouse the moment two changefeeds exist — is the JOIN of a fact
stream with a dimension stream (orders enriched with customer
attributes), kept current as EITHER side changes, without ever
re-running the join over the full tables.

Semantics: ``fact LEFT JOIN dim ON fact[fk] = dim[pk]`` (many-to-one
enrichment — each fact row joins at most one dim row).  Left join keeps
the view total over fact rows, so dim arrival/updates/deletes are
in-place refreshes of the dim columns; an inner-join read is the free
filter ``read().where(col.isNotNull())``.

Incremental maintenance (the classic delta rules, specialized to keyed
CDC):

- **Δfact**: the batch's rows enrich against the CURRENT dim mirror
  (one broadcast-sized lookup join per batch) and upsert into the view;
  old fact images route deletes/moves to exactly the (old_fk, pk) rows
  they displace.  Cost O(|batch|), never O(|fact|).
- **Δdim**: the changed dim keys name exactly the view BUCKETS holding
  affected fact rows (the view is co-located on fk), so the refresh
  reads only touched buckets, rewrites their dim columns from the new
  dim rows, and upserts back.  Cost O(touched buckets), never
  O(|fact|) — the point of bucketing the view on the join key.

Both paths are idempotent (keyed upsert/delete), so R1 retries and
checkpoint replays converge without a token fence — the same
convergence contract NearDupIndex and Scd2View document.

Engine integration: :meth:`fact_feed` / :meth:`dim_feed` return
adapters duck-typed to the ``agg_views`` protocol
(``apply_delta(new_rows, old_rows, batch_token)``), so one
:class:`~ydb_cdc_processor_spark.engine.CdcBatchEngine` per side drives
the join view with the same pre-merge old-image feed that powers
AggregateView and ChecksumView.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ydb_cdc_processor_spark.operators.bucketed_view import (
    BUCKET_COL, BucketedMaterializedView)
from ydb_cdc_processor_spark.operators.ivm_feed import (
    Feed, null_safe_key, stale_keys)
from ydb_cdc_processor_spark.operators.merge import ParquetMaterializedView

logger = logging.getLogger(__name__)

FKB = "_fkb"  # null-safe string image of the fk — the store's merge key


class JoinView:
    """Materialized ``fact LEFT JOIN dim`` maintained incrementally.

    ``fact_pk``: fact primary-key columns.  ``fk_col``: the fact column
    equi-joined to ``dim_pk``.  ``dim_schema``: StructType of the dim
    side (pk + payload columns) — declared up front so either side may
    arrive first.  The view stores one row per fact row, keyed
    ``(fk_col, *fact_pk)`` and CO-LOCATED on ``fk_col`` so dim-side
    refreshes touch only the changed keys' buckets.
    """

    def __init__(self, spark: SparkSession, path: str,
                 fact_pk: list[str], fk_col: str,
                 dim_pk: str, dim_schema, n_buckets: int = 16,
                 dim_broadcast_max_bytes: int = 64 << 20):
        if fk_col in fact_pk:
            raise ValueError("fk_col must not be part of fact_pk")
        dim_names = [f.name for f in dim_schema.fields]
        if dim_pk not in dim_names:
            raise ValueError(f"dim_pk {dim_pk!r} not in dim_schema")
        self.spark = spark
        self.path = path
        self.fact_pk = list(fact_pk)
        self.fk_col = fk_col
        self.dim_pk = dim_pk
        self.dim_schema = dim_schema
        self.dim_cols = [n for n in dim_names if n != dim_pk]
        # the store keys on a NULL-SAFE derived string of the fk, not the
        # fk itself: keyed merges equi-join on the key columns, and SQL
        # equality never matches NULL — a nullable fk would make every
        # null-fk upsert INSERT a duplicate instead of replacing.  The
        # sentinel starts with \x00, which no cast-to-string fk produces.
        self.view = BucketedMaterializedView(
            spark, path + "/join", keys=[FKB] + list(fact_pk),
            bucket_keys=[FKB], n_buckets=n_buckets)
        self.dim_mirror = ParquetMaterializedView(
            spark, path + "/dim", [dim_pk], schema=dim_schema)
        # fact-batch enrichment broadcasts the dim mirror only while its
        # on-disk size stays under this cap; past it, a 10-100 GB
        # dimension would OOM every executor's broadcast copy, so the
        # enrichment falls back to a shuffle join (Catalyst's pick) —
        # the fact batch is the small side there, and the view's
        # fk-bucketed layout keeps the dim-refresh path O(touched
        # buckets) either way
        self.dim_broadcast_max_bytes = dim_broadcast_max_bytes

    def _fkb(self) -> F.Column:
        return null_safe_key(self.fk_col, FKB)

    def _check_fk_type(self, fact_schema) -> None:
        """The store keys on STRING images of the fk (fact side) and the
        dim pk (dim side); if the two columns stringify differently
        (double 7.0 vs bigint 7) the images silently diverge and dim
        refreshes stop finding their fact rows — refuse up front."""
        ft = fact_schema[self.fk_col].dataType
        dt = self.dim_schema[self.dim_pk].dataType
        if ft != dt:
            raise ValueError(
                f"fk {self.fk_col!r} is {ft.simpleString()} but dim pk "
                f"{self.dim_pk!r} is {dt.simpleString()} — the join key "
                "must have ONE type on both sides (string key images "
                "would diverge and dim refreshes would miss rows)")

    # -- engine adapters -----------------------------------------------------

    def fact_feed(self) -> Feed:
        """Adapter for the FACT engine's ``agg_views`` list."""
        return Feed(self.apply_fact_delta)

    def dim_feed(self) -> Feed:
        """Adapter for the DIM engine's ``agg_views`` list."""
        return Feed(self.apply_dim_delta)

    # -- internals -----------------------------------------------------------

    def _dim_lookup(self) -> DataFrame:
        """Dim mirror shaped for the enrichment join: pk aliased to the
        fact fk name, payload columns as-is."""
        return self.dim_mirror.read().select(
            F.col(self.dim_pk).alias(self.fk_col), *self.dim_cols)

    def _dim_disk_bytes(self) -> int:
        """On-disk bytes of the dim mirror's committed generation — a
        free (no Spark job) proxy for its broadcast cost.  Parquet
        compresses, so the in-memory relation is larger; the default
        64 MB cap leaves headroom against executor broadcast memory
        either way."""
        return self.dim_mirror.total_bytes()

    def _enrich(self, fact_rows: DataFrame) -> DataFrame:
        """fact rows LEFT JOIN the current dim mirror.  Enrichment-sized
        dims broadcast; a dim mirror past ``dim_broadcast_max_bytes`` on
        disk joins WITHOUT the hint — forcing the broadcast of a huge
        dimension would OOM executors at scale, and Catalyst/AQE pick a
        shuffle join with the (small) fact batch instead (pinned by
        test_large_dim_falls_back_to_shuffle_join)."""
        lookup = self._dim_lookup()
        if self._dim_disk_bytes() <= self.dim_broadcast_max_bytes:
            lookup = F.broadcast(lookup)
        return fact_rows.join(lookup, on=self.fk_col, how="left")

    # -- fact side -----------------------------------------------------------

    def apply_fact_delta(self, new_rows: DataFrame | None,
                         old_rows: DataFrame | None,
                         batch_token: str | None = None) -> None:
        """Maintain the view for one FACT micro-batch.

        ``new_rows``: the batch's upserted fact rows (None for a
        delete-only batch).  ``old_rows``: CURRENT fact-view images of
        every key the batch touches (the engine's pre-merge feed; None
        when the fact view doesn't exist yet).  Deleted keys are
        ``old_rows`` minus ``new_rows`` (by pk); moved keys (fk changed)
        additionally delete their old ``(old_fk, pk)`` row — a keyed
        upsert alone would leave the stale row serving under the old
        join key."""
        if new_rows is None and old_rows is None:
            return
        self._check_fk_type((new_rows if new_rows is not None
                             else old_rows).schema)
        stale = None
        # the bootstrap guard matters: old images can arrive on the very
        # FIRST batch (the engine's row view predating the join view),
        # and a deleteFrom against a store that does not exist yet would
        # refuse (schema-less empty-view materialization)
        if old_rows is not None and self.view.exists():
            # LAZY stale frame straight into the fused pass: an empty
            # delete side composes to a no-op with the identical touched
            # set, so the former eager checkpoint + isEmpty probe
            # (2 Spark jobs per batch) bought nothing — apply_batch
            # persists the frame before consuming it, and its lineage
            # reads only the batch images, never this store's files
            stale = stale_keys(old_rows, new_rows, self.fact_pk,
                               self.fk_col, FKB)
        ups = None
        if new_rows is not None:
            ups = self._enrich(new_rows).withColumn(FKB, self._fkb())
        # ONE touched-bucket read-merge-rewrite pass for both sides
        # (sides are key-disjoint: a moved row's old and new (fkb, pk)
        # differ by construction) — halves bucket IO vs two applies
        self.view.apply_batch(ups, stale)

    # -- dim side ------------------------------------------------------------

    def apply_dim_delta(self, new_rows: DataFrame | None,
                        old_rows: DataFrame | None,
                        batch_token: str | None = None) -> None:
        """Maintain the dim mirror AND refresh affected view rows for
        one DIM micro-batch.

        ``new_rows``: upserted dim rows; ``old_rows``: pre-merge dim
        images of touched keys (deleted keys = old minus new).  The
        changed keys stay distributed; only their BUCKET ids reach the
        driver (≤ n_buckets values — the same bounded-metadata contract
        VectorIndex.query documents for probed cells)."""
        if new_rows is None and old_rows is None:
            return
        # 1. mirror maintenance (keyed, idempotent).  Both sides fused
        # into ONE read→merge→write pass (sides are key-disjoint:
        # deleted = old ∖ new by construction) — the previous
        # apply(upsert) + apply(deleteFrom) pair paid the flat mirror's
        # O(|dim|) rewrite TWICE per dim batch, and the delete pass ran
        # even when the anti-join was empty (every update-only batch).
        deleted = None
        if old_rows is not None:
            deleted = old_rows.select(self.dim_pk)
            if new_rows is not None:
                deleted = deleted.join(new_rows.select(self.dim_pk),
                                       on=self.dim_pk, how="left_anti")
        self.dim_mirror.apply_batch(new_rows, deleted)

        # only buckets holding stored fact rows can need a refresh; a
        # changed key hashing to an absent bucket would otherwise cost a
        # read, an empty rewrite and a commit that changes nothing
        live = self.view.bucket_ids()
        if not live:
            return
        # 2. touched-bucket refresh of the join view, FUSED into one
        # read→rewrite pass via merge_touched: rows whose fk is in the
        # changed set are re-enriched against the (just-updated) dim
        # mirror in place, the rest of each touched bucket passes
        # through untouched.  The former shape — semi-join probe read
        # of the touched buckets, eager checkpoint of the refreshed
        # rows, then a SECOND read of the same buckets inside
        # apply(upsertInto)'s merge — paid the touched-bucket IO twice
        # per dim batch plus a checkpoint materialization and an extra
        # bucket collect (guide §2.4: two operations keyed the same way
        # share one pass).  The changed-key SET stays distributed (a
        # big dim batch never round-trips its values through the
        # driver); only the BUCKET ids collect inside merge_touched,
        # bounded by n_buckets.  Broadcast semi/anti joins, NOT
        # isin(*changed): thousands of inlined literals would cost
        # quadratic analysis time, the joins stay O(1) plan size.
        parts = [df.select(null_safe_key(self.dim_pk, FKB))
                 for df in (new_rows, old_rows) if df is not None]
        changed_df = (parts[0] if len(parts) == 1
                      else parts[0].unionByName(parts[1])) \
            .distinct().where(self.view.bucket_expr().isin(live)).persist()
        try:
            dim_cols = self.dim_cols

            def refresh(target, delta):
                cols = target.columns   # stored schema + _bucket
                keys = F.broadcast(delta.select(FKB).distinct())
                hit = target.join(keys, on=FKB, how="left_semi")
                miss = target.join(keys, on=FKB, how="left_anti")
                redone = self._enrich(hit.drop(*dim_cols)).select(*cols)
                return miss.unionByName(redone)

            self.view.merge_touched(changed_df, refresh)
        finally:
            changed_df.unpersist()

    # -- store maintenance ---------------------------------------------------

    def maintain(self, target_bucket_bytes: int = 128 << 20,
                 max_files_per_bucket: int = 4) -> dict:
        """Periodic store hygiene, to call between batches (e.g. every N
        micro-batches): grow the bucket count when mean bucket size
        outruns the target (``maybe_rebucket`` — keeps the dim-refresh
        touched-read bounded as the FACT side grows), and compact
        fragmented buckets (small files accumulate from touched-bucket
        overwrites).  Both checks are file-metadata-only when they
        decide "no".  Returns ``{"rebucketed": bool, "compacted": int}``."""
        out = {"rebucketed": False, "compacted": 0}
        if self.view.exists():
            out["rebucketed"] = self.view.maybe_rebucket(
                target_bucket_bytes=target_bucket_bytes)
            out["compacted"] = self.view.compact(
                max_files_per_bucket=max_files_per_bucket)
        return out

    # -- streaming drive -----------------------------------------------------

    def start_streams(self, fact_stream: DataFrame | None,
                      dim_stream: DataFrame | None,
                      checkpoint_root: str,
                      available_now: bool = True) -> list:
        """Maintain the join view from live changefeeds on EITHER or
        BOTH sides (each a streaming DataFrame of upsert rows) — the
        two-topic shape the reference runs one consumer per view for
        (`CdcReader.java:40-52`), here two Structured Streaming queries
        sharing one store.

        foreachBatch callbacks run on the DRIVER, so a process-local
        lock serializes the two sides' maintenance — the store keeps
        its single-maintainer contract even when both feeds trigger at
        once (two separate applications writing one store stay out of
        contract).  Old images are read from the store itself before
        each apply, so replays and restarts converge exactly as the
        batch API does (pinned by
        test_join_view_streams_restart_converge).  Returns the started
        StreamingQuery handles."""
        import threading

        lock = threading.Lock()

        def _fact(df: DataFrame, batch_id: int) -> None:
            with lock:
                old = None
                if self.view.exists():
                    old = (self.read().select(*df.columns)
                           .join(df.select(*self.fact_pk).distinct(),
                                 on=self.fact_pk, how="left_semi")
                           .localCheckpoint(eager=True))
                self.apply_fact_delta(df, old)

        def _dim(df: DataFrame, batch_id: int) -> None:
            with lock:
                old = (self.dim_mirror.read()
                       .join(df.select(self.dim_pk).distinct(),
                             on=self.dim_pk, how="left_semi")
                       .localCheckpoint(eager=True))
                self.apply_dim_delta(df, old)

        queries = []
        for stream, fn, side in ((dim_stream, _dim, "dim"),
                                 (fact_stream, _fact, "fact")):
            if stream is None:
                continue
            writer = (stream.writeStream.foreachBatch(fn)
                      .option("checkpointLocation",
                              f"{checkpoint_root}/{side}"))
            if available_now:
                writer = writer.trigger(availableNow=True)
            queries.append(writer.start())
        return queries

    # -- reads ---------------------------------------------------------------

    def read(self) -> DataFrame:
        """The maintained join, one row per fact row (left-join total);
        inner-join semantics are the free filter on any dim column."""
        return self.view.read().drop(BUCKET_COL, FKB)

    def recompute_check(self, fact: DataFrame, dim: DataFrame) -> bool:
        """Full-recompute verification: does the maintained view equal
        ``fact LEFT JOIN dim`` evaluated from scratch right now?"""
        expect = fact.join(
            dim.select(F.col(self.dim_pk).alias(self.fk_col),
                       *self.dim_cols),
            on=self.fk_col, how="left")
        got = self.read()
        cols = sorted(got.columns)
        return (got.select(*cols).exceptAll(expect.select(*cols)).isEmpty()
                and expect.select(*cols).exceptAll(got.select(*cols))
                .isEmpty())
