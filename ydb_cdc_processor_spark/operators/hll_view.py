"""Incrementally-maintained per-group HyperLogLog distinct-count view.

The IVM family's approximate member: ``distinct_view.DistinctCountView``
keeps COUNT(DISTINCT) EXACT and retractable by refcounting every live
value (state ∝ |distinct values|); this view keeps the HLL register
table instead — FIXED ``m = 2^p`` integers per group, independent of
cardinality — which is the only maintainable shape when the distinct
universe itself is too large to store ("distinct 5-grams per language
over 100 TB").  The trade is explicit: ~1.04/√m relative error and NO
retraction (a register max is monotone — deleting an upstream row
cannot lower it), so delete-bearing batches are REFUSED loudly rather
than silently served wrong; use the exact view when retraction matters.

Why no replay fence: the register merge ``M' = max(M, M_batch)`` is
idempotent and commutative (a bounded-join semilattice — the G-Counter
CRDT argument), so re-applying any batch, in any order, any number of
times converges to the same register table.  Checkpoint replays and R1
retries need no batch token — pinned by
test_hll_view_replay_and_any_batching.

Per-batch cost: one map-side-combined agg over the batch (exchange
carries ≤ |batch groups|·m register partials), then a merge touching
ONLY the batch groups' store buckets (the view is keyed ``(group, _j)``
and CO-LOCATED on group).  The layout — ``p`` and the group-column
types — is state in that store's own manifest (``regs/_buckets.json``).
Serving (:meth:`read`) is the ``sketches.hll_estimate`` rollup over the
register table — identical output contract to the one-shot
``hll_grouped``, and after any insert-only ingest history the state
EQUALS the one-shot sketch of the union (max-merge associativity),
which is what the shared SQL oracle replays.

Reference anchors: the maintained-store contract mirrors
``YqlWriter.java:118-147`` (per-batch idempotent merge into a keyed
target); the sketch math is Flajolet et al. 2007 via
functions/sketches.py.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ydb_cdc_processor_spark.functions.sketches import (
    hll_estimate, hll_registers)
from ydb_cdc_processor_spark.operators.bucketed_view import (
    BucketedMaterializedView, mutate_manifest)
from ydb_cdc_processor_spark.operators.ivm_feed import Feed

logger = logging.getLogger(__name__)


class HllView:
    """Persistent per-group HLL register table with incremental
    max-merge maintenance and one-shot-equal serving."""

    def __init__(self, spark: SparkSession, path: str,
                 group_cols: list[str], value_col: str,
                 p: int = 8, n_buckets: int = 8,
                 group_types: list[str] | None = None):
        if p % 4 != 0 or not 4 <= p <= 12:
            raise ValueError("p must be a multiple of 4 in [4, 12]")
        self.spark = spark
        self.path = path
        self.group_cols = list(group_cols)
        self.value_col = value_col
        self.p = p
        # group-col TYPES are layout metadata too: the empty-store
        # registers() frame must carry the same schema the store will
        # hold after first ingest, or read()/merge_from/recompute_check
        # on a not-yet-ingested store diverge from the ingested one.
        # Declared at construction (DDL strings, default "string").
        if group_types is not None and len(group_types) != len(group_cols):
            raise ValueError("group_types must match group_cols 1:1")
        self.group_types = [
            T.StructType.fromDDL(f"x {t}")[0].dataType.simpleString()
            for t in (group_types or ["string"] * len(self.group_cols))]
        self.view = BucketedMaterializedView(
            spark, os.path.join(path, "regs"),
            keys=self.group_cols + ["_j"], bucket_keys=self.group_cols,
            n_buckets=n_buckets)
        # p is a LAYOUT property too (register indices are
        # p-dependent): a store built at one p reopened with another
        # must serve the layout's p — the VectorIndex n_cells/seed
        # rule.  Both live in the register store's manifest ("hll"),
        # written HERE, before any data, so no crash window can leave a
        # populated store without its geometry; on reopen the manifest
        # wins over the constructor.
        stored = self.view.manifest().get("hll")
        if stored:
            self.p = int(stored["p"])
            self.group_types = list(stored["group_types"])
        else:
            layout = {"p": self.p, "group_types": self.group_types}
            mutate_manifest(self.view.path,
                            lambda doc: doc.__setitem__("hll", layout))

    # -- maintenance -------------------------------------------------------------

    def apply_delta(self, new_rows: DataFrame | None,
                    old_rows: DataFrame | None = None,
                    batch_token: str | None = None) -> None:
        """Merge one micro-batch's registers into the store.

        ``old_rows`` must be None or EMPTY: HLL registers cannot
        retract, so a batch that actually carries old images (deletes /
        rewrites of live rows) raises instead of serving silently-wrong
        counts.  The check is on CONTENT, not presence — the engine's
        ``_maintain_agg_views`` hands every post-bootstrap batch a
        key-pruned old-image frame that is empty whenever the source is
        insert-only, and an empty materialized frame (local relation or
        checkpoint) costs at most one cheap isEmpty (advisor finding: presence-keyed refusal broke
        the documented insert-only engine feed).  On a store that does
        not exist yet, non-empty old images are tolerated for engine
        bootstrap but logged loudly — a genuinely rewrite-bearing first
        batch is exactly the over-count the refusal exists to surface.
        ``batch_token`` is accepted for feed compatibility but unused —
        the max-merge is naturally idempotent (module docstring)."""
        if old_rows is not None and not old_rows.isEmpty():
            if self.view.exists():
                raise ValueError(
                    "HllView cannot retract (register max is monotone) — "
                    "this batch carries old images; use "
                    "DistinctCountView for exact retractable counts")
            logger.warning(
                "HllView %s: discarding old images on bootstrap (store "
                "absent) — if this first batch rewrites live rows the "
                "registers will over-count; bootstrap from an "
                "insert-only scan to avoid this", self.path)
        if new_rows is None:
            return
        self._merge_registers(hll_registers(
            new_rows, self.group_cols, self.value_col, self.p))

    def _merge_registers(self, batch: DataFrame) -> None:
        """Max-merge a register table into the store — the semilattice
        join shared by row ingestion and store-to-store union."""
        got = [batch.schema[c].dataType.simpleString()
               for c in self.group_cols]
        if got != self.group_types:
            raise ValueError(
                f"batch group column types {got} do not match the "
                f"store layout {self.group_types} — declare group_types "
                "at construction")
        if self.view.exists():
            # the register agg feeds the touched-bucket collect AND the
            # merge join — evaluate its plan once
            batch = batch.localCheckpoint(eager=True)
            # max-merge against ONLY the batch keys' current registers:
            # read the touched buckets, left-join the old M, keep the max
            touched = sorted({r[0] for r in batch.select(
                self.view.bucket_expr().alias("_b")).distinct().collect()})
            old = (self.view.read_touched(touched)
                   .select(*self.group_cols, "_j",
                           F.col("_M").alias("_M_old")))
            batch = (batch.join(old, on=self.group_cols + ["_j"],
                                how="left")
                     .select(*self.group_cols, "_j",
                             F.greatest(F.col("_M"),
                                        F.coalesce(F.col("_M_old"),
                                                   F.lit(0)))
                             .alias("_M")))
        self.view.apply(batch.select(*self.group_cols, "_j", "_M"),
                        action="upsertInto")

    def merge_from(self, other: "HllView") -> None:
        """UNION another HllView's registers into this one — federated
        sketching: per-shard / per-datacenter stores, each maintained
        locally over its own slice, combine by register max WITHOUT
        touching raw data (the merged state equals the one-shot sketch
        of the union — max-merge associativity, same argument as the
        replay contract; pinned by test_merge_from_shards).  Cost:
        O(|other's registers|) rows through one touched-bucket merge.
        Requires identical ``p`` — register indices are p-dependent."""
        if other.p != self.p:
            raise ValueError(
                f"cannot merge p={other.p} registers into a p={self.p} "
                "store — register indices are layout-dependent")
        if list(other.group_cols) != list(self.group_cols):
            raise ValueError("group_cols must match to merge")
        if list(other.group_types) != list(self.group_types):
            raise ValueError(
                f"group_types must match to merge "
                f"({other.group_types} vs {self.group_types})")
        self._merge_registers(other.registers())

    def feed(self) -> Feed:
        """Adapter for a CDC engine's ``agg_views`` list (insert-only
        sources; a delete-bearing feed raises by contract)."""
        return Feed(self.apply_delta)

    def start_stream(self, rows_stream: DataFrame, checkpoint_dir: str,
                     available_now: bool = True):
        """Maintain the sketch from a STREAM (foreachBatch →
        :meth:`apply_delta`) — replay-safe without a fence because the
        register merge is idempotent.  Returns the StreamingQuery."""
        def _batch(df, batch_id: int) -> None:
            self.apply_delta(df, None)

        writer = (rows_stream.writeStream
                  .foreachBatch(_batch)
                  .option("checkpointLocation", checkpoint_dir))
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    # -- serving -----------------------------------------------------------------

    def registers(self) -> DataFrame:
        """The live register table (audit / recompute-check surface).
        The empty-store frame is built from the PERSISTED group-col
        types, so its schema equals the post-ingest one (advisor
        finding: a hardcoded all-string empty frame made read() /
        merge_from over non-string groups type-flip at first ingest)."""
        schema = T.StructType(
            [T.StructField(c, T.StructType.fromDDL(f"x {t}")[0].dataType)
             for c, t in zip(self.group_cols, self.group_types)]
            + [T.StructField("_j", T.IntegerType()),
               T.StructField("_M", T.IntegerType())])
        if not self.view.exists():
            return self.spark.createDataFrame([], schema)
        return self.view.read().select(*self.group_cols, "_j", "_M")

    def read(self) -> DataFrame:
        """Per-group estimates ``(*group_cols, m, v_zero, s_scaled,
        est_hll)`` — the ``hll_grouped`` output contract over the
        maintained state."""
        return hll_estimate(self.registers(), self.group_cols, self.p)

    def recompute_check(self, rows: DataFrame) -> bool:
        """True iff the maintained registers equal a from-scratch
        ``hll_registers`` of ``rows`` (the lifecycle tests' invariant)."""
        want = {tuple(r) for r in hll_registers(
            rows, self.group_cols, self.value_col, self.p).collect()}
        got = {tuple(r) for r in self.registers().collect()}
        return want == got

    def maintain(self) -> None:
        """Between-batch housekeeping: bucket-count sawtooth + small-file
        compaction (state is |groups|·m rows — compaction matters more
        than rebucketing here)."""
        self.view.maintain()
