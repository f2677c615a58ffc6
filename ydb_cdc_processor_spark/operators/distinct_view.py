"""Incrementally-maintained COUNT(DISTINCT) view — the classic
NON-self-maintainable aggregate, kept exact under CDC via a refcount
auxiliary store.

:class:`~ydb_cdc_processor_spark.operators.agg_view.AggregateView`
maintains COUNT/SUM/AVG because their ±deltas compose; COUNT DISTINCT
does not — deleting a value from a group only lowers the distinct count
if NO OTHER surviving row supplies that value, which a scalar cannot
know.  The textbook IVM fix (Gupta & Mumick's duplicate-counting view
lineage) is exactly what this class stores: one row per live
``(group, value)`` pair with the number of contributing fact rows::

    refcount(g, v) += |new rows with (g, v)| − |old images with (g, v)|
    distinct_count(g) = |{v : refcount(g, v) > 0}|

Layout: a :class:`~ydb_cdc_processor_spark.operators.bucketed_view.
BucketedMaterializedView` keyed ``(group_cols…, _vk)`` and CO-LOCATED on
the group columns — maintenance per batch touches only the batch's
groups' buckets, a group's distinct set lives in one bucket, and
``read()`` aggregates refcounts to counts with a bucket-local shuffle.
``_vk`` is the null-safe string image of the value (operators/ivm_feed)
used as the MERGE key; SQL ``COUNT(DISTINCT x)`` ignores NULLs, so
NULL-valued contributions are dropped before they reach the store (a
group whose rows are all-NULL reports 0 via the group's row in the
fact view, not this rollup — same convention as DuckDB/Spark).

Replay fence: ±refcount deltas are NOT idempotent, so maintenance rides
:meth:`BucketedMaterializedView.merge_touched`'s batch-token fence —
the token commits in the same manifest replace as the batch, so a
checkpoint replay after a crash re-applies the whole (invisible) batch
exactly once (same contract as the bucketed AggregateView backend).

100 TB shape: contributions are one hash agg over the batch + its
key-pruned old images (map-side combine → one row per touched
(group, value)); the store merge reads only touched buckets.  Store
size is Σ per-group distinct cardinality — the working set COUNT
DISTINCT fundamentally needs; when that approaches the fact table,
aggregate at query time instead (the AggregateView caveat, one level
up).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ydb_cdc_processor_spark.operators.bucketed_view import (
    BUCKET_COL, BucketedMaterializedView)
from ydb_cdc_processor_spark.operators.ivm_feed import Feed, null_safe_key

logger = logging.getLogger(__name__)

VK = "_vk"   # null-safe string image of the counted value — merge key
RC = "_rc"   # refcount: live fact rows contributing this (group, value)


class DistinctCountView:
    """A persisted ``GROUP BY group_cols → COUNT(DISTINCT value_col)``
    maintained incrementally from the engines' ``agg_views`` pre-merge
    old-image feed (duck-typed ``apply_delta(new, old, token)``)."""

    def __init__(self, spark: SparkSession, path: str,
                 group_cols: list[str], value_col: str,
                 n_buckets: int = 16):
        if value_col in group_cols:
            raise ValueError("value_col inside group_cols is constant-1 "
                             "per group by construction")
        self.spark = spark
        self.path = path
        self.group_cols = list(group_cols)
        self.value_col = value_col
        self.view = BucketedMaterializedView(
            spark, path, keys=list(group_cols) + [VK],
            bucket_keys=list(group_cols), n_buckets=n_buckets)

    def feed(self) -> Feed:
        """Adapter for a CDC engine's ``agg_views`` list."""
        return Feed(self.apply_delta)

    # -- maintenance ---------------------------------------------------------

    def _contrib(self, rows: DataFrame, sign: int) -> DataFrame:
        """±1 per non-NULL-valued row, keyed (group_cols…, _vk) — the
        raw value is NOT stored (the count needs identity only, and the
        null-safe string image is it)."""
        return (rows.where(F.col(self.value_col).isNotNull())
                .select(*self.group_cols,
                        null_safe_key(self.value_col, VK),
                        F.lit(sign).cast("long").alias(RC)))

    def apply_delta(self, new_rows: DataFrame | None,
                    old_rows: DataFrame | None,
                    batch_token: str | None = None) -> None:
        """One maintenance step: ``new_rows`` = post-merge upserted fact
        rows (None for delete-only), ``old_rows`` = pre-merge images of
        every touched key (None before the fact view exists).  The
        per-(group, value) refcount delta merges into only the touched
        buckets under the batch-token fence."""
        parts = []
        if new_rows is not None:
            parts.append(self._contrib(new_rows, +1))
        if old_rows is not None:
            parts.append(self._contrib(old_rows, -1))
        if not parts:
            return
        contrib = parts[0]
        for p in parts[1:]:
            contrib = contrib.unionByName(p)
        delta = (contrib.groupBy(*self.group_cols, VK)
                 .agg(F.sum(RC).alias(RC))
                 .where(F.col(RC) != 0))
        applied = self.view.merge_touched(
            delta,
            lambda target, d: (
                target.unionByName(d)
                .groupBy(*self.group_cols, VK, BUCKET_COL)
                .agg(F.sum(RC).alias(RC))
                .where(F.col(RC) > 0)),
            batch_token=batch_token)
        if not applied and batch_token is not None:
            logger.info("distinct view %s: batch token %r already "
                        "applied; skipping replay", self.path, batch_token)

    def merge_from(self, other: "DistinctCountView",
                   batch_token: str | None = None) -> None:
        """Federated union of shard refcount stores: refcounts are
        linear, so per-shard (group, value) refcounts SUM into the
        one-shot refcounts of the union — distinct counts of a sharded
        corpus without moving raw data (the AggregateView.merge_rollup
        shape; NOT idempotent, pass ``batch_token`` when the caller may
        replay).  Cost: O(|other's live pairs|) through one
        touched-bucket merge.

        Run between committed batches of any live feed.  The merge is
        one out-of-band commit of the store (it bumps the ``epoch``
        counter): a replay of a COMMITTED feed batch is skipped by the
        applied-token history, and a torn one was never visible, so it
        applies once."""
        if (list(other.group_cols) != list(self.group_cols)
                or other.value_col != self.value_col):
            raise ValueError("group_cols and value_col must match to merge")
        if not other.view.exists():
            return
        applied = self.view.merge_touched(
            other.view.read(),
            lambda target, d: (
                target.unionByName(d)
                .groupBy(*self.group_cols, VK, BUCKET_COL)
                .agg(F.sum(RC).alias(RC))
                .where(F.col(RC) > 0)),
            batch_token=batch_token, out_of_band=True)
        if not applied and batch_token is not None:
            logger.info("distinct view %s: merge token %r already "
                        "applied; skipping replay", self.path, batch_token)

    # -- reads ---------------------------------------------------------------

    def read(self) -> DataFrame:
        """``(group_cols…, n_distinct)`` — refcounts collapse to counts
        with a bucket-local aggregation (the store is already hashed on
        the group columns)."""
        return (self.view.read()
                .groupBy(*self.group_cols)
                .agg(F.count(F.lit(1)).cast("long").alias("n_distinct")))

    def read_values(self) -> DataFrame:
        """The live ``(group_cols…, _vk, refcount)`` relation — the
        audit surface (which values a group currently holds, with
        multiplicity)."""
        return self.view.read().select(*self.group_cols, VK,
                                       F.col(RC).alias("refcount"))

    def recompute_check(self, rows: DataFrame) -> bool:
        """True iff the maintained state equals a full recompute over
        ``rows`` (the invariant the lifecycle tests assert)."""
        full = (self._contrib(rows, +1)
                .groupBy(*self.group_cols, VK).agg(F.sum(RC).alias(RC))
                .where(F.col(RC) > 0))
        cur = self.view.read().select(*self.group_cols, VK, RC)
        a = {tuple(r) for r in full.collect()}
        b = {tuple(r) for r in cur.collect()}
        return a == b

    def maintain(self) -> None:
        """Between-batch housekeeping on the backing store — the
        rebucket/compact sawtooth (engines reach this through
        ``maintain_derived_stores``; hand-driven loops call it at their
        own cadence)."""
        self.view.maintain()
