"""Incrementally-maintained EXACT percentile view — order statistics
kept correct under CDC via a value-refcount auxiliary store.

Percentiles are, like COUNT(DISTINCT) (operators/distinct_view), NOT
self-maintainable: deleting one row can move every quantile of its
group, and no scalar summary can say where to.  The same duplicate-
counting lineage fixes both — this store keeps one row per live
``(group, value)`` pair with the number of contributing fact rows::

    refcount(g, v) += |new rows with (g, v)| − |old images with (g, v)|
    quantile_p(g)   = min{ v : cum_weight(g, v) · den ≥ n(g) · num }

where ``cum_weight`` is the refcount running total in value order,
``n`` the group's live row count, and ``p = num/den`` a RATIONAL — the
read never multiplies by a float, so the "smallest value at or above
the ⌈p·n⌉-th position" discrete-quantile rule is integer-exact and
bit-reproducible across engines (the registry oracle replays the same
inequality in SQL; a ``0.1 * n`` double formulation rounds differently
per engine at exact multiples).

Unlike the distinct view the refcount here is a WEIGHT (row
multiplicity), not a per-row-distinct marker: ten equal values collapse
to one store row with refcount 10 and still pull the quantile the same
as ten rows would.  NULL values contribute nothing (SQL percentile
semantics); NULL group keys are ordinary groups.

Layout and fencing are exactly the distinct view's: a
:class:`~ydb_cdc_processor_spark.operators.bucketed_view.
BucketedMaterializedView` keyed ``(group_cols…, value)`` and co-located
on the group columns (maintenance touches only the batch's groups'
buckets, a group's value set lives in one bucket), ±deltas under the
batch-token replay fence.

100 TB shape: per batch one map-side-combined hash agg over the batch +
key-pruned old images, then a touched-bucket merge.  Store size is
Σ per-group DISTINCT-value cardinality — for continuous doubles that
approaches the fact table and an approximate sketch is the honest tool;
this view is for the bounded-cardinality regime (prices, durations,
scores) where exact percentiles under deletes are otherwise a full
rescan.  ``read()`` is one window + one aggregate over the store, both
hash-partitioned on the group columns.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ydb_cdc_processor_spark.operators.bucketed_view import (
    BUCKET_COL, BucketedMaterializedView)
from ydb_cdc_processor_spark.operators.ivm_feed import Feed

logger = logging.getLogger(__name__)

RC = "_rc"   # refcount: live fact rows holding this (group, value)

#: default read() quantiles — name → (num, den), p = num/den
DEFAULT_QUANTILES: dict[str, tuple[int, int]] = {
    "p25": (1, 4), "p50": (1, 2), "p75": (3, 4)}


class QuantileView:
    """A persisted ``GROUP BY group_cols → exact discrete quantiles of
    value_col`` maintained incrementally from the engines' ``agg_views``
    pre-merge old-image feed (duck-typed
    ``apply_delta(new, old, token)``)."""

    def __init__(self, spark: SparkSession, path: str,
                 group_cols: list[str], value_col: str,
                 n_buckets: int = 16):
        if value_col in group_cols:
            raise ValueError("value_col inside group_cols is a constant "
                             "per group by construction")
        self.spark = spark
        self.path = path
        self.group_cols = list(group_cols)
        self.value_col = value_col
        # the raw value is the merge key: non-null (NULLs dropped at
        # contribution time) and compared by its own type, so decimal
        # prices stay decimal-exact in the quantile output
        self.view = BucketedMaterializedView(
            spark, path, keys=list(group_cols) + [value_col],
            bucket_keys=list(group_cols), n_buckets=n_buckets)

    def feed(self) -> Feed:
        """Adapter for a CDC engine's ``agg_views`` list."""
        return Feed(self.apply_delta)

    # -- maintenance ---------------------------------------------------------

    def _contrib(self, rows: DataFrame, sign: int) -> DataFrame:
        """±1 PER ROW (multiplicity is the weight), NULL values skipped."""
        return (rows.where(F.col(self.value_col).isNotNull())
                .select(*self.group_cols, self.value_col,
                        F.lit(sign).cast("long").alias(RC)))

    def apply_delta(self, new_rows: DataFrame | None,
                    old_rows: DataFrame | None,
                    batch_token: str | None = None) -> None:
        """One maintenance step: ``new_rows`` = post-merge upserted fact
        rows (None for delete-only), ``old_rows`` = pre-merge images of
        every touched key (None before the fact view exists)."""
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
        delta = (contrib.groupBy(*self.group_cols, self.value_col)
                 .agg(F.sum(RC).alias(RC))
                 .where(F.col(RC) != 0))
        applied = self.view.merge_touched(
            delta,
            lambda target, d: (
                target.unionByName(d)
                .groupBy(*self.group_cols, self.value_col, BUCKET_COL)
                .agg(F.sum(RC).alias(RC))
                .where(F.col(RC) > 0)),
            batch_token=batch_token)
        if not applied and batch_token is not None:
            logger.info("quantile view %s: batch token %r already "
                        "applied; skipping replay", self.path, batch_token)

    def merge_from(self, other: "QuantileView",
                   batch_token: str | None = None) -> None:
        """Federated union of shard weight stores: per-(group, value)
        multiplicities are linear, so shard weights SUM into the
        one-shot weights of the union — exact quantiles of a sharded
        corpus without moving raw rows (only the collapsed
        (group, value, weight) relation crosses).  NOT idempotent; pass
        ``batch_token`` when the caller may replay.

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
                .groupBy(*self.group_cols, self.value_col, BUCKET_COL)
                .agg(F.sum(RC).alias(RC))
                .where(F.col(RC) > 0)),
            batch_token=batch_token, out_of_band=True)
        if not applied and batch_token is not None:
            logger.info("quantile view %s: merge token %r already "
                        "applied; skipping replay", self.path, batch_token)

    # -- reads ---------------------------------------------------------------

    def read(self, quantiles: dict[str, tuple[int, int]] | None = None
             ) -> DataFrame:
        """``(group_cols…, n_rows, <one column per quantile>)``.

        ``quantiles``: name → ``(num, den)`` rational positions
        (default p25/p50/p75).  One cumulative-weight window in value
        order plus one aggregate; the quantile columns keep the value
        column's own type."""
        qs = quantiles if quantiles is not None else DEFAULT_QUANTILES
        for name, (num, den) in qs.items():
            if not (0 < num <= den):
                raise ValueError(f"quantile {name}: need 0 < num <= den, "
                                 f"got {num}/{den}")
        rows = self.view.read()
        wg = Window.partitionBy(*self.group_cols)
        cum = F.sum(RC).over(wg.orderBy(self.value_col))
        tot = F.sum(RC).over(wg)
        c = rows.select(*self.group_cols, self.value_col,
                        cum.alias("_cum"), tot.alias("_n"))
        aggs = [F.max("_n").alias("n_rows")]
        for name, (num, den) in qs.items():
            aggs.append(F.min(F.when(
                F.col("_cum") * den >= F.col("_n") * num,
                F.col(self.value_col))).alias(name))
        return c.groupBy(*self.group_cols).agg(*aggs)

    def read_weights(self) -> DataFrame:
        """The live ``(group_cols…, value, weight)`` relation — the
        audit surface (which values a group holds, with multiplicity)."""
        return self.view.read().select(*self.group_cols, self.value_col,
                                       F.col(RC).alias("weight"))

    def recompute_check(self, rows: DataFrame) -> bool:
        """True iff the maintained state equals a full recompute over
        ``rows`` (the invariant the lifecycle tests assert)."""
        full = (self._contrib(rows, +1)
                .groupBy(*self.group_cols, self.value_col)
                .agg(F.sum(RC).alias(RC))
                .where(F.col(RC) > 0))
        cur = self.view.read().select(*self.group_cols, self.value_col, RC)
        a = {tuple(r) for r in full.collect()}
        b = {tuple(r) for r in cur.collect()}
        return a == b

    def maintain(self) -> None:
        """Between-batch housekeeping on the backing store — the
        rebucket/compact sawtooth (engines reach this through
        ``maintain_derived_stores``; hand-driven loops call it at their
        own cadence)."""
        self.view.maintain()
