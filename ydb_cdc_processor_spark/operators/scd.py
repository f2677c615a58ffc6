"""Slowly-changing-dimension (SCD Type-2) history from a change stream.

The reference processor materializes only the LATEST row per key (the
last-wins merge pipeline, CdcMsgParser.java:96-120 feeding
YqlWriter.java:181-206).  A history sink — every value a key ever held,
with its validity interval — is the standard companion table in CDC
deployments (auditing, point-in-time joins, ML feature backfills), and
it lowers to pure window functions: no state store, no iteration.

Plan shape (100 TB audit): ONE hash exchange on the key, then two
Window operators over the SAME (partition, order) — Catalyst reuses the
exchange and the sort for the second window (Filter preserves both
distribution and ordering), so history construction costs exactly one
shuffle of the change stream regardless of history depth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def scd2_history(changes: DataFrame, key_cols: list[str], ts_col: str,
                 attr_cols: list[str], tiebreak_col: str | None = None,
                 suppress_unchanged: bool = True,
                 carry_cols: tuple[str, ...] = ()) -> DataFrame:
    """Build a Type-2 history table from per-key change rows.

    ``changes``: one row per observed version (a CDC upsert stream after
    envelope decode).  Output: one row per DISTINCT consecutive value of
    ``attr_cols`` per key, with ``valid_from`` (the change's timestamp),
    ``valid_to`` (the NEXT change's timestamp, NULL while current) and
    ``is_current``.

    - ``suppress_unchanged``: drop no-op updates (same attrs re-sent —
      CDC streams are full of them) so intervals are maximal.  NULL-safe:
      an attr going NULL→NULL is "unchanged", NULL→x is a change.
    - ``tiebreak_col``: total order within equal timestamps (e.g. the
      source offset / event id).  Without it, equal-``ts`` versions
      order arbitrarily and the history is nondeterministic.
    - ``carry_cols``: extra columns of each SURVIVING change row passed
      through to the output (e.g. the tiebreak value, so an incremental
      maintainer can reconstruct the change rows from the stored
      history — see :class:`Scd2View`).
    """
    order = [F.col(ts_col).asc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).asc())
    w = Window.partitionBy(*key_cols).orderBy(*order)

    out = changes
    if suppress_unchanged:
        # per-attr NULL-safe "differs from previous version" — OR'd, so a
        # row survives iff ANY tracked attribute changed (or it is the
        # key's first version: lag is NULL and eqNullSafe(NULL, x) is
        # false for non-null x, NULL→NULL handled by the lag marker).
        changed = F.lit(False)
        for a in attr_cols:
            changed = changed | ~F.col(a).eqNullSafe(F.lag(F.col(a)).over(w))
        # first row per key always survives, even if all attrs are NULL
        first = F.lag(F.lit(1)).over(w).isNull()
        out = out.withColumn("_chg", changed | first) \
                 .where(F.col("_chg")).drop("_chg")

    out = (out.withColumn("valid_from", F.col(ts_col))
              .withColumn("valid_to", F.lead(F.col(ts_col)).over(w))
              .withColumn("is_current", F.col("valid_to").isNull()))
    keep = (list(key_cols) + list(attr_cols)
            + ["valid_from", "valid_to", "is_current"]
            + [c for c in carry_cols
               if c not in key_cols and c not in attr_cols])
    return out.select(*keep)


def snapshot_at(history: DataFrame, ts) -> DataFrame:
    """Point-in-time snapshot from a Type-2 history: rows whose validity
    interval covers ``ts`` (``valid_from <= ts < valid_to``, open-ended
    for current rows).  A plain filter — partition-prunable when the
    history is stored partitioned by ``is_current`` or bucketed by key."""
    t = F.lit(ts).cast("timestamp")
    return history.where((F.col("valid_from") <= t)
                         & (F.col("valid_to").isNull()
                            | (F.col("valid_to") > t)))


class Scd2View:
    """Incrementally-maintained SCD Type-2 history view — the history
    SINK: each CDC micro-batch updates the persisted history, touching
    only the keys the batch mentions.

    The store keeps EVERY raw version row (the per-key change log — the
    audit artifact a history sink retains anyway), flagged with
    ``is_change``; validity intervals live on the flagged rows and
    :meth:`read` serves only those.  Raw rows are load-bearing, not just
    audit: a row suppressed as a no-op against an INCOMPLETE stream
    (``a@t1, a@t3`` before ``b@t2`` arrives) becomes a real change once
    the late row splices in — rebuilding from surviving rows alone would
    lose ``a@t3`` forever (caught by the q_scd2_incremental oracle).

    Maintenance is a key-pruned rebuild: pull the stored raw rows of
    touched keys (left-semi — untouched keys pass through unread), union
    the batch, dedup on (key, ts, tiebreak), recompute flags+intervals
    for just those keys.  Consequences:

    - **Idempotent**: a replayed batch dedups away — the rebuild output
      is identical.  The batch-token fence is an optimization (skip the
      work), not the correctness mechanism.
    - **Out-of-order tolerant**: a late change splices into the right
      interval position, because the rebuild re-sorts the key's full raw
      version set — no per-key monotonicity contract needed.
    - **Scale shape**: per-batch compute is O(|batch| + raw rows of
      touched keys), but the flat (one-bucket) store is replaced whole
      per batch (``overwrite``) — O(|history|) IO.  A touched-bucket
      history would need a ``merge_touched`` path that buckets on the
      key columns alone (the rebuild reads whole keys), which this
      class does not have.

    Why not "close current row + append": that's O(1) per key but
    silently corrupts on replay and on late data — both routine in CDC.
    """

    #: internal column storing each version's tiebreak for reconstruction
    SEQ_COL = "_seq"

    def __init__(self, spark, path: str, key_cols: list[str], ts_col: str,
                 attr_cols: list[str], tiebreak_col: str):
        from ydb_cdc_processor_spark.operators.merge import (
            ParquetMaterializedView)
        self.key_cols = list(key_cols)
        self.ts_col = ts_col
        self.attr_cols = list(attr_cols)
        self.tiebreak_col = tiebreak_col
        self._store = ParquetMaterializedView(
            spark, path, keys=self.key_cols + [ts_col, self.SEQ_COL])

    def _raw_of(self, hist: DataFrame) -> DataFrame:
        """Reconstruct raw change rows from the stored version log."""
        return hist.select(
            *self.key_cols, self.ts_col,
            F.col(self.SEQ_COL).alias(self.tiebreak_col),
            *self.attr_cols)

    def _rebuild(self, raw: DataFrame) -> DataFrame:
        """Flags + intervals over a key-complete raw version set."""
        w = Window.partitionBy(*self.key_cols).orderBy(
            F.col(self.ts_col).asc(), F.col(self.tiebreak_col).asc())
        changed = F.lit(False)
        for a in self.attr_cols:
            changed = changed | ~F.col(a).eqNullSafe(F.lag(F.col(a)).over(w))
        first = F.lag(F.lit(1)).over(w).isNull()
        flagged = raw.withColumn("is_change", changed | first)
        ch = flagged.where(F.col("is_change"))
        wc = Window.partitionBy(*self.key_cols).orderBy(
            F.col(self.ts_col).asc(), F.col(self.tiebreak_col).asc())
        ch = (ch.withColumn("valid_to", F.lead(F.col(self.ts_col)).over(wc))
                .withColumn("is_current", F.col("valid_to").isNull()))
        noop = (flagged.where(~F.col("is_change"))
                .withColumn("valid_to",
                            F.lit(None).cast(ch.schema["valid_to"].dataType))
                .withColumn("is_current", F.lit(False)))
        return (ch.unionByName(noop)
                .withColumnRenamed(self.tiebreak_col, self.SEQ_COL))

    def apply_batch(self, changes: DataFrame,
                    batch_token: str | None = None) -> None:
        """Fold one micro-batch of change rows into the history."""
        from ydb_cdc_processor_spark.operators.bucketed_view import (
            skip_replay)
        store = self._store
        if skip_replay(store.manifest(), batch_token,
                       f"scd2 view {store.path}"):
            return  # committed in the same manifest replace as its rows
        ch = changes.select(*self.key_cols, self.ts_col,
                            self.tiebreak_col, *self.attr_cols)
        if store.exists():
            hist = store.read()
            touched = ch.select(*self.key_cols).distinct()
            keep = hist.join(touched, on=self.key_cols, how="left_anti")
            old = hist.join(touched, on=self.key_cols, how="left_semi")
            ch = self._raw_of(old).unionByName(ch)
        else:
            keep = None
        combined = ch.dropDuplicates(
            self.key_cols + [self.ts_col, self.tiebreak_col])
        rebuilt = self._rebuild(combined)
        out = rebuilt if keep is None else keep.unionByName(rebuilt)
        store.overwrite(out, batch_token=batch_token)

    def read(self) -> DataFrame:
        """The current history (public schema — change rows only)."""
        return self._store.read().where(F.col("is_change")).select(
            *self.key_cols, *self.attr_cols,
            F.col(self.ts_col).alias("valid_from"),
            "valid_to", "is_current")
