"""Keyed MERGE semantics — the four sink action modes (K1-K4, SURVEY.md §2).

The reference expresses its sinks as YQL statement prefixes executed by the
YDB server: ``UPSERT INTO t``, ``DELETE FROM t ON``, ``UPDATE t ON``,
``INSERT INTO t`` (CdcMsgParser.java:225-249).  Plain parquet has no ACID
MERGE, so we provide:

1. Pure DataFrame **merge semantics** (this module) — each action mode as a
   join-rewrite on (target, delta).  These are the testable, oracle-checkable
   relational definitions, and they are exactly what Delta/Iceberg MERGE
   compiles to underneath.
2. :class:`ParquetMaterializedView`, the flat keyed view: a
   :class:`~ydb_cdc_processor_spark.operators.bucketed_view.
   BucketedMaterializedView` of one bucket.  There is one keyed store;
   "flat" is its one-bucket layout, which merges without a bucket
   collect and writes without an exchange, and ``maintain()`` rebuckets
   it once it outgrows one bucket.  The engine reaches a store only
   through its contract (``apply`` / ``apply_batch`` / ``read`` /
   ``exists``, pinned by ``tests/test_delta_view.py``), so a table with
   file-level MERGE could stand in behind the same interface.

Scale notes (100 TB):
- Every mode is a single equi-join on the PK — shuffle-on-key both sides, or
  broadcast when the delta is small.  The broadcast decision is NOT forced:
  by default AQE + ``spark.sql.autoBroadcastJoinThreshold`` pick the
  strategy from actual runtime sizes, so a table-sized delta (backfill,
  replay, two-phase result) gets a shuffle join instead of an OOM-ing
  forced broadcast.  Callers that KNOW the delta is bounded (a micro-batch
  capped by trigger/batchSize, XmlConfig.java:18 default 1000) may pass
  ``small_delta=True`` to pin the hint and skip AQE's first-stage stats.
- ``left_anti`` + ``unionByName`` avoids a full-outer join; the union does
  not shuffle.
- A real deployment partitions the target table by a PK prefix so the
  rewrite touches only affected partitions (dynamic partition overwrite).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ydb_cdc_processor_spark.operators.bucketed_view import (
    BucketedMaterializedView)


class StrictInsertError(Exception):
    """K4 ``insertInto`` collision: the reference's INSERT fails server-side
    on duplicate PK; we detect and raise (CdcMsgParser.java:240-243)."""


def _dedup_delta(delta: DataFrame, keys: list[str],
                 order_col: str | None) -> DataFrame:
    if order_col and order_col in delta.columns:
        from ydb_cdc_processor_spark.operators.last_wins import collapse_last_wins
        return collapse_last_wins(delta, keys, order_col).drop(order_col)
    return delta.dropDuplicates(keys)


def _hint(key_set: DataFrame, small_delta: bool | None) -> DataFrame:
    """Broadcast the delta key-set only when the caller GUARANTEES it is
    bounded; otherwise emit no hint and let AQE choose from runtime sizes
    (a forced broadcast of a table-sized delta OOMs at scale)."""
    return F.broadcast(key_set) if small_delta else key_set


def merge_upsert(target: DataFrame, delta: DataFrame, keys: list[str],
                 order_col: str | None = None,
                 small_delta: bool | None = None) -> DataFrame:
    """K1 ``upsertInto`` (CdcMsgParser.java:228-231): matched → replace row,
    not matched → insert.  target ⟕anti delta  ∪  delta."""
    delta = _dedup_delta(delta, keys, order_col).select(*target.columns)
    kept = target.join(_hint(delta.select(*keys), small_delta),
                       on=keys, how="left_anti")
    return kept.unionByName(delta)


def merge_delete(target: DataFrame, delete_keys: DataFrame,
                 keys: list[str],
                 small_delta: bool | None = None) -> DataFrame:
    """K2 ``deleteFrom`` (CdcMsgParser.java:232-235): delete rows whose PK
    appears in the delete set — an anti-join."""
    key_set = delete_keys.select(*keys).dropDuplicates(keys)
    return target.join(_hint(key_set, small_delta), on=keys, how="left_anti")


def merge_update(target: DataFrame, delta: DataFrame, keys: list[str],
                 order_col: str | None = None,
                 small_delta: bool | None = None) -> DataFrame:
    """K3 ``updateOn`` (CdcMsgParser.java:236-239): matched → replace row,
    NOT matched → ignore (delta rows without an existing PK are dropped)."""
    delta = _dedup_delta(delta, keys, order_col).select(*target.columns)
    matched = delta.join(target.select(*keys), on=keys, how="left_semi")
    kept = target.join(_hint(delta.select(*keys), small_delta),
                       on=keys, how="left_anti")
    return kept.unionByName(matched)


def merge_insert(target: DataFrame, delta: DataFrame, keys: list[str],
                 strict: bool = False,
                 collision_obs=None) -> DataFrame:
    """K4 ``insertInto`` (CdcMsgParser.java:240-243): strict append.

    ``strict=True`` reproduces the server-side PK-violation failure by
    raising on collision; ``strict=False`` appends only non-colliding rows
    (documented deviation — the reference would fail the whole batch and
    retry forever, YqlWriter.java:244-262).

    ``collision_obs`` (a ``pyspark.sql.Observation``, strict mode only)
    selects the SINGLE-PASS strict path: instead of an eager separate
    ``count()`` job over the delta before the plan is even built (an
    extra driver action + a second evaluation of the delta's upstream
    transform per batch), colliding delta rows are marked via a left
    join and the collision count rides the merge's own materialization
    as an observe metric.  The CALLER owns the commit protocol: after
    materializing (e.g. writing the view's next generation) call
    :func:`raise_on_collisions` BEFORE the commit, and discard the
    materialization on failure — the view classes do exactly this, so a
    colliding batch still leaves the view untouched."""
    delta = delta.select(*target.columns)
    if strict and collision_obs is not None:
        hits = target.select(*keys).withColumn("__collision", F.lit(1))
        marked = delta.join(hits, on=keys, how="left")
        observed = marked.observe(
            collision_obs,
            F.sum(F.coalesce(F.col("__collision"), F.lit(0)))
             .alias("n_collisions"))
        return target.unionByName(
            observed.drop("__collision").select(*target.columns))
    if strict:
        n = delta.join(target.select(*keys), on=keys, how="left_semi").count()
        if n:
            raise StrictInsertError(f"{n} rows collide with existing primary keys")
        return target.unionByName(delta)
    fresh = delta.join(target.select(*keys), on=keys, how="left_anti")
    return target.unionByName(fresh)


def raise_on_collisions(collision_obs) -> None:
    """Check a single-pass strict-insert Observation (see
    :func:`merge_insert`) after its plan materialized; raises
    :class:`StrictInsertError` exactly as the eager path does."""
    n = int(collision_obs.get["n_collisions"] or 0)
    if n:
        raise StrictInsertError(
            f"{n} rows collide with existing primary keys")


def chain_hooks(*hooks):
    """One callable that runs every non-None hook in order, or None when
    there is none — how a view combines its own pre-commit check
    (strict-insert collisions) with a caller's ``pre_commit``."""
    hooks = [h for h in hooks if h is not None]
    if not hooks:
        return None

    def run() -> None:
        for h in hooks:
            h()
    return run


MERGE_FNS = {
    "upsertInto": merge_upsert,
    "deleteFrom": merge_delete,
    "updateOn": merge_update,
    "insertInto": merge_insert,
}


def widen_to_union(target: DataFrame,
                   delta: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Schema evolution at the merge boundary (upstream
    ``ALTER TABLE ... ADD COLUMN``): widen BOTH sides to the union of
    their columns so the merge neither drops a new column (the
    ``delta.select(*target.columns)`` projection inside the merge fns
    would, silently and forever) nor crashes on a column the delta no
    longer carries.

    - column only in the delta → the store gains it, NULL on every
      pre-evolution row (exactly what the reference's target table
      shows after a server-side ADD COLUMN);
    - column only in the target → kept; NULL on rows the batch
      replaces (K1/K3 replace the WHOLE row — a column the new image
      does not carry is absent from it, i.e. NULL).

    Same-name/different-type conflicts are NOT reconciled here — Spark
    raises on the union, the right outcome for an incompatible
    evolution."""
    t_types = {f.name: f.dataType for f in target.schema.fields}
    d_types = {f.name: f.dataType for f in delta.schema.fields}
    for name, dt in d_types.items():
        if name not in t_types:
            target = target.withColumn(name, F.lit(None).cast(dt))
    for name, dt in t_types.items():
        if name not in d_types:
            delta = delta.withColumn(name, F.lit(None).cast(dt))
    return target, delta


def compose_merge(target: DataFrame, ups: DataFrame | None,
                  dels: DataFrame | None, keys: list[str], action: str,
                  order_col: str | None = None,
                  small_delta: bool | None = None,
                  collision_obs=None) -> DataFrame:
    """Fuse one batch's upsert AND delete sides into a single merge plan.

    Valid because the engine's per-key last-wins collapse routes each key
    to EXACTLY one side (operators/last_wins.py) — the sides are
    key-disjoint, so applying them in either order (or at once) yields
    the same view.  The payoff: the target is read ONCE and rewritten
    ONCE per batch instead of once per side — at 100 TB the target
    read/write dominates, so this halves per-batch IO."""
    merged = target
    if ups is not None:
        if action == "insertInto":
            merged = merge_insert(merged, ups, keys, strict=True,
                                  collision_obs=collision_obs)
        else:
            merged = MERGE_FNS[action](merged, ups, keys, order_col,
                                       small_delta)
    if dels is not None:
        merged = merge_delete(merged, dels, keys, small_delta=small_delta)
    return merged


class ParquetMaterializedView(BucketedMaterializedView):
    """The flat keyed view: a one-bucket
    :class:`~ydb_cdc_processor_spark.operators.bucketed_view.
    BucketedMaterializedView`."""

    def __init__(self, spark: SparkSession, path: str, keys: list[str],
                 schema=None):
        super().__init__(spark, path, keys, schema=schema, n_buckets=1)
