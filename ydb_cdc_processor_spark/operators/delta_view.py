"""Delta Lake adapter for the materialized-view interface.

The parquet views (merge.ParquetMaterializedView, the bucketed variant)
implement MERGE as join-rewrites over plain directories because this
environment ships no table format.  A real deployment wants an ACID
table format instead: file-level MERGE, snapshot isolation, time travel,
and concurrent writers — exactly what the join-rewrite semantics in
operators/merge.py compile to underneath (merge.py module docstring has
promised "Delta-swappable" since round 1; this is that adapter).

:class:`DeltaMaterializedView` exposes the SAME surface the engine binds
to (``exists / read / apply / apply_batch``), lowered onto the
``delta-spark`` DeltaTable merge builder:

====================  =====================================================
action                Delta merge clauses
====================  =====================================================
upsertInto (K1)       whenMatchedUpdateAll + whenNotMatchedInsertAll
deleteFrom (K2)       whenMatchedDelete
updateOn   (K3)       whenMatchedUpdateAll
insertInto (K4)       whenNotMatchedInsertAll (strict: collision probe
                      first — Delta MERGE cannot fail-on-match)
====================  =====================================================

Per-key last-wins collapse (B4) runs BEFORE the merge, same as the
parquet path — Delta requires a unique source key per merge anyway
(duplicate source matches are a runtime error).

The container ships no ``delta-spark``, so everything Delta-touching is
import-guarded: :func:`delta_available` reports the capability,
construction raises a clear error without it, and the SQL-shaped pieces
(the merge condition builder) are pure functions tested without Delta.

100 TB notes: Delta MERGE rewrites only files containing matched keys
(data skipping via file stats), giving the same touched-subset cost
shape as the bucketed view — plus OPTIMIZE/Z-ORDER on the key prefix to
keep that file pruning sharp.  The ``small_delta`` hint is unnecessary:
Delta's MERGE planner broadcasts the source side from its own stats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ydb_cdc_processor_spark.operators.merge import StrictInsertError
from ydb_cdc_processor_spark.operators.last_wins import collapse_last_wins


def delta_available() -> bool:
    """True when the ``delta-spark`` package is importable."""
    try:
        import delta  # noqa: F401
        return True
    except ImportError:
        return False


def merge_condition(keys: list[str], target_alias: str = "t",
                    source_alias: str = "s") -> str:
    """The MERGE ON condition for a PK equi-match — null-safe equality
    (``<=>``) so NULL key components match themselves, mirroring the
    join-rewrite's ``on=keys`` semantics."""
    if not keys:
        raise ValueError("merge requires at least one key column")
    return " AND ".join(
        f"{target_alias}.`{k}` <=> {source_alias}.`{k}`" for k in keys)


class DeltaMaterializedView:
    """Keyed materialized view on a Delta table — same interface as
    :class:`~ydb_cdc_processor_spark.operators.merge.
    ParquetMaterializedView`, so ``CdcBatchEngine`` pipelines swap stores
    without code changes."""

    def __init__(self, spark: SparkSession, path: str, keys: list[str],
                 schema=None):
        if not delta_available():
            raise RuntimeError(
                "DeltaMaterializedView requires the delta-spark package "
                "(pip install delta-spark, plus the Delta SQL extension "
                "configs) — not available in this environment; use "
                "ParquetMaterializedView or BucketedMaterializedView")
        self.spark = spark
        self.path = path
        self.keys = list(keys)
        self.schema = schema

    # -- IO ------------------------------------------------------------------

    def _table(self):
        from delta.tables import DeltaTable
        return DeltaTable.forPath(self.spark, self.path)

    def exists(self) -> bool:
        from delta.tables import DeltaTable
        return DeltaTable.isDeltaTable(self.spark, self.path)

    def read(self) -> DataFrame:
        if not self.exists():
            if self.schema is None:
                raise FileNotFoundError(self.path)
            return self.spark.createDataFrame([], self.schema)
        return self.spark.read.format("delta").load(self.path)

    def overwrite(self, df: DataFrame, meta: dict | None = None) -> None:
        """Full replace — one Delta transaction (no manual swap needed:
        Delta's log IS the atomic commit).  ``meta`` rides the commit as
        userMetadata, the transactional analogue of the parquet view's
        meta file."""
        w = df.write.format("delta").mode("overwrite") \
            .option("overwriteSchema", "true")
        if meta is not None:
            import json
            w = w.option("userMetadata", json.dumps(meta))
        w.save(self.path)

    def read_meta(self) -> dict:
        if not self.exists():
            return {}
        import json
        last = (self._table().history(1)
                .select("userMetadata").first())
        if last is None or last["userMetadata"] is None:
            return {}
        try:
            return json.loads(last["userMetadata"])
        except ValueError:
            return {}

    # -- the four action modes (K1-K4) ---------------------------------------

    def apply(self, delta_df: DataFrame, action: str = "upsertInto",
              order_col: str | None = None,
              small_delta: bool | None = None,
              pre_commit=None) -> None:
        """``pre_commit``: optional callable run before the Delta
        transaction starts.  A Delta MERGE writes and commits in one
        ``execute()``, with no staged output to hold back, so the hook
        cannot overlap the write here; it still runs before anything
        commits, and if it raises nothing does."""
        if action != "deleteFrom":
            if order_col and order_col in delta_df.columns:
                delta_df = collapse_last_wins(
                    delta_df, self.keys, order_col).drop(order_col)
            else:
                delta_df = delta_df.dropDuplicates(self.keys)
        if not self.exists():
            if action == "deleteFrom" and self.schema is None:
                raise FileNotFoundError(self.path)
            if pre_commit is not None:
                pre_commit()
            self.overwrite(self.spark.createDataFrame([], self.schema)
                           if action == "deleteFrom" else delta_df)
            return

        cond = merge_condition(self.keys)
        m = (self._table().alias("t")
             .merge(delta_df.alias("s"), cond))
        if action == "upsertInto":
            m = m.whenMatchedUpdateAll().whenNotMatchedInsertAll()
        elif action == "updateOn":
            m = m.whenMatchedUpdateAll()
        elif action == "deleteFrom":
            m = m.whenMatchedDelete()
        elif action == "insertInto":
            # Delta MERGE has no fail-on-match clause; the strict
            # collision probe is a separate (key-pruned) job here —
            # acceptable because Delta's data skipping prunes it to the
            # files holding candidate keys
            n = (self.read().join(delta_df.select(*self.keys),
                                  on=self.keys, how="left_semi").count())
            if n:
                raise StrictInsertError(
                    f"{n} rows collide with existing primary keys")
            m = m.whenNotMatchedInsertAll()
        else:
            raise ValueError(f"unknown action {action!r}")
        if pre_commit is not None:
            pre_commit()
        m.execute()

    def apply_batch(self, ups: DataFrame | None, dels: DataFrame | None,
                    action: str = "upsertInto",
                    order_col: str | None = None,
                    small_delta: bool | None = None,
                    pre_commit=None) -> None:
        """Both sides in ONE Delta MERGE transaction: the sides are
        key-disjoint (engine last-wins routing), so the source carries a
        ``_is_delete`` marker and the matched clauses dispatch on it —
        one target scan/commit per batch, same IO shape as
        merge.compose_merge.  ``pre_commit`` as in :meth:`apply`."""
        from pyspark.sql import functions as F

        if ups is None and dels is None:
            return
        if ups is None:
            return self.apply(dels, action="deleteFrom",
                              pre_commit=pre_commit)
        if dels is None:
            return self.apply(ups, action=action, order_col=order_col,
                              pre_commit=pre_commit)
        if not self.exists():
            self.apply(ups, action=action, order_col=order_col,
                       pre_commit=pre_commit)
            return self.apply(dels, action="deleteFrom")

        if order_col and order_col in ups.columns:
            ups = collapse_last_wins(ups, self.keys, order_col) \
                .drop(order_col)
        else:
            ups = ups.dropDuplicates(self.keys)
        cols = ups.columns
        src = (ups.withColumn("_is_delete", F.lit(False))
               .unionByName(
                   dels.select(*self.keys).dropDuplicates(self.keys)
                   .select(*[F.col(c) if c in self.keys
                             else F.lit(None).cast(ups.schema[c].dataType)
                             .alias(c) for c in cols])
                   .withColumn("_is_delete", F.lit(True))))
        if action == "insertInto":
            n = (self.read().join(
                ups.select(*self.keys), on=self.keys,
                how="left_semi").count())
            if n:
                raise StrictInsertError(
                    f"{n} rows collide with existing primary keys")
        m = (self._table().alias("t")
             .merge(src.alias("s"), merge_condition(self.keys)))
        m = m.whenMatchedDelete(condition="s._is_delete")
        if action in ("upsertInto", "updateOn"):
            m = m.whenMatchedUpdate(
                condition="NOT s._is_delete",
                set={c: f"s.`{c}`" for c in cols})
        if action in ("upsertInto", "insertInto"):
            m = m.whenNotMatchedInsert(
                condition="NOT s._is_delete",
                values={c: f"s.`{c}`" for c in cols})
        if pre_commit is not None:
            pre_commit()
        m.execute()
