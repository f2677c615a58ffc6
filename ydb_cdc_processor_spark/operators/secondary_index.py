"""CDC-maintained SECONDARY INDEX — point lookups by a non-key column
without scanning the fact store.

The reference's target tables are served by YDB, whose server maintains
secondary indexes for them; this engine's parquet-backed views have no
server, so "find all orders of customer X" is a full scan unless the
engine maintains the index itself.  This class is that index: a
persistent mapping ``indexed column value → fact pk`` kept current from
the same pre-merge old-image feed that powers AggregateView /
ChecksumView / JoinView (``agg_views`` protocol), so one
:class:`~ydb_cdc_processor_spark.engine.CdcBatchEngine` drives the row
view and its indexes in lockstep.

Layout: a :class:`~ydb_cdc_processor_spark.operators.bucketed_view.
BucketedMaterializedView` keyed ``(_ixv, *pk)`` and CO-LOCATED on
``_ixv`` — the null-safe string image of the indexed value
(operators/ivm_feed.py; SQL join equality never matches NULL).  A
lookup therefore reads ONLY the probed values' buckets — O(touched),
never O(|fact|) — and maintenance per batch touches only the batch's
old+new values' buckets, both sides of a batch in ONE fused
read-merge-rewrite pass.

A lookup that misses every stored bucket (value not in the index)
types its empty result from the store manifest's stored schema minus
``_ixv`` instead of guessing.

Serving runs no Spark job when the indexed column is integral, string or
boolean — the reference's keyed point read, answered by the YDB server
without a job.  The driver renders each probe exactly as Spark's
cast-to-string (NULL as ``NULL_KEY``), routes it with a Spark-exact
``pmod(xxhash64(_ixv), n)`` (functions/spark_hash.py), and reads the
probed buckets' files with pyarrow into a local relation
(``BucketedMaterializedView.read_touched(where=...)``).  Other column
types render through Spark as before.  The read goes through Spark when
the touched files exceed ``spark.sql.autoBroadcastJoinThreshold`` (the
bound Spark already uses for "small enough for the driver"), when the
store predates the manifest's stored schema, or when a stored column is
nested.  Both paths return the same rows and schema.

Maintenance is delete-stale + upsert (idempotent keyed ops), so R1
retries and checkpoint replays converge without a token fence.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ydb_cdc_processor_spark.functions.spark_hash import (
    bucket_of, cast_to_string)
from ydb_cdc_processor_spark.operators.bucketed_view import (
    BUCKET_COL, BucketedMaterializedView)
from ydb_cdc_processor_spark.operators.ivm_feed import (
    NULL_KEY, Feed, null_safe_key, stale_keys)

logger = logging.getLogger(__name__)

IXV = "_ixv"  # null-safe string image of the indexed value — merge key


class SecondaryIndex:
    """Persistent value→pk index over one fact column.

    ``pk``: the fact table's primary-key columns.  ``col``: the indexed
    column.  The index stores ``(col, *pk)`` rows (the raw value kept as
    a data column for range/filter pushdown on reads)."""

    def __init__(self, spark: SparkSession, path: str,
                 pk: list[str], col: str, n_buckets: int = 16):
        if col in pk:
            raise ValueError("indexing a pk column is a no-op by design")
        self.spark = spark
        self.path = path
        self.pk = list(pk)
        self.col = col
        self.view = BucketedMaterializedView(
            spark, os.path.join(path, "entries"),
            keys=[IXV] + list(pk), bucket_keys=[IXV],
            n_buckets=n_buckets)

    def feed(self) -> Feed:
        """Adapter for the fact engine's ``agg_views`` list."""
        return Feed(self.apply_delta)

    def _ixv(self) -> F.Column:
        return null_safe_key(self.col, IXV)

    def _entry_schema(self) -> T.StructType | None:
        """The ``(col, *pk)`` entry schema: the manifest's stored schema
        minus ``_ixv`` (None on a store without one)."""
        stored = self.view._stored_schema()
        return None if stored is None else T.StructType(
            [f for f in stored.fields if f.name != IXV])

    # -- maintenance ---------------------------------------------------------

    def apply_delta(self, new_rows: DataFrame | None,
                    old_rows: DataFrame | None,
                    batch_token: str | None = None) -> None:
        """One micro-batch: ``new_rows`` = upserted fact rows (None for
        a delete-only batch), ``old_rows`` = pre-merge fact images of
        every touched key (None before the fact view exists).  Stale
        entries — deleted pks, or pks whose indexed value CHANGED — are
        deleted by their OLD value's key; current entries upsert; both
        sides ride ONE fused touched-bucket pass.  Cost ∝ touched
        values' buckets."""
        if new_rows is None and old_rows is None:
            return
        stale = None
        # bootstrap guard: old images can arrive on the very first batch
        # (fact view predating the index) — nothing stored means nothing
        # stale, and a deleteFrom on the absent store would refuse
        if old_rows is not None and self.view.exists():
            # lazy stale frame into the fused pass (no checkpoint +
            # isEmpty probe jobs): an empty delete side composes to a
            # no-op with the identical touched set — see
            # text_index.apply_delta
            stale = stale_keys(old_rows, new_rows, self.pk,
                               self.col, IXV)
        ups = None
        if new_rows is not None:
            ups = new_rows.select(self._ixv(), self.col, *self.pk)
        self.view.apply_batch(ups, stale)

    # -- serving -------------------------------------------------------------

    def _probe_frame(self, values: list) -> DataFrame:
        """Probe values rendered EXACTLY as the stored key images: the
        non-null values go through the same Spark cast-to-string the
        maintenance path used (Python ``str()`` disagrees with it for
        booleans, large doubles, timestamps — a str()-built probe would
        silently miss stored rows)."""
        schema = self._entry_schema()
        col_type = schema[self.col].dataType if schema is not None else None
        non_null = [v for v in values if v is not None]
        frames = []
        if non_null:
            if col_type is not None:
                typed = self.spark.createDataFrame(
                    [(v,) for v in non_null],
                    T.StructType([T.StructField(self.col, col_type)]))
            else:  # pre-schema legacy store: infer from the probes
                typed = self.spark.createDataFrame(
                    [(v,) for v in non_null], [self.col])
            frames.append(typed.select(self._ixv()))
        if len(non_null) < len(values):
            frames.append(self.spark.createDataFrame(
                [(NULL_KEY,)],
                T.StructType([T.StructField(IXV, T.StringType())])))
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out.distinct()

    def _probe_keys(self, values: list) -> list[str] | None:
        """The probes' stored key images rendered on the driver, or None
        when the rendering or the routing is not proven for this store
        (then :meth:`_probe_frame` renders them through Spark).  Proven:
        an entry-schema column of integral, string or boolean type
        (functions/spark_hash.cast_to_string), NULL as ``NULL_KEY``, and
        a store bucketed on ``_ixv`` alone, whose bucket is then
        ``pmod(xxhash64(key), n)`` of one string."""
        schema = self._entry_schema()
        if schema is None or self.view.bucket_keys != [IXV]:
            return None
        col_type = schema[self.col].dataType
        keys = set()
        for v in values:
            k = NULL_KEY if v is None else cast_to_string(v, col_type)
            if k is None:
                return None
            keys.add(k)
        return sorted(keys)

    def _probe(self, values: list) -> list[str] | DataFrame:
        keys = self._probe_keys(values)
        return keys if keys is not None else self._probe_frame(values)

    def touched_buckets(self, values: list, _probe=None) -> list[int]:
        """The store buckets a :meth:`lookup` of ``values`` actually
        reads — the serving path's EXACT pruning (recover first, then
        drop buckets the manifest does not name: they hold nothing).
        Public so observability/bench tooling measures what serving
        does, not a private re-implementation.

        The layout is re-read BEFORE hashing: another handle's rebucket
        may have changed n_buckets / bucket_keys, and
        :meth:`BucketedMaterializedView.recover` refreshes them.  Driver-
        rendered probes (see :meth:`_probe_keys`) are routed on the
        driver; the rest through one Spark job."""
        self.view.recover()
        probe = self._probe(values) if _probe is None else _probe
        if isinstance(probe, DataFrame):
            buckets = {r[0] for r in probe.select(
                self.view.bucket_expr().alias("_b")).distinct().collect()}
        else:
            buckets = {bucket_of(k, self.view.n_buckets) for k in probe}
        live = set(self.view.bucket_ids())
        return [b for b in sorted(buckets) if b in live]

    def lookup(self, values: list) -> DataFrame:
        """All ``(col, *pk)`` entries for the probed values, reading
        ONLY their buckets (O(touched) directory listings).  ``values``
        is a bounded probe list (the point-lookup shape); use
        :meth:`read` for full scans/joins.  A miss — including probes
        whose bucket was never written — is an EMPTY result typed from
        the manifest's stored schema, never a crash.

        Probes of an integral, string or boolean column run no Spark
        job: the driver renders and routes them (:meth:`_probe_keys`)
        and reads the probed buckets with pyarrow
        (``read_touched(where=...)``), unless those files exceed
        ``spark.sql.autoBroadcastJoinThreshold``."""
        if not self.view.exists():
            raise FileNotFoundError(
                f"secondary index at {self.view.path} was never built")
        probe = self._probe(values)
        present = self.touched_buckets(values, _probe=probe)
        if not present:
            schema = self._entry_schema()
            if schema is None:
                raise FileNotFoundError(
                    f"secondary index at {self.view.path} has no stored "
                    "schema; re-apply a batch to heal")
            # from an empty Arrow table, not ``[]``: a local relation,
            # where ``createDataFrame([], schema)`` scans an RDD (1 job)
            from pyspark.sql.pandas.types import to_arrow_schema
            return self.spark.createDataFrame(
                to_arrow_schema(schema).empty_table(), schema)
        if isinstance(probe, DataFrame):
            rows = self.view.read_touched(present).drop(BUCKET_COL)
            return (rows.join(F.broadcast(probe), on=IXV, how="left_semi")
                    .drop(IXV))
        return (self.view.read_touched(present, where=(IXV, probe))
                .drop(BUCKET_COL, IXV))

    def read(self) -> DataFrame:
        """The full index relation ``(col, *pk)``."""
        return self.view.read().drop(BUCKET_COL, IXV)

    def maintain(self) -> None:
        """Between-batch housekeeping on the backing store — the
        rebucket/compact sawtooth (engines reach this through
        ``maintain_derived_stores``; hand-driven loops call it at their
        own cadence)."""
        self.view.maintain()
