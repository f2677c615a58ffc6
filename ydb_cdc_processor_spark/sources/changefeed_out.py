"""Changefeed OUTPUT — emit a CDC stream FROM a maintained view, so
pipelines CHAIN.

In the reference's world any table — including a view target — can carry
its own changefeed, which is how multi-hop pipelines compose (one app's
sink is the next app's source; `README.md:62-72` creates the feed with
plain DDL).  This engine's parquet views have no server to do that, so
the emitter produces the feed itself: a wire-compatible JSON-lines
changefeed (`{key:[…], update:{…}|erase:{}}` inside the same
``{"value", "_partition", "_offset"}`` raw framing ``cdc_json``
consumes), derived per micro-batch from the engine's pre-merge old-image
feed (the ``agg_views`` protocol — upserts are the batch's new rows,
deletes are old images whose key has no new row).

Delivery matches the reference end to end: AT-LEAST-ONCE with dense
per-partition offsets.  The per-partition offset bases live in the feed
directory's manifest ``<out_dir>/_buckets.json`` (Spark's file source
skips ``_``-prefixed names), committed with the batch token in one
replace after the append.  A crash between the append and that commit
replays the batch with the SAME offsets and content, which the
downstream consumer collapses exactly like any redelivery
(streaming/dedup.py, or simply the keyed idempotent merge).  A
committed batch's replay is skipped by every store's replay rule
(``bucketed_view.skip_replay``), so the steady state emits once.

Everything stays distributed: envelopes serialize via ``to_json`` over
Catalyst expressions (timestamps as UTC ISO micros — the decoder's
``to_timestamp`` round-trips them bit-exact), partitions by key hash,
offsets by a per-partition row_number over a deterministic order; only
the ≤ n_partitions count rows reach the driver to advance the offset
bases.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ydb_cdc_processor_spark.operators.bucketed_view import (
    mutate_manifest, read_manifest, record_token, skip_replay)

_ISO_MICROS = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"


class ChangefeedEmitter:
    """agg_views-protocol sink that appends a wire-format changefeed.

    ``keys``: the view's primary-key columns (envelope ``key`` array
    order).  ``n_partitions``: emitted topic partitions (key-hash
    routed, offsets dense per partition)."""

    def __init__(self, spark: SparkSession, out_dir: str,
                 keys: list[str], n_partitions: int = 4):
        self.spark = spark
        self.out_dir = out_dir
        self.keys = list(keys)
        self.n_partitions = n_partitions

    # -- serialization -------------------------------------------------------

    def _wire_value(self, c: str, dt) -> F.Column:
        if isinstance(dt, T.TimestampType):
            return F.date_format(F.col(c), _ISO_MICROS)
        if isinstance(dt, T.BinaryType):
            return F.base64(F.col(c))
        return F.col(c).cast("string")

    def _envelopes(self, new_rows: DataFrame | None,
                   old_rows: DataFrame | None) -> DataFrame | None:
        """One string column ``env`` of wire envelopes for the batch."""
        key_arr = F.array(*[F.col(k).cast("string") for k in self.keys])
        frames = []
        if new_rows is not None:
            payload = F.map_from_arrays(
                F.array(*[F.lit(f.name) for f in new_rows.schema
                          if f.name not in self.keys]),
                F.array(*[self._wire_value(f.name, f.dataType)
                          for f in new_rows.schema
                          if f.name not in self.keys]))
            frames.append(new_rows.select(F.to_json(F.struct(
                key_arr.alias("key"), payload.alias("update")))
                .alias("env")))
        if old_rows is not None:
            dead = old_rows
            if new_rows is not None:
                dead = dead.join(new_rows.select(*self.keys),
                                 on=self.keys, how="left_anti")
            frames.append(dead.select(F.to_json(F.struct(
                key_arr.alias("key"),
                F.create_map().cast("map<string,string>").alias("erase")))
                .alias("env")))
        if not frames:
            return None
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    # -- the feed ------------------------------------------------------------

    def apply_delta(self, new_rows: DataFrame | None,
                    old_rows: DataFrame | None,
                    batch_token: str | None = None) -> None:
        doc = read_manifest(self.out_dir)
        if skip_replay(doc, batch_token,
                       f"changefeed emitter {self.out_dir}"):
            return
        env = self._envelopes(new_rows, old_rows)
        if env is None:
            return
        # route by KEY, not by envelope content: a key's whole change
        # history must live in ONE partition, or the consumer's
        # per-partition offsets cannot order same-key changes across
        # emitted batches (the reference's topic keying guarantees
        # exactly this).  get_json_object re-reads the key array out of
        # the envelope we just serialized, so routing and content can
        # never disagree.
        part = F.pmod(F.xxhash64(F.get_json_object(F.col("env"), "$.key")),
                      F.lit(self.n_partitions)).cast("int")
        w = Window.partitionBy("_partition").orderBy("env")
        bases = {str(p): int(b) for p, b in doc.get("bases", {}).items()}
        base_map = F.create_map(*[x for p, b in bases.items()
                                  for x in (F.lit(int(p)), F.lit(b))]) \
            if bases else F.create_map().cast("map<int,bigint>")
        framed = (env.withColumn("_partition", part)
                  .withColumn("_offset",
                              F.coalesce(base_map[F.col("_partition")],
                                         F.lit(0))
                              + F.row_number().over(w) - 1)
                  .localCheckpoint(eager=True))  # freeze BEFORE the append
        counts = {int(r["_partition"]): int(r["n"]) for r in
                  framed.groupBy("_partition")
                  .agg(F.count(F.lit(1)).alias("n")).collect()}
        (framed.select(F.to_json(F.struct(
            F.col("env").alias("value"), "_partition", "_offset"))
            .alias("line"))
         .write.mode("append").text(self.out_dir))
        for p, n in counts.items():
            bases[str(p)] = bases.get(str(p), 0) + n

        def commit(d: dict) -> None:
            d["bases"] = bases
            if batch_token is not None:
                record_token(d, batch_token)
        mutate_manifest(self.out_dir, commit)
