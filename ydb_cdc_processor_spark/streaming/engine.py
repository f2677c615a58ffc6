"""Streaming CDC engine (SURVEY.md §2 S1-S3, B1-B3, R1-R2, O1-O2, L1-L2).

The reference wires: topic ``AsyncReader`` → per-partition bounded queues →
writer threads executing batched YQL → deferred offset commit
(CdcReader.java:34-108, YqlWriter.java:117-215).  The Spark-native shape:

- **Source** (S1-S3, B1-B3): ``readStream`` over CDC JSON files (or Kafka
  with the same value format).  Partition→task fan-out, rate limiting
  (``maxFilesPerTrigger``/``maxBytesPerTrigger`` ≙ the 200 MB reader
  buffer + 2×batch queue), and backpressure are source machinery — no code,
  exactly as SURVEY.md §2 S2/B3 prescribes.
- **Micro-batch** (B1): the trigger interval is the batching knob
  (≙ ``batchSize`` flush, YqlQuery.java:71-85).
- **Process** (T1-T3, K1-K5): ``foreachBatch`` → the batch engine's
  decode → last-wins → transform → keyed merge.
- **Reliability** (R1-R2): the merge is retried with the reference's
  backoff formula — ``delay = (25 << min(retry, 8)) + rand(delay)`` ms,
  retrying forever, log level escalating past ``errorThreshold``
  (YqlWriter.java:233-266).  Offsets (the checkpoint) commit only after
  ``foreachBatch`` returns → at-least-once, effectively exactly-once
  because the keyed merge is idempotent (YqlWriter.java:181-206 semantics).
- **Observability** (O1-O2): rows/s throughput + read/write low-watermarks
  (``lastReaded``/``lastWrited``, YqlWriter.java:36-37,156,265), surfaced
  via :meth:`CdcStreamEngine.status` in the shape of ``GET /status``
  (WebController.java:62-83).
"""

from __future__ import annotations

import logging
import random
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ydb_cdc_processor_spark.engine import BatchStats, CdcBatchEngine
from ydb_cdc_processor_spark.plans.pipeline import CdcPipeline
from ydb_cdc_processor_spark.sources import cdc_json

logger = logging.getLogger(__name__)


def retry_forever(fn, *, error_threshold: int = 10, rnd: random.Random | None = None,
                  sleep=time.sleep, max_retries: int | None = None):
    """R1 — the reference's infinite retry with exponential backoff + jitter
    (YqlWriter.java:244-262): ``delay = 25 << min(retry, 8)`` ms plus a
    uniform random extra of the same magnitude; past ``error_threshold``
    the log escalates from trace to warn.  ``max_retries`` exists only so
    tests can bound the loop; production semantics are retry-forever.
    """
    rnd = rnd or random.Random()
    retry = 0
    while True:
        try:
            return fn()
        except Exception as ex:  # noqa: BLE001 — semantic parity: any failure retries
            retry += 1
            if max_retries is not None and retry > max_retries:
                raise
            delay_ms = 25 << min(retry, 8)
            delay_ms += rnd.randrange(delay_ms)
            if retry > error_threshold:
                logger.warning("got error %s; retry #%d in %d ms",
                               ex, retry, delay_ms)
            else:
                logger.debug("got error %s; retry #%d in %d ms",
                             ex, retry, delay_ms)
            sleep(delay_ms / 1000.0)


@dataclass
class StreamStatus:
    """≙ ``ReaderStatus`` (WebController.java:62-83) + the writer
    low-watermarks (YqlWriter.java:36-37)."""

    ok: bool = True
    status: str = "created"
    readed: str | None = None      # last batch receive wall-clock (O2 lastReaded)
    writed: str | None = None      # last successful write wall-clock (O2 lastWrited)
    batches: int = 0
    rows_written: int = 0
    rows_per_sec: float = 0.0      # O1 printDebugStats analogue
    last_error: str | None = None
    totals: BatchStats = field(default_factory=BatchStats)


class CdcStreamEngine:
    """One streaming pipeline: source dir → checkpointed micro-batches →
    materialized view (≙ one CdcReader + YqlWriter pair,
    Application.java:99-100)."""

    def __init__(self, spark: SparkSession, pipeline: CdcPipeline,
                 target_path: str, checkpoint_dir: str,
                 error_threshold: int | None = None,
                 max_retries: int | None = None,
                 n_buckets: int | None = None,
                 agg_views: list | None = None,
                 scd2_views: list | None = None,
                 dlq_path: str | None = None,
                 rebucket_every: int | None = 64,
                 target_bucket_bytes: int = 128 << 20):
        """``agg_views``: AggregateView rollups maintained CONTINUOUSLY
        alongside the row view — the reference's whole purpose is
        continuous view maintenance (YqlWriter.java:163-215); here each
        micro-batch feeds the rollups their ±contribution deltas before
        the row merge.  The streaming batch id is the rollups' replay
        fence (committed with each rollup batch), so checkpoint replay
        after a crash, and R1 retries, stay exactly-once.

        ``rebucket_every``: every N successful batches, run the
        between-batch housekeeping sweep over the target and every
        attached derived store (``CdcBatchEngine.maintain_stores``): the
        target's ``vacuum`` of crash leftovers, its bucket-growth policy
        (SCALING.md: n_buckets ∝ |view|; a flat target is one bucket) —
        a metadata-only size check, and a one-off full rewrite when mean
        bucket size crossed ``target_bucket_bytes × 4`` — and otherwise
        its small-file compaction.  None disables."""
        self.spark = spark
        self.pipeline = pipeline
        # streaming micro-batches are trigger-bounded (B1/B3) → the merge
        # may safely pin the delta broadcast (small_delta=True)
        self.batch_engine = CdcBatchEngine(
            spark, pipeline, target_path, n_buckets=n_buckets,
            small_delta=True, agg_views=agg_views, scd2_views=scd2_views,
            dlq_path=dlq_path, target_bucket_bytes=target_bucket_bytes)
        self.checkpoint_dir = checkpoint_dir
        self.rebucket_every = rebucket_every
        self.target_bucket_bytes = target_bucket_bytes
        self.error_threshold = (pipeline.error_threshold
                                if error_threshold is None else error_threshold)
        self.max_retries = max_retries
        self._status = StreamStatus()
        self._lock = threading.Lock()
        self._query = None

    # -- the foreachBatch body (the writer loop analogue) -------------------

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        t0 = time.perf_counter()
        with self._lock:
            self._status.readed = _now_iso()
            self._status.status = f"processing batch {batch_id}"
        try:
            stats = retry_forever(
                lambda: self.batch_engine.apply_raw_batch(
                    batch_df,
                    batch_token=f"{self.pipeline.name}:{batch_id}"),
                error_threshold=self.error_threshold,
                max_retries=self.max_retries)
        except Exception as ex:
            with self._lock:
                self._status.ok = False
                self._status.status = "error"
                self._status.last_error = repr(ex)
            raise
        if (self.rebucket_every
                and (batch_id + 1) % self.rebucket_every == 0):
            # between-batch maintenance (target sawtooth + derived-store
            # sweep), delegated to the batch engine's shared
            # implementation so the policy lives in ONE place; the
            # stream's target_bucket_bytes is forwarded at construction
            self.batch_engine.maintain_stores()
        dt = max(time.perf_counter() - t0, 1e-9)
        with self._lock:
            s = self._status
            s.ok = True
            s.status = "running"
            s.writed = _now_iso()
            s.batches += 1
            rows = stats.upserted + stats.deleted
            s.rows_written += rows
            s.rows_per_sec = round(rows / dt, 2)
            s.totals.upserted += stats.upserted
            s.totals.deleted += stats.deleted
            s.totals.skipped += stats.skipped
            s.totals.malformed += stats.malformed

    # -- lifecycle (L1/L2) --------------------------------------------------

    def start(self, source_path: str, *, available_now: bool = False,
              processing_time: str = "1 second",
              max_files_per_trigger: int | None = None):
        """Start the stream (≙ reader.init(), Application.java:79-81).

        ``available_now=True`` drains everything then stops — the fixture/
        test mode; otherwise a continuous ``processingTime`` trigger
        (≙ the 1 s idle poll, YqlWriter.java:175-179)."""
        raw = cdc_json.read_cdc_stream(self.spark, source_path,
                                       max_files_per_trigger)
        writer = (raw.writeStream
                  .foreachBatch(self._process_batch)
                  .option("checkpointLocation", self.checkpoint_dir)
                  .queryName(self.pipeline.name))
        if available_now:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=processing_time)
        self._query = writer.start()
        with self._lock:
            self._status.status = "running"
        return self._query

    def run_available(self, source_path: str,
                      max_files_per_trigger: int | None = None) -> StreamStatus:
        """Drain all currently-available input and stop (the reference has
        no direct analogue; used by tests and replay jobs)."""
        q = self.start(source_path, available_now=True,
                       max_files_per_trigger=max_files_per_trigger)
        q.awaitTermination()
        return self.status()

    def stop(self) -> None:
        """L2 — graceful shutdown (Application.java:105-111: writer first,
        then reader; Spark's ``stop`` quiesces the trigger the same way)."""
        if self._query is not None:
            self._query.stop()
            self._query.awaitTermination()
        with self._lock:
            self._status.status = "stopped"

    # -- observability (O1-O3) ----------------------------------------------

    def status(self) -> StreamStatus:
        with self._lock:
            s = self._status
            return StreamStatus(
                ok=s.ok, status=s.status, readed=s.readed, writed=s.writed,
                batches=s.batches, rows_written=s.rows_written,
                rows_per_sec=s.rows_per_sec, last_error=s.last_error,
                totals=BatchStats(
                    upserted=s.totals.upserted, deleted=s.totals.deleted,
                    skipped=s.totals.skipped, malformed=s.totals.malformed))

    def status_dict(self) -> dict:
        """The ``GET /status`` JSON shape (WebController.java:35-38,62-83).
        Reference-parity fields first; when a
        :class:`~ydb_cdc_processor_spark.functions.checksum.ChecksumView`
        rides the engine, an ADDITIVE ``integrity`` field surfaces the
        maintained (n_rows, digest, fmt) — the health question the
        reference's page answers with counts alone, answered with
        content."""
        s = self.status()
        out = {
            "id": self.pipeline.name,
            "ok": s.ok,
            "status": s.status,
            "readed": s.readed,
            "writed": s.writed,
            "batches": s.batches,
            "rowsWritten": s.rows_written,
            "rowsPerSec": s.rows_per_sec,
        }
        from ydb_cdc_processor_spark.functions.checksum import ChecksumView
        derived = []
        for v in getattr(self.batch_engine, "agg_views", []):
            if isinstance(v, ChecksumView) and "integrity" not in out:
                try:
                    out["integrity"] = v.read()
                except (OSError, ValueError) as e:
                    # a digest-format break or an unreadable manifest
                    # must surface AS STATUS — the monitoring endpoint
                    # crashing is the worst possible behavior during
                    # exactly the incident it describes
                    out["integrity"] = {"error": str(e)}
            # inventory every attached derived artifact (rollup,
            # checksum, index, join view, outbound feed adapters) so an
            # operator can SEE what this pipeline maintains — metadata
            # only, no Spark job on the status path.  Feed adapters
            # expose their owning store via the public ``owner``.
            owner = getattr(v, "owner", None) or v
            path = next((getattr(owner, a) for a in ("path", "out_dir")
                         if getattr(owner, a, None) is not None), None)
            row = {"type": type(owner).__name__, "path": path}
            # maintenance-epoch + store stats are manifest JSON
            # reads — the round-12 fence/forfeit state an operator of a
            # multi-shard deployment needs on the status page (still no
            # Spark job on this path)
            store = getattr(owner, "view", None)
            if store is None:
                # rollup-backed stores nest an AggregateView (TopKView's
                # .agg, CmsView's .counts); plain AggregateViews expose
                # store() directly
                inner = (getattr(owner, "agg", None)
                         or getattr(owner, "counts", None) or owner)
                if callable(getattr(inner, "store", None)):
                    try:
                        store = inner.store()
                    except Exception:  # lazy store may need a schema
                        store = None
            ep = getattr(store, "maintenance_epoch", None)
            if callable(ep):
                try:
                    row["maintenanceEpoch"] = ep()
                except OSError:
                    pass
            if callable(getattr(owner, "stats", None)):
                try:
                    row["stats"] = owner.stats()
                except (OSError, ValueError):
                    pass
            derived.append(row)
        if derived:
            out["derivedViews"] = derived
        return out

    def store_stats(self) -> list[dict]:
        """Disk inventory of the pipeline's target view and every
        attached derived store — file counts and bytes by directory
        walk, NO Spark job (the capacity/compaction signal that pairs
        with /status's logical inventory; per-store occupancy detail
        stays on the owners: TextIndex.bucket_stats,
        VectorIndex.cell_stats, NearDupIndex.last_skew)."""
        from ydb_cdc_processor_spark.functions.disk import disk_usage

        def disk(path):
            n, b = disk_usage(path)
            return {"nFiles": n, "bytes": b}

        rows = [{"type": "target", "name": self.pipeline.name,
                 "path": self.batch_engine.target_path,
                 **disk(self.batch_engine.target_path)}]
        for v in (list(getattr(self.batch_engine, "agg_views", []))
                  + list(getattr(self.batch_engine, "scd2_views", []))):
            owner = getattr(v, "owner", None) or v
            path = next((getattr(owner, a) for a in ("path", "out_dir")
                         if getattr(owner, a, None) is not None), None)
            rows.append({"type": type(owner).__name__, "path": path,
                         **disk(path)})
        return rows


def _now_iso() -> str:
    return time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())


class ThroughputListener:
    """O1 — engine-level self-measurement via StreamingQueryListener
    (≙ printDebugStats, YqlWriter.java:217-231: rows written + rows/s,
    reported per progress event instead of per log line).

    Attach with ``spark.streams.addListener(listener)``; inspect
    ``listener.metrics[query_name]``.
    """

    def __new__(cls):
        from pyspark.sql.streaming import StreamingQueryListener

        class _Impl(StreamingQueryListener):
            def __init__(self):
                self.metrics: dict[str, dict] = {}

            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                m = self.metrics.setdefault(p.name or p.id, {
                    "batches": 0, "rows": 0})
                m["batches"] += 1
                m["rows"] += p.numInputRows
                m["rows_per_sec"] = round(p.processedRowsPerSecond or 0.0, 2)
                m["batch_duration_ms"] = p.batchDuration
                m["timestamp"] = p.timestamp

            def onQueryTerminated(self, event):
                pass

            def onQueryIdle(self, event):
                pass

        return _Impl()
