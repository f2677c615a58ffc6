"""The three benchmark workloads.

Each workload function takes a :class:`Ctx` and returns a
:class:`Outcome`: end-to-end samples, correctness findings, and the
facts the traced run turns into per-layer metrics.  Everything the
engine sees is generated by :mod:`perfbench.gen` from the seed.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil
import sys
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F
from pyspark.sql import types as T

from ydb_cdc_processor_spark import (CdcBatchEngine, CdcPipeline,
                                     CdcStreamEngine)
from ydb_cdc_processor_spark.engine import run_transform
from ydb_cdc_processor_spark.functions.checksum import ChecksumView
from ydb_cdc_processor_spark.operators.agg_view import AggregateView
from ydb_cdc_processor_spark.operators.decode import decode_cdc
from ydb_cdc_processor_spark.operators.join_view import JoinView
from ydb_cdc_processor_spark.operators.last_wins import (
    collapse_last_wins, split_upsert_delete)
from ydb_cdc_processor_spark.operators.secondary_index import SecondaryIndex
from ydb_cdc_processor_spark.sources import cdc_json

from perfbench import gen
from perfbench.gen import ChangefeedGenerator, Oracle

# -- workload sizes ------------------------------------------------------------

#: backfill: base image plus this many 100k-change rounds, one apply
BACKFILL_ROUNDS = 3
ROUND_CHANGES = 100_000
#: cdc_stream: one file of STREAM_FILE_CHANGES every STREAM_INTERVAL_S;
#: the first STREAM_WARM_S of the landing schedule is not measured
STREAM_FILE_CHANGES = 50
STREAM_INTERVAL_S = 0.1
STREAM_TRIGGER = "250 milliseconds"
STREAM_WARM_S = 4.0
#: ivm_serve: closed loop, batch then IVM_LOOKUPS point reads; the
#: lookup path is warmed with IVM_WARM_LOOKUPS untimed ones in setup
IVM_BATCH = 1000
IVM_LOOKUPS = 12
IVM_WARM_LOOKUPS = 4
IVM_BUCKETS = 64
#: point reads of the row view after the backfill / stream run, after
#: VIEW_WARM_READS untimed ones (the read path warms over its first ~15)
VIEW_READS = 40
VIEW_WARM_READS = 10
#: base builds per run; setup_s reports their median (the first one also
#: pays the JVM's warm-up).  ivm_serve builds once: a rebuild of its view
#: and four stores costs about as much as its measured cycle.
SETUP_REPS = 3

UPDATE_SQL = "SELECT event_id, ts, user_id, event_type, value, props FROM rows"
DELETE_SQL = "SELECT event_id FROM rows"
SOURCE_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType())])
DIM_SCHEMA = T.StructType([
    T.StructField("uid", T.LongType()),
    T.StructField("tier", T.StringType())])


def pipeline() -> CdcPipeline:
    return CdcPipeline(name="events", source_schema=SOURCE_SCHEMA,
                       pk=["event_id"], members=cdc_json.EVENTS_MEMBERS,
                       update_sql=UPDATE_SQL, delete_sql=DELETE_SQL)


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    work: str
    tracer: object = None
    started: float = field(default_factory=time.perf_counter)

    def mark(self, phase: str) -> None:
        """Log a phase boundary with the run's elapsed time (stderr)."""
        print(f"[perfbench] {phase} at +{time.perf_counter() - self.started:.1f}s",
              file=sys.stderr, flush=True)

    def span(self, name: str, **attrs):
        if self.tracer is None:
            return contextlib.nullcontext({"attrs": attrs})
        return self.tracer.span(name, **attrs)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


@dataclass
class Outcome:
    setup_s: float = 0.0
    changes: int = 0              # well-formed envelopes applied
    apply_s: float = 0.0          # their apply wall time
    freshness: list = field(default_factory=list)
    batches: list = field(default_factory=list)
    reads: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    window: tuple = (0.0, 0.0)    # wall-clock bounds of the measured loop
    facts: dict = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.errors.append(what)


# -- shared helpers ----------------------------------------------------------

def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def view_rows(df) -> dict:
    """The row view as ``{event_id: (ts_us, user_id, event_type, value,
    props)}`` — the oracle's shape."""
    tb = df.select("event_id", F.unix_micros("ts").alias("ts"), "user_id",
                   "event_type", "value", "props").toArrow().to_pydict()
    return {k: (ts, u, e, v, p) for k, ts, u, e, v, p in zip(
        tb["event_id"], tb["ts"], tb["user_id"], tb["event_type"],
        tb["value"], tb["props"])}


def check_view(out: Outcome, df, oracle: Oracle, what: str) -> None:
    got = view_rows(df)
    bad = [k for k in set(got) | set(oracle.rows)
           if got.get(k) != oracle.rows.get(k)]
    out.check(not bad, f"{what}: {len(bad)} rows differ from the oracle "
              f"(e.g. key {bad[:1]}: view {got.get(bad[0]) if bad else None}"
              f" vs oracle {oracle.rows.get(bad[0]) if bad else None})")


def view_reads(ctx: Ctx, out: Outcome, eng: CdcBatchEngine, oracle: Oracle,
               g: ChangefeedGenerator) -> None:
    """Point reads of the stored row view by primary key, each checked;
    every read opens the view afresh, as a separate client would."""
    keys = g.hot[(g.rng.zipf(gen.ZIPF_A, VIEW_WARM_READS + VIEW_READS) - 1)
                 % g.base_keys].tolist()
    for k in keys[:VIEW_WARM_READS]:
        eng.read_view().where(F.col("event_id") == k).collect()
    for k in keys[VIEW_WARM_READS:]:
        out.attempted += 1
        with ctx.span("client.read"):
            t = time.perf_counter()
            rows = eng.read_view().where(F.col("event_id") == k).select(
                F.unix_micros("ts").alias("ts"), "user_id", "event_type",
                "value", "props").collect()
            out.reads.append(time.perf_counter() - t)
        want = oracle.rows.get(k)
        out.check([tuple(r) for r in rows] == ([want] if want else []),
                  f"point read of key {k} differs from the oracle")


def force_noop(df) -> float:
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def lazy_layer_times(ctx: Ctx, raw_df, reps: int) -> dict:
    """Cumulative time to force each lazy layer's output on ``raw_df``
    (median of ``reps``): source read, decode, last-wins, transform."""
    spark = ctx.spark
    p = pipeline()
    raw_df = raw_df.localCheckpoint(eager=True) if reps > 1 else raw_df
    stages = {
        "sources": lambda: raw_df,
        "decode": lambda: decode_cdc(raw_df, p.members, p.pk,
                                     keep=["_offset"]),
        "last_wins": lambda: collapse_last_wins(
            decode_cdc(raw_df, p.members, p.pk, keep=["_offset"]), p.pk),
        "transform": lambda: run_transform(
            spark, split_upsert_delete(collapse_last_wins(
                decode_cdc(raw_df, p.members, p.pk, keep=["_offset"]),
                p.pk))[0].drop("_offset"), UPDATE_SQL),
    }
    out = {}
    for name, build in stages.items():
        ts = sorted(force_noop(build()) for _ in range(reps))
        out[name] = ts[len(ts) // 2]
    return out


def disk_usage(path: str) -> tuple[int, int, int]:
    """(data files, bytes, bucket directories) under ``path``."""
    files = size = 0
    buckets = set()
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_tmp"))]
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
                buckets.add(root)
    return files, size, len(buckets)


def timed_builds(build, reps: int) -> tuple[list[float], object]:
    """Run ``build(i)`` ``reps`` times; returns the times and the last
    result."""
    times, last = [], None
    for i in range(reps):
        t = time.perf_counter()
        last = build(i)
        times.append(time.perf_counter() - t)
    return times, last


def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


# -- backfill ------------------------------------------------------------------

def backfill(ctx: Ctx) -> Outcome:
    """INITIAL_SCAN replay: one apply of the base image plus update and
    delete rounds into an empty flat view, repeated for the run."""
    out = Outcome()
    spark = ctx.spark
    t0 = time.perf_counter()
    g = ChangefeedGenerator(ctx.seed)
    changes = g.base()
    for _ in range(BACKFILL_ROUNDS):
        changes += g.changes(ROUND_CHANGES)
    src = ctx.path("backfill.json")
    in_bytes = gen.write_lines(src, changes)
    gen_s = time.perf_counter() - t0
    oracle = Oracle()
    oracle.apply(changes)
    p = pipeline()

    def build(i):
        eng = CdcBatchEngine(spark, p, ctx.path(f"warm{i}"))
        return eng.apply_raw_batch(cdc_json.read_cdc_batch(spark, src))

    ctx.mark("generated")
    times, _ = timed_builds(build, SETUP_REPS)
    out.setup_s = gen_s + median(times)
    ctx.mark("warmed up")

    n = 0
    start = time.time()
    deadline = time.perf_counter() + ctx.seconds
    eng = None
    while n == 0 or time.perf_counter() + out.batches[-1] <= deadline:
        target = ctx.path(f"view{n % 2}")
        shutil.rmtree(target, ignore_errors=True)
        eng = CdcBatchEngine(spark, p, target)
        out.attempted += 1
        with ctx.span("client.batch"):
            t = time.perf_counter()
            try:
                st = eng.apply_raw_batch(cdc_json.read_cdc_batch(spark, src))
            except Exception as ex:  # noqa: BLE001 — counted as a failure
                out.failed += 1
                out.errors.append(f"apply failed: {ex!r}")
                break
            dt = time.perf_counter() - t
        out.batches.append(dt)
        out.freshness.append(dt)
        out.changes += oracle.well_formed
        out.apply_s += dt
        out.check(st.malformed == g.malformed,
                  f"decode.malformed {st.malformed} != generated "
                  f"{g.malformed}")
        out.facts.setdefault("stats", []).append(
            (st.upserted, st.deleted, st.malformed))
        n += 1
    out.window = (start, time.time())
    ctx.mark("measured")
    view = eng.read_view().localCheckpoint(eager=True)
    check_view(out, view, oracle, "backfill view")
    view_reads(ctx, out, eng, oracle, g)
    ctx.mark("checked")
    files, size, _ = disk_usage(eng.target_path)
    out.facts.update(
        envelopes=len(changes), malformed=g.malformed,
        well_formed=oracle.well_formed, input_bytes=in_bytes,
        view_files=files, view_bytes=size, target=eng.target_path,
        final_rows=len(oracle.rows))
    if ctx.tracer is not None:
        out.facts["lazy"] = lazy_layer_times(
            ctx, cdc_json.read_cdc_batch(spark, src), reps=1)
    return out


# -- cdc_stream ----------------------------------------------------------------

class Lander(threading.Thread):
    """Open-loop generator: lands ``files[i]`` as ``<i>.json`` at
    ``start + i * interval`` (write to a staging dir, then an atomic
    rename into the source dir), whether or not the engine keeps up."""

    def __init__(self, files: list[list], src: str, staging: str,
                 start: float, interval: float):
        super().__init__(name="perfbench-lander", daemon=True)
        self.files, self.src, self.staging = files, src, staging
        self.start_at, self.interval = start, interval
        self.due: list[float] = []
        self.landed: list[float] = []
        self.bytes = 0
        self.error: Exception | None = None

    def name_of(self, i: int) -> str:
        return f"{i:06d}.json"

    def run(self) -> None:
        try:
            for i, changes in enumerate(self.files):
                due = self.start_at + i * self.interval
                stage = os.path.join(self.staging, self.name_of(i))
                self.bytes += gen.write_lines(stage, changes)
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                os.rename(stage, os.path.join(self.src, self.name_of(i)))
                self.due.append(due)
                self.landed.append(time.time())
        except OSError as ex:
            self.error = ex


def committed_batches(ckpt: str) -> tuple[dict, dict]:
    """From the checkpoint: ``{file name: batch id}`` (file-source log,
    incremental and compacted entries) and ``{batch id: commit time}``
    (the ``commits/`` markers' mtimes)."""
    file_batch = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        with open(path, encoding="utf-8") as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    file_batch[os.path.basename(e["path"])] = e["batchId"]
    commits = {}
    for path in glob.glob(os.path.join(ckpt, "commits", "[0-9]*")):
        commits[int(os.path.basename(path))] = os.path.getmtime(path)
    return file_batch, commits


def wait_committed(ckpt: str, names: list[str], timeout: float) -> bool:
    end = time.time() + timeout
    while time.time() < end:
        fb, commits = committed_batches(ckpt)
        if all(n in fb and fb[n] in commits for n in names):
            return True
        time.sleep(0.05)
    return False


def backlog_per_trigger(lander: Lander, fb: dict, commits: dict,
                        batch_ids: list[int]) -> list[int]:
    """Files landed but not yet committed, sampled at each commit."""
    batch_of = [fb.get(lander.name_of(i)) for i in range(len(lander.due))]
    out = []
    for b in batch_ids:
        c = commits[b]
        landed = sum(1 for t in lander.landed if t <= c)
        done = sum(1 for x in batch_of if x is not None and x <= b)
        out.append(landed - done)
    return out


def grows(series: list[int]) -> bool:
    """True when the second half's mean clearly exceeds the first's."""
    if len(series) < 4:
        return False
    h = len(series) // 2
    a = sum(series[:h]) / h
    b = sum(series[h:]) / (len(series) - h)
    return b > 1.5 * a + 1


def cdc_stream(ctx: Ctx) -> Outcome:
    """Open loop into a CdcStreamEngine over the flat 100k-row view."""
    out = Outcome()
    spark = ctx.spark
    t0 = time.perf_counter()
    g = ChangefeedGenerator(ctx.seed)
    base = g.base()
    base_file = ctx.path("base.json")
    gen.write_lines(base_file, base)
    # the stream path warms over its first few triggers; files landed in
    # the first STREAM_WARM_S are not measured
    n_warm = int(STREAM_WARM_S / STREAM_INTERVAL_S)
    n_files = int(ctx.seconds / STREAM_INTERVAL_S)
    files = [g.changes(STREAM_FILE_CHANGES) for _ in range(n_warm + n_files)]
    gen_s = time.perf_counter() - t0
    p = pipeline()
    view = ctx.path("view")

    def build(i):
        shutil.rmtree(view, ignore_errors=True)
        CdcBatchEngine(spark, p, view).apply_raw_batch(
            cdc_json.read_cdc_batch(spark, base_file))

    ctx.mark("generated")
    times, _ = timed_builds(build, SETUP_REPS)
    ctx.mark("built")
    src = fresh_dir(ctx.path("src"))
    staging = fresh_dir(ctx.path("staging"))
    ckpt = ctx.path("ckpt")
    shutil.rmtree(ckpt, ignore_errors=True)
    stream = CdcStreamEngine(spark, p, view, ckpt)
    be = stream.batch_engine
    apply_orig = be.apply_raw_batch
    applied = []

    def counted_apply(*a, **kw):
        out.attempted += 1
        began, t = time.time(), time.perf_counter()
        try:
            st = apply_orig(*a, **kw)
        except Exception:
            out.failed += 1
            raise
        applied.append((began, time.perf_counter() - t, st))
        return st

    be.apply_raw_batch = counted_apply
    out.setup_s = gen_s + median(times)
    query = stream.start(src, processing_time=STREAM_TRIGGER)
    try:
        # one schedule: the stream is already busy when the measured
        # files (from n_warm on) start landing
        lander = Lander(files, src, staging, time.time() + 0.05,
                        STREAM_INTERVAL_S)
        lander.start()
        lander.join()
        out.check(lander.error is None, f"lander failed: {lander.error!r}")
        out.check(wait_committed(ckpt, [lander.name_of(i) for i in
                                        range(len(lander.landed))], 120),
                  "stream did not drain the landed files")
        first_due = lander.start_at + n_warm * STREAM_INTERVAL_S
        out.window = (first_due, time.time())
    finally:
        stream.stop()
    ctx.mark("measured")
    oracle = Oracle()
    oracle.apply(base)
    for c in files:
        oracle.apply(c)
    fb, commits = committed_batches(ckpt)
    measured = range(n_warm, len(lander.due))
    batch_ids = sorted({fb[lander.name_of(i)] for i in measured
                        if lander.name_of(i) in fb} & set(commits))
    for i in measured:
        b = fb.get(lander.name_of(i))
        if b in commits:
            out.freshness.append(commits[b] - lander.due[i])
    # batches begun once the measured files were due hold only those
    out.batches = [dt for began, dt, _ in applied if began >= first_due]
    # the achieved rate: changes applied over the wall time from the
    # first measured file's due time to the last commit
    out.changes = sum(1 for c in files[n_warm:] for x in c
                      if x.op != gen.MALFORMED)
    out.apply_s = max(commits[b] for b in batch_ids) - first_due
    malformed = sum(st.malformed for _, _, st in applied)
    out.check(malformed == g.malformed,
              f"decode.malformed {malformed} != generated {g.malformed}")
    view_df = be.read_view().localCheckpoint(eager=True)
    check_view(out, view_df, oracle, "stream view")
    view_reads(ctx, out, be, oracle, g)
    ctx.mark("checked")
    backlog = backlog_per_trigger(lander, fb, commits, batch_ids)
    progress = [json.loads(q.json) for q in query.recentProgress]
    files_n, size, _ = disk_usage(view)
    out.facts.update(
        lateness=[lander.landed[i] - lander.due[i] for i in measured],
        backlog=backlog, backlog_grows=grows(backlog),
        progress=[pr for pr in progress if pr["batchId"] in set(batch_ids)],
        input_bytes=lander.bytes, malformed=malformed,
        envelopes=sum(len(c) for c in files[n_warm:]),
        view_files=files_n, view_bytes=size, target=view,
        measured_batches=len(out.batches))
    if out.facts["backlog_grows"]:
        out.facts["warning"] = ("sources.backlog_files grew over the run: "
                                "the offered rate exceeds the drain rate")
    if ctx.tracer is not None:
        out.facts["lazy"] = lazy_layer_times(
            ctx, spark.createDataFrame(gen.raw_rows(files[-1]),
                                       cdc_json.RAW_SCHEMA), reps=3)
    return out


# -- ivm_serve -----------------------------------------------------------------

def ivm_serve(ctx: Ctx) -> Outcome:
    """Closed loop, one client: a 1000-change batch through the bucketed
    target and four derived stores, then point lookups on the index."""
    out = Outcome()
    spark = ctx.spark
    t0 = time.perf_counter()
    g = ChangefeedGenerator(ctx.seed)
    base = g.base()
    base_file = ctx.path("base.json")
    gen.write_lines(base_file, base)
    gen_s = time.perf_counter() - t0
    p = pipeline()
    dim = spark.createDataFrame(
        [(u, f"tier{u % 7}") for u in range(gen.N_USERS)], DIM_SCHEMA)
    dim = dim.localCheckpoint(eager=True)

    def build(i):
        root = fresh_dir(ctx.path(f"ivm{i}"))
        agg = AggregateView(spark, os.path.join(root, "agg"), ["event_type"],
                            {"total": "value"}, backend="bucketed",
                            n_buckets=8)
        ck = ChecksumView(spark, os.path.join(root, "checksum"),
                          [f.name for f in SOURCE_SCHEMA.fields])
        ix = SecondaryIndex(spark, os.path.join(root, "index"),
                            ["event_id"], "user_id")
        jv = JoinView(spark, os.path.join(root, "join"), ["event_id"],
                      "user_id", "uid", DIM_SCHEMA)
        jv.apply_dim_delta(dim, None)
        eng = CdcBatchEngine(spark, p, os.path.join(root, "view"),
                             n_buckets=IVM_BUCKETS,
                             agg_views=[agg, ck, ix.feed(), jv.fact_feed()])
        eng.apply_raw_batch(cdc_json.read_cdc_batch(spark, base_file),
                            batch_token="events:0")
        return eng, agg, ck, ix, jv

    ctx.mark("generated")
    times, (eng, agg, ck, ix, jv) = timed_builds(build, 1)
    ctx.mark("built")
    oracle = Oracle(index_users=True)
    oracle.apply(base)
    for u in g.users(IVM_WARM_LOOKUPS):
        ix.lookup([u]).collect()
    out.setup_s = gen_s + median(times)
    ctx.mark("warmed up")

    malformed_before = g.malformed
    malformed = 0
    lookups_bad = 0
    last_raw = None
    n = 0
    start = time.time()
    deadline = time.perf_counter() + ctx.seconds
    cycle = 0.0
    # a batch and its lookups form one cycle; start another only if it
    # should end inside the window
    while n == 0 or time.perf_counter() + cycle <= deadline:
        t_cycle = time.perf_counter()
        changes = g.changes(IVM_BATCH)
        raw = spark.createDataFrame(gen.raw_rows(changes),
                                    cdc_json.RAW_SCHEMA)
        users = g.users(IVM_LOOKUPS)
        out.attempted += 1
        with ctx.span("client.batch"):
            t = time.perf_counter()
            try:
                st = eng.apply_raw_batch(raw, batch_token=f"events:{n + 1}")
            except Exception as ex:  # noqa: BLE001 — counted as a failure
                out.failed += 1
                out.errors.append(f"apply failed: {ex!r}")
                break
            dt = time.perf_counter() - t
        out.batches.append(dt)
        out.freshness.append(dt)
        out.apply_s += dt
        oracle.apply(changes)
        out.changes += sum(1 for c in changes if c.op != gen.MALFORMED)
        malformed += st.malformed
        for u in users:
            out.attempted += 1
            with ctx.span("client.lookup"):
                t = time.perf_counter()
                rows = ix.lookup([u]).collect()
                out.reads.append(time.perf_counter() - t)
            if {r["event_id"] for r in rows} != oracle.lookup(u) or \
                    any(r["user_id"] != u for r in rows):
                lookups_bad += 1
        last_raw = raw
        n += 1
        cycle = time.perf_counter() - t_cycle
    out.window = (start, time.time())
    ctx.mark("measured")
    out.check(lookups_bad == 0,
              f"{lookups_bad} lookups differ from the replayed index")
    out.check(malformed == g.malformed - malformed_before,
              f"decode.malformed {malformed} != generated "
              f"{g.malformed - malformed_before}")
    view_df = eng.read_view().localCheckpoint(eager=True)
    check_view(out, view_df, oracle, "ivm row view")
    out.check(agg.recompute_check(view_df), "AggregateView.recompute_check")
    out.check(ck.matches(view_df), "ChecksumView.matches")
    out.check(jv.recompute_check(view_df, dim), "JoinView.recompute_check")
    ctx.mark("checked")
    files_n, size, dirs = disk_usage(eng.target_path)
    out.facts.update(
        malformed=malformed, batches_n=n, lookups_n=len(out.reads),
        envelopes=n * IVM_BATCH + malformed, view_files=files_n,
        view_bytes=size, view_bucket_dirs=dirs, target=eng.target_path,
        index_target=ix.view.path)
    if ctx.tracer is not None and last_raw is not None:
        out.facts["lazy"] = lazy_layer_times(ctx, last_raw, reps=3)
    return out


WORKLOADS = {"backfill": backfill, "cdc_stream": cdc_stream,
             "ivm_serve": ivm_serve}
