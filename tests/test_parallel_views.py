"""Concurrent derived-view maintenance (engine.CdcBatchEngine._fan_out_views):
attached views maintain in up-to-``max_parallel_views`` driver threads.
Pinned here: (1) the parallel result is indistinguishable from the serial
loop, (2) a failing view re-raises but the OTHER views' work survives and
a token-fenced replay converges, (3) the R5 timeout's cancelJobGroup
reaches jobs submitted from worker threads (job-group re-pinning —
Spark job-group properties are thread-local), (4) the target merge runs
inside the fan-out but promotes only after every store returned, and a
failure on either side leaves the target at its pre-batch files."""

import threading
import time

import pytest
from pyspark.sql import functions as F

from ydb_cdc_processor_spark.engine import BatchTimeoutError, CdcBatchEngine
from ydb_cdc_processor_spark.operators.agg_view import AggregateView
from ydb_cdc_processor_spark.plans.pipeline import CdcPipeline
from ydb_cdc_processor_spark.sources import cdc_json
from ydb_cdc_processor_spark.sources.catalog import describe_table


def _events_pipeline(spark, sf_dir, tmp_path, **kw):
    fixture = str(tmp_path / "cdc")
    cdc_json.write_events_cdc_fixture(spark, sf_dir, fixture)
    schema, pk = describe_table(spark, sf_dir, "events")
    p = CdcPipeline(
        name="par_views", source_schema=schema, pk=pk,
        members=cdc_json.EVENTS_MEMBERS,
        update_sql="SELECT event_id, ts, user_id, event_type, value"
                   " FROM rows",
        delete_sql="SELECT event_id FROM rows", **kw).validate(spark)
    return p, fixture


def _mk_views(spark, base):
    return [
        AggregateView(spark, str(base / "by_type"), ["event_type"],
                      {"sum_value": "value"}, count_col="n"),
        AggregateView(spark, str(base / "by_user"), ["user_id"],
                      {"sum_value": "value"}, count_col="n"),
        AggregateView(spark, str(base / "by_both"),
                      ["event_type", "user_id"],
                      {"sum_value": "value"}, count_col="n"),
    ]


def _snap(av):
    return {tuple(r) for r in av.read().collect()}


def test_parallel_views_match_serial(spark, sf_dir, tmp_path):
    """Three independent rollups maintained with max_parallel_views=4
    end up byte-identical to the serial loop (max_parallel_views=1),
    including across an idempotent token-fenced replay."""
    p, fixture = _events_pipeline(spark, sf_dir, tmp_path)
    raw = cdc_json.read_cdc_batch(spark, fixture)

    ser_views = _mk_views(spark, tmp_path / "ser")
    par_views = _mk_views(spark, tmp_path / "par")
    ser = CdcBatchEngine(spark, p, str(tmp_path / "view_s"),
                         agg_views=ser_views, max_parallel_views=1)
    par = CdcBatchEngine(spark, p, str(tmp_path / "view_p"),
                         agg_views=par_views, max_parallel_views=4)

    ser.apply_raw_batch(raw, batch_token="b0")
    par.apply_raw_batch(raw, batch_token="b0")
    for sv, pv in zip(ser_views, par_views):
        assert _snap(sv) == _snap(pv)
        assert sv.recompute_check(ser.read_view())

    # replay: the per-view fences are independent; parallel replay must
    # be a no-op exactly like the serial one
    before = [_snap(v) for v in par_views]
    par.apply_raw_batch(raw, batch_token="b0")
    assert [_snap(v) for v in par_views] == before


def test_parallel_view_failure_replay_converges(spark, sf_dir, tmp_path):
    """One view failing mid-fan-out re-raises (R1 sees the batch fail),
    but sibling views' completed work stands; a replay under the SAME
    token re-applies only the failed view (the siblings fence it out)
    and everything converges to the serial answer."""
    p, fixture = _events_pipeline(spark, sf_dir, tmp_path)
    raw = cdc_json.read_cdc_batch(spark, fixture)

    views = _mk_views(spark, tmp_path / "v")
    flaky = views[1]
    real_apply = flaky.apply_delta
    calls = {"n": 0}

    def flaky_apply(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected view failure")
        return real_apply(*a, **kw)

    flaky.apply_delta = flaky_apply
    eng = CdcBatchEngine(spark, p, str(tmp_path / "view"),
                         agg_views=views, max_parallel_views=4)
    with pytest.raises(RuntimeError, match="injected view failure"):
        eng.apply_raw_batch(raw, batch_token="b0")

    # R1 replay of the same batch: converged, no double counting anywhere
    eng.apply_raw_batch(raw, batch_token="b0")
    for v in views:
        assert v.recompute_check(eng.read_view())


def test_multiple_view_failures_all_surface(spark, sf_dir, tmp_path,
                                            caplog):
    """When SEVERAL views fail in one fan-out, the first error drives
    the R1 retry and the others are logged — never silently dropped."""
    import logging

    class Boom:
        def __init__(self, msg):
            self.msg = msg

        def apply_delta(self, new_rows=None, old_rows=None,
                        batch_token=None):
            raise RuntimeError(self.msg)

    p, fixture = _events_pipeline(spark, sf_dir, tmp_path)
    raw = cdc_json.read_cdc_batch(spark, fixture)
    eng = CdcBatchEngine(spark, p, str(tmp_path / "view"),
                         agg_views=[Boom("boom-a"), Boom("boom-b")],
                         max_parallel_views=4)
    with caplog.at_level(logging.ERROR,
                         logger="ydb_cdc_processor_spark.engine"):
        with pytest.raises(RuntimeError, match="boom-"):
            eng.apply_raw_batch(raw, batch_token="b0")
    assert any("boom-" in r.message for r in caplog.records)


def test_timeout_cancels_parallel_view_jobs(spark, sf_dir, tmp_path):
    """R5 through the fan-out: jobs submitted from view-maintenance
    worker threads must carry the batch's job group, or the timeout's
    cancelJobGroup misses them and the batch overruns its budget.  Two
    slow views (30 s each, uncancelled) under timeoutSeconds=2 must
    surface BatchTimeoutError well before either could finish — and so
    must a slow target merge on the fan-out's target worker."""

    class SlowView:
        def __init__(self, s):
            self.spark = s

        def apply_delta(self, new_rows=None, old_rows=None,
                        batch_token=None):
            slow = F.udf(lambda x: (time.sleep(30), x)[1], "long")
            (self.spark.range(4, numPartitions=4)
             .select(slow("id").alias("v")).agg(F.sum("v")).collect())

    p, fixture = _events_pipeline(spark, sf_dir, tmp_path,
                                  timeout_seconds=2)
    raw = cdc_json.read_cdc_batch(spark, fixture)
    eng = CdcBatchEngine(spark, p, str(tmp_path / "view"),
                         agg_views=[SlowView(spark), SlowView(spark)],
                         max_parallel_views=4)
    t0 = time.perf_counter()
    with pytest.raises(BatchTimeoutError):
        eng.apply_raw_batch(raw, batch_token="b0")
    assert time.perf_counter() - t0 < 25  # cancelled, not slept out
    assert spark.range(3).count() == 3  # session healthy after cancel

    # the target's merge runs on its own fan-out worker: a slow target
    # job must carry the batch's job group too
    class QuickView:
        def apply_delta(self, new_rows=None, old_rows=None,
                        batch_token=None):
            pass

    eng = CdcBatchEngine(spark, p, str(tmp_path / "view_t"),
                         agg_views=[QuickView()], max_parallel_views=4)
    mv = eng._target(None)
    real = mv.apply_batch

    def slow_apply_batch(*a, **kw):
        slow = F.udf(lambda x: (time.sleep(30), x)[1], "long")
        (spark.range(4, numPartitions=4)
         .select(slow("id").alias("v")).agg(F.sum("v")).collect())
        return real(*a, **kw)
    mv.apply_batch = slow_apply_batch
    t0 = time.perf_counter()
    with pytest.raises(BatchTimeoutError):
        eng.apply_raw_batch(raw, batch_token="b0")
    assert time.perf_counter() - t0 < 25
    assert not mv.exists()  # cancelled before anything promoted
    assert spark.range(3).count() == 3


# -- the target merge inside the fan-out, promoted last ----------------------

def _raw_lines(spark, envs):
    import json
    return spark.createDataFrame(
        [(i, json.dumps(e)) for i, e in enumerate(envs)],
        "_offset long, value string")


def _up(eid, et, v):
    return {"key": [eid],
            "update": {"ts": "2024-01-01T00:00:00Z", "user_id": eid % 3,
                       "event_type": et, "value": v}}


def _small_pipeline(spark, sf_dir, **kw):
    schema, pk = describe_table(spark, sf_dir, "events")
    return CdcPipeline(
        name="par_target", source_schema=schema, pk=pk,
        members=cdc_json.EVENTS_MEMBERS,
        update_sql="SELECT event_id, ts, user_id, event_type, value"
                   " FROM rows",
        delete_sql="SELECT event_id FROM rows", **kw).validate(spark)


def _stores(spark, base):
    from ydb_cdc_processor_spark.functions.checksum import ChecksumView
    return [AggregateView(spark, str(base / "by_type"), ["event_type"],
                          {"sum_value": "value"}, count_col="n"),
            ChecksumView(spark, str(base / "ck"),
                         ["event_id", "ts", "user_id", "event_type",
                          "value"])]


def _converged(eng, stores):
    view = eng.read_view()
    agg, ck = stores
    return agg.recompute_check(view) and ck.matches(view)


def _files(path):
    import os
    out = {}
    for root, _, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = fh.read()
    return out


def _tmp_siblings(path):
    import os
    base = os.path.basename(path)
    return [e for e in os.listdir(os.path.dirname(path))
            if e.startswith(f".{base}.")]


def _wrap_pre_commit(mv, wrap):
    """Route the engine's ``pre_commit`` for ``mv`` through
    ``wrap(pre_commit)``."""
    real = mv.apply_batch

    def apply_batch(*a, pre_commit=None, **kw):
        return real(*a, pre_commit=wrap(pre_commit), **kw)
    mv.apply_batch = apply_batch
    return real


BOOT = [_up(i, "ab"[i % 2], float(i)) for i in range(40)]
BATCH = ([_up(i, "c", 100.0 + i) for i in range(0, 40, 3)]
         + [{"key": [i], "erase": {}} for i in range(1, 40, 7)]
         + [_up(i, "d", 1.0) for i in range(40, 50)])


def test_store_failure_while_target_staged_leaves_target_untouched(
        spark, sf_dir, tmp_path):
    """Case 1: a store raises while the target's merge is staged (temp
    output written, promotion held by pre_commit).  The target's live
    files stay byte-identical, no temp sibling is left, and a replay
    under the same token converges every store."""
    p = _small_pipeline(spark, sf_dir)
    stores = _stores(spark, tmp_path)
    eng = CdcBatchEngine(spark, p, str(tmp_path / "view"), n_buckets=8,
                         agg_views=stores)
    eng.apply_raw_batch(_raw_lines(spark, BOOT), batch_token="t:0")
    mv = eng._target(None)
    before = _files(mv.path)

    staged = threading.Event()

    def wrap(pre_commit):
        def hook():
            staged.set()
            pre_commit()
        return hook
    real = _wrap_pre_commit(mv, wrap)
    ck = stores[1]
    real_ck = ck.apply_delta

    def failing_ck(*a, **kw):
        assert staged.wait(120), "target never reached pre_commit"
        raise RuntimeError("injected store failure")
    ck.apply_delta = failing_ck
    with pytest.raises(RuntimeError, match="injected store failure"):
        eng.apply_raw_batch(_raw_lines(spark, BATCH), batch_token="t:1")
    assert staged.is_set()
    assert _files(mv.path) == before
    assert _tmp_siblings(mv.path) == []

    ck.apply_delta = real_ck
    mv.apply_batch = real
    eng.apply_raw_batch(_raw_lines(spark, BATCH), batch_token="t:1")
    assert _files(mv.path) != before
    assert _converged(eng, stores)


def test_target_failure_after_stores_applied_replay_converges(
        spark, sf_dir, tmp_path):
    """Case 2: the target write raises after every store applied (the
    failure is injected after pre_commit returned).  The target stays
    at its pre-batch files, so the replay reads the same old images;
    the stores fence the replay out and everything converges."""
    p = _small_pipeline(spark, sf_dir)
    stores = _stores(spark, tmp_path)
    eng = CdcBatchEngine(spark, p, str(tmp_path / "view"), n_buckets=8,
                         agg_views=stores)
    eng.apply_raw_batch(_raw_lines(spark, BOOT), batch_token="t:0")
    mv = eng._target(None)
    before = _files(mv.path)

    def wrap(pre_commit):
        def hook():
            pre_commit()
            raise RuntimeError("injected target failure")
        return hook
    real = _wrap_pre_commit(mv, wrap)
    with pytest.raises(RuntimeError, match="injected target failure"):
        eng.apply_raw_batch(_raw_lines(spark, BATCH), batch_token="t:1")
    assert _files(mv.path) == before
    assert _tmp_siblings(mv.path) == []
    # the stores did apply the batch: the view is now behind them
    assert not _converged(eng, stores)

    mv.apply_batch = real
    eng.apply_raw_batch(_raw_lines(spark, BATCH), batch_token="t:1")
    assert _converged(eng, stores)


def test_strict_insert_collision_leaves_view_and_stores_untouched(
        spark, sf_dir, tmp_path):
    """Case 3: an insertInto batch that collides with a live key raises
    StrictInsertError before any store or target bucket changes, on
    every replay of it; the stores keep matching the view."""
    from ydb_cdc_processor_spark.operators.merge import StrictInsertError
    from ydb_cdc_processor_spark.plans.pipeline import ActionMode

    p = _small_pipeline(spark, sf_dir, action_mode=ActionMode.INSERT,
                        action_table="events_mv")
    stores = _stores(spark, tmp_path)
    eng = CdcBatchEngine(spark, p, str(tmp_path / "view"), n_buckets=8,
                         agg_views=stores)
    eng.apply_raw_batch(_raw_lines(spark, BOOT), batch_token="t:0")
    mv = eng._target(None)
    before = _files(mv.path)
    clash = [_up(5, "z", 9.0)] + [_up(i, "d", 1.0) for i in range(40, 45)]
    for _ in range(2):  # the batch and its replay
        with pytest.raises(StrictInsertError):
            eng.apply_raw_batch(_raw_lines(spark, clash),
                                batch_token="t:1")
        assert _files(mv.path) == before
        assert _tmp_siblings(mv.path) == []
        assert _converged(eng, stores)


@pytest.mark.parametrize("n_buckets", [8, None], ids=["bucketed", "flat"])
def test_target_promotes_after_every_store_returned(
        spark, sf_dir, tmp_path, monkeypatch, n_buckets):
    """No target file move (bucketed) or manifest commit (both
    layouts) happens before every derived store has returned — while
    the target's merge did start before the slowest store returned."""
    import itertools
    import os

    from ydb_cdc_processor_spark import storage

    p = _small_pipeline(spark, sf_dir)
    stores = _stores(spark, tmp_path)
    eng = CdcBatchEngine(spark, p, str(tmp_path / "view"),
                         n_buckets=n_buckets, agg_views=stores)
    eng.apply_raw_batch(_raw_lines(spark, BOOT), batch_token="t:0")
    mv = eng._target(None)

    seq = itertools.count()
    lock = threading.Lock()
    events: list[tuple[int, str]] = []

    def log(what):
        with lock:
            events.append((next(seq), what))

    for i, st in enumerate(stores):
        def returning(*a, _real=st.apply_delta, _slow=(i == 0), **kw):
            out = _real(*a, **kw)
            if _slow:
                time.sleep(3)
            log("store returned")
            return out
        st.apply_delta = returning
    real_apply = mv.apply_batch

    def apply_batch(*a, **kw):
        log("target started")
        return real_apply(*a, **kw)
    mv.apply_batch = apply_batch
    view = os.path.abspath(mv.path)

    def promoting(real):
        def write(src_or_path, dst_or_text):
            dst = dst_or_text if real is storage.rename else src_or_path
            if os.path.abspath(dst).startswith(view + os.sep):
                log("target promoted")
            return real(src_or_path, dst_or_text)
        return write
    real_rename, real_replace = storage.rename, storage.replace_text
    monkeypatch.setattr(storage, "rename", promoting(real_rename))
    monkeypatch.setattr(storage, "replace_text", promoting(real_replace))

    eng.apply_raw_batch(_raw_lines(spark, BATCH), batch_token="t:1")
    order = [what for _, what in sorted(events)]
    assert order.count("store returned") == len(stores)
    assert "target promoted" in order
    last_store = max(i for i, w in enumerate(order) if w == "store returned")
    first_promote = order.index("target promoted")
    assert first_promote > last_store
    assert order.index("target started") < last_store
    monkeypatch.setattr(storage, "rename", real_rename)
    monkeypatch.setattr(storage, "replace_text", real_replace)
    assert _converged(eng, stores)


def test_batch_stats_details_carry_phase_times(spark, sf_dir, tmp_path):
    """BatchStats.details names every phase of a batch: wall times for
    decode, old images, fan-out, target write and the wait before
    promotion, which old-image read ran, and the touched buckets."""
    p = _small_pipeline(spark, sf_dir)
    stores = _stores(spark, tmp_path)
    eng = CdcBatchEngine(spark, p, str(tmp_path / "view"), n_buckets=8,
                         agg_views=stores)
    first = eng.apply_raw_batch(_raw_lines(spark, BOOT), batch_token="t:0")
    st = eng.apply_raw_batch(_raw_lines(spark, BATCH), batch_token="t:1")
    keys = {"decode_s", "old_image_s", "old_image_read", "fan_out_s",
            "target_write_s", "promote_wait_s", "touched_buckets"}
    assert keys <= set(st.details) and keys <= set(first.details)
    assert first.details["old_image_read"] == "none"  # no target yet
    assert st.details["old_image_read"] == "driver"
    assert 0 < st.details["touched_buckets"] <= 8
    for k in keys - {"old_image_read", "touched_buckets"}:
        assert isinstance(st.details[k], float) and st.details[k] >= 0
    assert st.details["decode_s"] > 0 and st.details["fan_out_s"] > 0
    assert st.details["target_write_s"] > 0

    flat = CdcBatchEngine(spark, p, str(tmp_path / "flat"))
    st = flat.apply_raw_batch(_raw_lines(spark, BOOT))
    assert keys <= set(st.details)
    assert st.details["old_image_read"] == "none"
    assert st.details["touched_buckets"] == 0
    assert st.details["fan_out_s"] == 0.0
    assert st.details["target_write_s"] > 0


def test_fan_out_pre_commit_stress(spark, sf_dir, tmp_path):
    """Many more workers than cores, a short switch interval, random
    store durations and failures: the target's pre_commit returns only
    after every store returned, raises exactly when a store failed, and
    the fan-out re-raises a store's error before the target's."""
    import random
    import sys

    p = _small_pipeline(spark, sf_dir)
    eng = CdcBatchEngine(spark, p, str(tmp_path / "view"),
                         max_parallel_views=12)
    rnd = random.Random(7)
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for _ in range(40):
            fail = rnd.random() < 0.3
            naps = [rnd.random() / 200 for _ in range(16)]
            done: list[int] = []
            seen: list[tuple] = []

            def store(i):
                time.sleep(naps[i])
                done.append(i)
                if fail and i == 5:
                    raise RuntimeError("store 5")

            def write_target(pre_commit):
                time.sleep(rnd.random() / 400)
                try:
                    pre_commit()
                except RuntimeError as e:
                    seen.append(("refused", len(done), str(e)))
                    raise
                seen.append(("promoted", len(done), None))

            if fail:
                with pytest.raises(RuntimeError, match="store 5"):
                    eng._fan_out_views(list(range(16)), store,
                                       write_target=write_target)
                assert seen and seen[0][0] == "refused"
            else:
                eng._fan_out_views(list(range(16)), store,
                                   write_target=write_target)
                assert seen == [("promoted", 16, None)]
            assert len(done) == 16
    finally:
        sys.setswitchinterval(old)


@pytest.mark.parametrize("n_buckets", [8, None], ids=["bucketed", "flat"])
def test_pipeline_with_neither_query_skips_every_message(
        spark, sf_dir, tmp_path, n_buckets):
    """With neither an update nor a delete query configured every
    message is skipped: the batch counts them, and neither the target
    nor any store is ever written — on a replay too."""
    import os
    schema, pk = describe_table(spark, sf_dir, "events")
    p = CdcPipeline(name="par_none", source_schema=schema, pk=pk,
                    members=cdc_json.EVENTS_MEMBERS).validate(spark)
    stores = _stores(spark, tmp_path)
    eng = CdcBatchEngine(spark, p, str(tmp_path / "view"),
                         n_buckets=n_buckets, agg_views=stores)
    raw = _raw_lines(spark, BOOT + BATCH)
    for _ in range(2):
        stats = eng.apply_raw_batch(raw, batch_token="none:0")
        assert (stats.upserted, stats.deleted) == (0, 0)
        assert stats.skipped == len(BOOT) + len(BATCH)
    assert not os.path.exists(tmp_path / "view")
    assert not os.path.exists(tmp_path / "by_type")
    assert not os.path.exists(tmp_path / "ck")


def test_aborted_store_submission_refuses_target(
        spark, sf_dir, tmp_path, monkeypatch):
    """A store submission that raises (executor shut down, interrupt)
    after the target was submitted: the target's pre_commit refuses, so
    it never promotes beside stores that did not run."""
    from concurrent.futures import ThreadPoolExecutor

    eng = CdcBatchEngine(spark, _small_pipeline(spark, sf_dir),
                         str(tmp_path / "view"))
    real = ThreadPoolExecutor.submit
    calls: list[int] = []

    def submit(self, fn, *a, **kw):
        calls.append(1)
        if len(calls) == 3:  # the target and one store went through
            raise RuntimeError("cannot schedule new futures")
        return real(self, fn, *a, **kw)

    seen: list[str] = []

    def write_target(pre_commit):
        try:
            pre_commit()
        except RuntimeError:
            seen.append("refused")
            raise
        seen.append("promoted")

    monkeypatch.setattr(ThreadPoolExecutor, "submit", submit)
    with pytest.raises(RuntimeError, match="cannot schedule"):
        eng._fan_out_views([0, 1, 2], lambda v: None,
                           write_target=write_target)
    assert seen == ["refused"]
