"""Incremental aggregate-view maintenance (operators/agg_view.py):
after any mix of insert/update/delete batches, the incrementally-kept
rollup equals a full recompute over the final row state."""

import pytest
from pyspark.sql import functions as F

from ydb_cdc_processor_spark.operators.agg_view import AggregateView
from ydb_cdc_processor_spark.operators.merge import (
    ParquetMaterializedView, merge_delete, merge_upsert)
from ydb_cdc_processor_spark.sources.catalog import load_table


@pytest.mark.parametrize("backend", ["flat", "bucketed"])
def test_agg_view_tracks_row_view(spark, sf_dir, tmp_path, backend):
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice")
    key = ["o_orderkey"]
    av = AggregateView(spark, str(tmp_path / "agg"), ["o_custkey"],
                       {"sum_price": "o_totalprice"}, count_col="n_orders",
                       backend=backend, n_buckets=8)

    # batch 1: initial load (no old images)
    state = orders
    av.apply_delta(new_rows=orders, old_rows=None)
    assert av.recompute_check(state)

    # batch 2: update 10% (price x1.1) + insert ghosts with NEW custkeys
    upd = (orders.where(F.col("o_orderkey") % 10 == 0)
           .withColumn("o_totalprice", F.col("o_totalprice") * 1.1))
    ghosts = spark.createDataFrame(
        [(10_000_000 + i, 99_000 + i, 100.0 * (i + 1)) for i in range(5)],
        schema=orders.schema)
    ups = upd.unionByName(ghosts)
    old = state.join(ups.select(*key), on=key, how="left_semi")
    av.apply_delta(new_rows=ups, old_rows=old)
    state = merge_upsert(state, ups, key)
    assert av.recompute_check(state)

    # batch 3: delete every 7th key (incl. some updated ones) — groups
    # that empty out must VANISH from the view
    del_keys = state.where(F.col("o_orderkey") % 7 == 0).select(*key)
    old = state.join(del_keys, on=key, how="left_semi")
    av.apply_delta(new_rows=None, old_rows=old)
    state = merge_delete(state, del_keys, key)
    assert av.recompute_check(state)

    # a ghost custkey with its only order deleted is GONE
    n_ghost_groups = av.read().where(F.col("o_custkey") >= 99_000).count()
    expect_ghosts = state.where(F.col("o_custkey") >= 99_000) \
        .select("o_custkey").distinct().count()
    assert n_ghost_groups == expect_ghosts

    # read() surfaces doubles matching a plain recompute
    got = {r.o_custkey: (r.n_orders, round(r.sum_price, 4))
           for r in av.read().collect()}
    exp = {r.o_custkey: (r.n, round(r.s, 4)) for r in
           state.groupBy("o_custkey")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
                 .cast("double").alias("s")).collect()}
    assert got == exp


def test_engine_maintains_agg_view(spark, sf_dir, tmp_path):
    """CdcBatchEngine(agg_views=[...]): the rollup is maintained inline
    with each CDC batch and equals a recompute over the row view — and
    stays correct under a full replay (old image == new row, so replayed
    contributions cancel)."""
    from ydb_cdc_processor_spark.engine import CdcBatchEngine
    from ydb_cdc_processor_spark.plans.pipeline import CdcPipeline
    from ydb_cdc_processor_spark.sources import cdc_json
    from ydb_cdc_processor_spark.sources.catalog import describe_table

    fixture = str(tmp_path / "cdc")
    cdc_json.write_events_cdc_fixture(spark, sf_dir, fixture)
    schema, pk = describe_table(spark, sf_dir, "events")
    p = CdcPipeline(
        name="agg_e2e", source_schema=schema, pk=pk,
        members=cdc_json.EVENTS_MEMBERS,
        update_sql="SELECT event_id, ts, user_id, event_type, value"
                   " FROM rows",
        delete_sql="SELECT event_id FROM rows").validate(spark)
    av = AggregateView(spark, str(tmp_path / "agg"), ["event_type"],
                       {"sum_value": "value"}, count_col="n_events")
    eng = CdcBatchEngine(spark, p, str(tmp_path / "view"), agg_views=[av])

    def check():
        got = {r.event_type: (r.n_events, None if r.sum_value is None
                              else round(r.sum_value, 4))
               for r in av.read().collect()}
        exp = {r.event_type: (r.n, None if r.s is None else round(r.s, 4))
               for r in eng.read_view().groupBy("event_type")
               .agg(F.count(F.lit(1)).alias("n"),
                    F.sum(F.col("value").cast("decimal(38,6)"))
                     .cast("double").alias("s")).collect()}
        assert got == exp

    eng.apply_raw_batch(cdc_json.read_cdc_batch(spark, fixture))
    check()
    # idempotent replay: rollup must not drift
    eng.apply_raw_batch(cdc_json.read_cdc_batch(spark, fixture))
    check()


def test_agg_view_batch_token_replay_fence(spark, tmp_path):
    """±contribution deltas are not idempotent — the persisted batch token
    (swapped atomically with the rollup) must make a replayed delta a
    no-op, while a new token applies normally."""
    rows = spark.createDataFrame([(1, 10.0), (1, 20.0), (2, 5.0)],
                                 "g int, v double")
    av = AggregateView(spark, str(tmp_path / "agg"), ["g"], {"sv": "v"})

    av.apply_delta(new_rows=rows, old_rows=None, batch_token="b0:u")
    first = {(r.g, r.n_rows, r.sv) for r in av.read().collect()}
    assert first == {(1, 2, 30.0), (2, 1, 5.0)}

    # replay of the SAME token: skipped (no double counting)
    av.apply_delta(new_rows=rows, old_rows=None, batch_token="b0:u")
    assert {(r.g, r.n_rows, r.sv) for r in av.read().collect()} == first

    # a fresh AggregateView object over the same store (engine restart)
    # still honors the fence — the token lives with the data, not in memory
    av2 = AggregateView(spark, str(tmp_path / "agg"), ["g"], {"sv": "v"})
    av2.apply_delta(new_rows=rows, old_rows=None, batch_token="b0:u")
    assert {(r.g, r.n_rows, r.sv) for r in av2.read().collect()} == first

    # a NEW token applies
    av2.apply_delta(new_rows=rows, old_rows=None, batch_token="b1:u")
    assert {(r.g, r.n_rows, r.sv) for r in av2.read().collect()} == \
        {(1, 4, 60.0), (2, 2, 10.0)}


def test_agg_view_bucketed_per_bucket_fence(spark, tmp_path):
    """Bucketed backend exactly-once: full-replay skip, restart-object
    skip, and a crash at the commit point.  The fence is per batch now:
    the crashed batch's buckets are written but none is visible (the
    commit is one manifest replace), so the replay applies the whole
    batch once — the bucket-level mix a per-bucket commit left behind
    can no longer arise."""
    import os

    from ydb_cdc_processor_spark import storage

    path = str(tmp_path / "agg")
    rows = spark.range(0, 40).select(
        (F.col("id") % 20).alias("g"), F.lit(1.0).alias("v"))
    av = AggregateView(spark, path, ["g"], {"sv": "v"},
                       backend="bucketed", n_buckets=8)

    av.apply_delta(new_rows=rows, old_rows=None, batch_token="b0")
    b0 = {(r.g, r.n_rows, r.sv) for r in av.read().collect()}
    assert b0 == {(g, 2, 2.0) for g in range(20)}

    # replay of b0: fully fenced (manifest fast-path)
    av.apply_delta(new_rows=rows, old_rows=None, batch_token="b0")
    assert {(r.g, r.n_rows, r.sv) for r in av.read().collect()} == b0

    # engine restart: fence lives on disk, not in the object
    av2 = AggregateView(spark, path, ["g"], {"sv": "v"},
                        backend="bucketed", n_buckets=8)
    av2.apply_delta(new_rows=rows, old_rows=None, batch_token="b0")
    assert {(r.g, r.n_rows, r.sv) for r in av2.read().collect()} == b0

    # b1 crashes at its commit: every touched bucket's new generation is
    # on disk, the manifest replace never lands
    real, man = storage.replace_text, os.path.join(path, "_buckets.json")

    def crash(p, t):
        if p == man:
            raise RuntimeError("crash at the commit")
        return real(p, t)
    storage.replace_text = crash
    try:
        with pytest.raises(RuntimeError, match="crash at the commit"):
            av2.apply_delta(new_rows=rows, old_rows=None, batch_token="b1")
    finally:
        storage.replace_text = real
    assert {(r.g, r.n_rows, r.sv) for r in av2.read().collect()} == b0

    # replay b1 from a FRESH object (restart after the crash): the whole
    # batch applies once; a second replay is skipped
    av3 = AggregateView(spark, path, ["g"], {"sv": "v"},
                        backend="bucketed", n_buckets=8)
    for _ in range(2):
        av3.apply_delta(new_rows=rows, old_rows=None, batch_token="b1")
        assert {(r.g, r.n_rows, r.sv) for r in av3.read().collect()} == \
            {(g, 4, 4.0) for g in range(20)}


def test_agg_view_bucketed_rebucket_keeps_fence(spark, tmp_path):
    """rebucket() keeps the manifest's applied-token history: a replay
    of the last batch AFTER a rebucket stays a no-op, and new batches
    apply normally at the new bucket count."""
    path = str(tmp_path / "agg")
    rows = spark.range(0, 30).select(
        (F.col("id") % 15).alias("g"), F.lit(2.0).alias("v"))
    av = AggregateView(spark, path, ["g"], {"sv": "v"},
                       backend="bucketed", n_buckets=4)
    av.apply_delta(new_rows=rows, old_rows=None, batch_token="b0")
    b0 = {(r.g, r.n_rows, r.sv) for r in av.read().collect()}

    av._store().rebucket(16)
    assert {(r.g, r.n_rows, r.sv) for r in av.read().collect()} == b0

    # replay of b0 across the rebucket: still fenced
    av2 = AggregateView(spark, path, ["g"], {"sv": "v"},
                        backend="bucketed")
    av2.apply_delta(new_rows=rows, old_rows=None, batch_token="b0")
    assert {(r.g, r.n_rows, r.sv) for r in av2.read().collect()} == b0

    # and a NEW batch lands at the new count
    av2.apply_delta(new_rows=rows, old_rows=None, batch_token="b1")
    assert {(r.g, r.n_rows, r.sv) for r in av2.read().collect()} == \
        {(g, 4, 8.0) for g in range(15)}
    assert av2._store().n_buckets == 16


def test_agg_view_untokenized_apply_keeps_fence(spark, tmp_path):
    """An un-tokenized apply_delta between tokenized batches must NOT
    clobber the persisted replay fence: a later replay of the last
    tokenized batch would otherwise double-count."""
    rows = spark.createDataFrame([(1, 10.0)], "g int, v double")
    av = AggregateView(spark, str(tmp_path / "agg"), ["g"], {"sv": "v"})

    av.apply_delta(new_rows=rows, old_rows=None, batch_token="b0:u")
    av.apply_delta(new_rows=rows, old_rows=None)  # ad-hoc, no token
    mid = {(r.g, r.n_rows, r.sv) for r in av.read().collect()}
    assert mid == {(1, 2, 20.0)}

    # the b0 fence survived the un-tokenized apply → replay is a no-op
    av.apply_delta(new_rows=rows, old_rows=None, batch_token="b0:u")
    assert {(r.g, r.n_rows, r.sv) for r in av.read().collect()} == mid


def test_agg_view_compact_rollup_guard(spark, tmp_path, caplog):
    """The documented compact-rollup assumption is enforced, not just
    stated: exceeding max_groups_warn logs a warning."""
    import logging

    rows = spark.range(50).select(
        F.col("id").alias("g"), F.lit(1.0).alias("v"))
    av = AggregateView(spark, str(tmp_path / "agg"), ["g"], {"sv": "v"},
                       max_groups_warn=10)
    with caplog.at_level(logging.WARNING,
                         logger="ydb_cdc_processor_spark.operators.agg_view"):
        av.apply_delta(new_rows=rows, old_rows=None)
    assert any("compact-rollup" in r.message for r in caplog.records)
