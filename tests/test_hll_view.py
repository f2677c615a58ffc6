"""HllView — incrementally-maintained per-group HLL registers: any
insert-only ingest history equals the one-shot sketch; replays converge
without a fence; deletes are refused."""

import pytest
from pyspark.sql import functions as F

from ydb_cdc_processor_spark.functions.sketches import hll_grouped
from ydb_cdc_processor_spark.operators.hll_view import HllView


def _rows(spark, lo, hi):
    return spark.createDataFrame(
        [(f"g{i % 3}", f"v{i}") for i in range(lo, hi)],
        "grp string, val string")


def _est(df):
    return sorted(tuple(r) for r in df.collect())


def test_incremental_equals_oneshot(spark, tmp_path):
    hv = HllView(spark, str(tmp_path / "h"), ["grp"], "val", p=8)
    full = _rows(spark, 0, 900)
    for lo, hi in ((0, 300), (300, 600), (600, 900)):
        hv.apply_delta(_rows(spark, lo, hi))
    assert hv.recompute_check(full)
    assert _est(hv.read()) == _est(hll_grouped(full, ["grp"], "val", p=8))


def test_hll_view_replay_and_any_batching(spark, tmp_path):
    """Max-merge is idempotent + commutative: replaying a batch, and
    ingesting the same rows under a different batching, both land on
    the identical register table."""
    a = HllView(spark, str(tmp_path / "a"), ["grp"], "val", p=8)
    b1, b2 = _rows(spark, 0, 500), _rows(spark, 400, 900)  # overlapping
    a.apply_delta(b1)
    a.apply_delta(b2)
    a.apply_delta(b2)          # replay
    a.apply_delta(b1)          # out-of-order replay
    b = HllView(spark, str(tmp_path / "b"), ["grp"], "val", p=8)
    b.apply_delta(_rows(spark, 0, 900))   # one shot (union of the two)
    assert _est(a.registers()) == _est(b.registers())


def test_delete_bearing_batch_refused(spark, tmp_path, caplog):
    hv = HllView(spark, str(tmp_path / "d"), ["grp"], "val")
    hv.apply_delta(_rows(spark, 0, 100))
    with pytest.raises(ValueError, match="cannot retract"):
        hv.apply_delta(_rows(spark, 0, 10), _rows(spark, 0, 10))
    # refusal keys on CONTENT: an EMPTY old-image frame (what the engine
    # hands every insert-only post-bootstrap batch) must pass through
    hv.apply_delta(_rows(spark, 100, 150), _rows(spark, 0, 0))
    assert hv.recompute_check(_rows(spark, 0, 150))
    # bootstrap old images (store didn't exist yet) are tolerated — but
    # no longer silently: the drop is logged as a warning
    hv2 = HllView(spark, str(tmp_path / "d2"), ["grp"], "val")
    with caplog.at_level("WARNING",
                         logger="ydb_cdc_processor_spark.operators.hll_view"):
        hv2.apply_delta(_rows(spark, 0, 50), _rows(spark, 0, 5))
    assert any("discarding old images" in r.message for r in caplog.records)
    assert hv2.registers().count() > 0


def test_group_types_are_layout_metadata(spark, tmp_path):
    """Non-string group cols: the empty-store registers()/read() schema
    equals the post-ingest one, reopen adopts the stored types, and a
    batch whose group types contradict the layout is refused."""
    rows = spark.createDataFrame(
        [(i % 3, f"v{i}") for i in range(200)], "grp int, val string")
    hv = HllView(spark, str(tmp_path / "t"), ["grp"], "val", p=8,
                 group_types=["int"])
    empty_schema = hv.registers().schema
    empty_read_schema = hv.read().schema
    hv.apply_delta(rows)
    assert hv.registers().schema == empty_schema
    assert hv.read().schema == empty_read_schema
    reopened = HllView(spark, str(tmp_path / "t"), ["grp"], "val", p=8)
    assert reopened.group_types == ["int"]   # layout wins
    assert reopened.recompute_check(rows)
    with pytest.raises(ValueError, match="group column types"):
        reopened.apply_delta(_rows(spark, 0, 10))   # string grp vs int store
    # merge_from refuses a type-mismatched shard
    other = HllView(spark, str(tmp_path / "t2"), ["grp"], "val", p=8)
    with pytest.raises(ValueError, match="group_types"):
        reopened.merge_from(other)


def test_p_is_layout_metadata(spark, tmp_path):
    hv = HllView(spark, str(tmp_path / "p"), ["grp"], "val", p=12)
    hv.apply_delta(_rows(spark, 0, 200))
    reopened = HllView(spark, str(tmp_path / "p"), ["grp"], "val", p=4)
    assert reopened.p == 12   # layout wins over the constructor
    assert reopened.recompute_check(_rows(spark, 0, 200))
    with pytest.raises(ValueError, match="multiple of 4"):
        HllView(spark, str(tmp_path / "bad"), ["grp"], "val", p=7)


def test_stream_restart_converges(spark, tmp_path):
    """foreachBatch ingest with a kill/restart between triggers lands on
    the one-shot registers (idempotent merge, no fence needed)."""
    full = _rows(spark, 0, 600).localCheckpoint(eager=True)
    src = str(tmp_path / "src")
    full.repartition(3).write.parquet(src)
    hv = HllView(spark, str(tmp_path / "s"), ["grp"], "val", p=8)

    stream = (spark.readStream.schema(full.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = hv.start_stream(stream, str(tmp_path / "ckpt"))
    q.awaitTermination()
    # restart over the same checkpoint: nothing reprocesses, state holds
    q2 = hv.start_stream(
        (spark.readStream.schema(full.schema)
         .option("maxFilesPerTrigger", 1).parquet(src)),
        str(tmp_path / "ckpt"))
    q2.awaitTermination()
    assert hv.recompute_check(full)
    assert _est(hv.read()) == _est(hll_grouped(full, ["grp"], "val", p=8))


def test_engine_drive_insert_only_and_delete_refusal(spark, sf_dir,
                                                     tmp_path):
    """HllView rides a CDC engine's agg_views feed for INSERT-ONLY
    sources (the first fixture batch bootstraps with old images
    tolerated on the absent store); a second batch carrying old images
    — updates or deletes — must surface the documented refusal rather
    than silently under-counting."""
    import pytest as _pytest
    from ydb_cdc_processor_spark import CdcBatchEngine, CdcPipeline
    from ydb_cdc_processor_spark.sources import cdc_json
    from ydb_cdc_processor_spark.sources.catalog import describe_table

    schema, pk = describe_table(spark, sf_dir, "events")
    fixture = str(tmp_path / "cdc")
    cdc_json.write_events_cdc_fixture(spark, sf_dir, fixture)
    hv = HllView(spark, str(tmp_path / "hll"), ["grp"], "val", p=8)

    def shaped(apply):
        def _f(new_rows, old_rows, batch_token=None):
            sel = lambda df: (None if df is None else df.select(
                F.col("event_type").alias("grp"),
                F.col("event_id").cast("string").alias("val")))
            apply(sel(new_rows), sel(old_rows), batch_token)
        from ydb_cdc_processor_spark.operators.ivm_feed import Feed
        return Feed(_f)

    p = CdcPipeline(
        name="hll_fact", source_schema=schema, pk=pk,
        members=cdc_json.EVENTS_MEMBERS,
        update_sql="SELECT event_id, ts, user_id, event_type, value "
                   "FROM rows",
        delete_sql="SELECT event_id FROM rows").validate(spark)
    eng = CdcBatchEngine(spark, p, str(tmp_path / "view"),
                         agg_views=[shaped(hv.apply_delta)])
    eng.apply_raw_batch(cdc_json.read_cdc_batch(spark, fixture),
                        batch_token="h0")
    assert hv.registers().count() > 0
    # second INSERT-ONLY batch (fresh keys): the engine still hands the
    # feed an old-image frame (target exists, key-pruned → EMPTY) — the
    # content-keyed refusal must let it through (advisor medium finding:
    # presence-keyed refusal broke every post-bootstrap insert-only batch)
    fresh = spark.createDataFrame(
        [(cdc_json.envelope(
            [10_000_000 + i],
            {"ts": "2026-01-01T00:00:00.000000Z", "user_id": 1,
             "event_type": f"fresh_{i % 2}", "value": 1.0, "props": None}),
          0, 1_000_000 + i) for i in range(6)],
        cdc_json.RAW_SCHEMA)
    before = {tuple(r) for r in hv.registers().collect()}
    eng.apply_raw_batch(fresh, batch_token="h_fresh")
    after = {tuple(r) for r in hv.registers().collect()}
    assert before < after   # grew, did not raise
    # third apply: replaying the original fixture carries true updates →
    # old images arrive non-empty → the monotone-register refusal surfaces
    with _pytest.raises(Exception, match="cannot retract"):
        eng.apply_raw_batch(cdc_json.read_cdc_batch(spark, fixture),
                            batch_token="h1")


def test_merge_from_shards(spark, tmp_path):
    """Federated union: two shard stores maintained over overlapping
    slices merge into a third whose registers equal the one-shot sketch
    of the union; layout mismatches are refused."""
    a = HllView(spark, str(tmp_path / "sa"), ["grp"], "val", p=8)
    b = HllView(spark, str(tmp_path / "sb"), ["grp"], "val", p=8)
    a.apply_delta(_rows(spark, 0, 500))
    b.apply_delta(_rows(spark, 400, 900))   # overlap 400..499
    merged = HllView(spark, str(tmp_path / "m"), ["grp"], "val", p=8)
    merged.merge_from(a)
    merged.merge_from(b)
    merged.merge_from(b)   # re-merge: idempotent
    assert merged.recompute_check(_rows(spark, 0, 900))
    assert _est(merged.read()) == \
        _est(hll_grouped(_rows(spark, 0, 900), ["grp"], "val", p=8))

    with pytest.raises(ValueError, match="layout-dependent"):
        merged.merge_from(HllView(spark, str(tmp_path / "p4"),
                                  ["grp"], "val", p=4))
    with pytest.raises(ValueError, match="group_cols"):
        merged.merge_from(HllView(spark, str(tmp_path / "g2"),
                                  ["other"], "val", p=8))
