"""ChangefeedEmitter — views emit their own downstream changefeed, so
pipelines chain: events → view A → (emitted feed) → view B."""

import json
import os

import pytest
from pyspark.sql import functions as F

from ydb_cdc_processor_spark import CdcBatchEngine, CdcPipeline
from ydb_cdc_processor_spark.sources import cdc_json
from ydb_cdc_processor_spark.sources.catalog import describe_table
from ydb_cdc_processor_spark.sources.changefeed_out import ChangefeedEmitter

UPDATE_SQL = ("SELECT event_id, ts, user_id, event_type, value FROM rows")


def _pipeline(spark, schema, pk, name):
    return CdcPipeline(
        name=name, source_schema=schema, pk=pk,
        members=cdc_json.EVENTS_MEMBERS,
        update_sql=UPDATE_SQL,
        delete_sql="SELECT event_id FROM rows").validate(spark)


VIEW_MEMBERS = {
    "event_id": "Int64", "ts": "Timestamp", "user_id": "Int64",
    "event_type": "Text", "value": "Optional<Double>"}


def _downstream(spark, tmp_path, feed_dir):
    from pyspark.sql import types as T
    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType())])
    p = CdcPipeline(
        name="view_b", source_schema=schema, pk=["event_id"],
        members=VIEW_MEMBERS,
        update_sql=UPDATE_SQL,
        delete_sql="SELECT event_id FROM rows").validate(spark)
    return CdcBatchEngine(spark, p, str(tmp_path / "view_b"))


def _rows(df):
    return sorted(map(tuple, df.select(
        "event_id", "ts", "user_id", "event_type", "value").collect()))


def test_chained_views_converge(spark, sf_dir, tmp_path):
    """View A's emitted feed, consumed by pipeline B, reproduces view A
    exactly — including the deletions inside the fixture batch."""
    schema, pk = describe_table(spark, sf_dir, "events")
    fixture = str(tmp_path / "cdc")
    cdc_json.write_events_cdc_fixture(spark, sf_dir, fixture)
    feed = str(tmp_path / "feed")

    em = ChangefeedEmitter(spark, feed, keys=["event_id"], n_partitions=3)
    a = CdcBatchEngine(spark, _pipeline(spark, schema, pk, "view_a"),
                       str(tmp_path / "view_a"), agg_views=[em])
    a.apply_raw_batch(cdc_json.read_cdc_batch(spark, fixture),
                      batch_token="b0")

    b = _downstream(spark, tmp_path, feed)
    stats = b.apply_raw_batch(cdc_json.read_cdc_batch(spark, feed))
    assert stats.malformed == 0
    assert _rows(b.read_view()) == _rows(a.read_view())

    # offsets are dense per partition starting at 0
    raw = spark.read.json(feed)
    for p in range(3):
        offs = sorted(r._offset for r in
                      raw.where(F.col("_partition") == p).collect())
        assert offs == list(range(len(offs)))


def test_emitter_replay_fence_and_second_batch(spark, sf_dir, tmp_path):
    """An engine-level replay of the SAME batch token emits nothing new;
    a genuine second batch appends with offsets continuing where the
    first left off, and the chain still converges."""
    schema, pk = describe_table(spark, sf_dir, "events")
    fixture = str(tmp_path / "cdc")
    cdc_json.write_events_cdc_fixture(spark, sf_dir, fixture)
    feed = str(tmp_path / "feed")
    em = ChangefeedEmitter(spark, feed, keys=["event_id"], n_partitions=2)
    a = CdcBatchEngine(spark, _pipeline(spark, schema, pk, "view_a"),
                       str(tmp_path / "view_a"), agg_views=[em])
    batch = cdc_json.read_cdc_batch(spark, fixture)
    a.apply_raw_batch(batch, batch_token="t1")
    n1 = spark.read.json(feed).count()

    a.apply_raw_batch(batch, batch_token="t1")  # replay: fence holds
    assert spark.read.json(feed).count() == n1

    # second batch: delete 5 rows via erase envelopes
    ids = [r.event_id for r in a.read_view().orderBy("event_id")
           .limit(5).collect()]
    src2 = str(tmp_path / "cdc2")
    os.makedirs(src2)
    with open(os.path.join(src2, "part-0.json"), "w") as f:
        for off, i in enumerate(ids):
            f.write(json.dumps({
                "value": cdc_json.envelope([i], erase=True),
                "_partition": 0, "_offset": 50_000 + off}) + "\n")
    a.apply_raw_batch(cdc_json.read_cdc_batch(spark, src2),
                      batch_token="t2")
    raw = spark.read.json(feed)
    assert raw.count() == n1 + 5
    for p in range(2):
        offs = sorted(r._offset for r in
                      raw.where(F.col("_partition") == p).collect())
        assert offs == list(range(len(offs)))  # still dense

    b = _downstream(spark, tmp_path, feed)
    b.apply_raw_batch(cdc_json.read_cdc_batch(spark, feed))
    assert _rows(b.read_view()) == _rows(a.read_view())
    assert b.read_view().count() == a.read_view().count()


def test_same_key_changes_stay_in_one_partition(spark, sf_dir, tmp_path):
    """Per-key ordering across emitted batches REQUIRES key-routed
    partitions: an upsert-then-erase of the same key in different
    batches must land in the same partition with increasing offsets, or
    a downstream consumer's last-wins collapse could resurrect the dead
    row."""
    from pyspark.sql import types as T
    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType())])
    feed = str(tmp_path / "feed")
    em = ChangefeedEmitter(spark, feed, keys=["event_id"],
                           n_partitions=4)
    rows = spark.createDataFrame(
        [(i, None, i, "t", 1.0) for i in range(40)], schema)
    em.apply_delta(rows, None, batch_token="b1")
    # batch 2: delete every key (old images, no new rows)
    em.apply_delta(None, rows, batch_token="b2")
    raw = spark.read.json(feed)
    decoded = raw.select(
        F.get_json_object("value", "$.key[0]").cast("long").alias("k"),
        F.get_json_object("value", "$.erase").isNotNull().alias("is_del"),
        "_partition", "_offset")
    per_key = (decoded.groupBy("k")
               .agg(F.countDistinct("_partition").alias("nparts"),
                    F.max(F.when(F.col("is_del"), F.col("_offset")))
                    .alias("del_off"),
                    F.max(F.when(~F.col("is_del"), F.col("_offset")))
                    .alias("up_off")))
    bad = per_key.where((F.col("nparts") != 1)
                        | (F.col("del_off") <= F.col("up_off"))).count()
    assert bad == 0


_FLAT = "event_id long, ts timestamp, user_id long, event_type string, " \
        "value double"


def _feed_rows(spark, ids):
    return spark.createDataFrame([(i, None, i, "t", 1.0) for i in ids],
                                 _FLAT)


def test_emitter_replay_of_earlier_token_is_skipped(spark, tmp_path):
    """The emitter follows every store's replay rule: a token anywhere
    in the applied history is skipped — emitting t:0, t:1 and then
    replaying t:0 must not append t:0's envelopes again."""
    feed = str(tmp_path / "feed")
    em = ChangefeedEmitter(spark, feed, keys=["event_id"], n_partitions=2)
    em.apply_delta(_feed_rows(spark, range(4)), None, batch_token="t:0")
    em.apply_delta(_feed_rows(spark, range(4, 7)), None, batch_token="t:1")
    assert spark.read.json(feed).count() == 7
    em.apply_delta(_feed_rows(spark, range(4)), None, batch_token="t:0")
    assert spark.read.json(feed).count() == 7


def test_emitter_state_read_error_raises(spark, tmp_path, monkeypatch):
    """Only an ABSENT manifest means "no offsets yet": a failing state
    read must raise before anything is appended, never restart the
    emitted offsets at 0."""
    from ydb_cdc_processor_spark import storage
    from ydb_cdc_processor_spark.operators.bucketed_view import MANIFEST
    feed = str(tmp_path / "feed")
    em = ChangefeedEmitter(spark, feed, keys=["event_id"], n_partitions=2)
    em.apply_delta(_feed_rows(spark, range(4)), None, batch_token="t:0")
    manifest = os.path.join(feed, MANIFEST)
    with open(manifest) as fh:
        committed = fh.read()
    real = storage.read_text

    def denied(path):
        if path == manifest:
            raise PermissionError(path)
        return real(path)
    monkeypatch.setattr(storage, "read_text", denied)
    with pytest.raises(PermissionError):
        em.apply_delta(_feed_rows(spark, range(4, 7)), None,
                       batch_token="t:1")
    monkeypatch.setattr(storage, "read_text", real)
    with open(manifest) as fh:
        assert fh.read() == committed
    assert spark.read.json(feed).count() == 4


def test_streaming_chain_with_restart(spark, sf_dir, tmp_path):
    """The FULL streaming chain: stream engine A maintains view A and
    emits the feed; stream engine B consumes the feed as its own
    checkpointed CDC stream.  Both are killed and restarted (fresh
    objects, same checkpoints) after late data lands upstream — B must
    converge to A."""
    from ydb_cdc_processor_spark.streaming.engine import CdcStreamEngine

    schema, pk = describe_table(spark, sf_dir, "events")
    src = str(tmp_path / "cdc_src")
    cdc_json.write_events_cdc_fixture(spark, sf_dir, src,
                                      n_partitions=3, limit=600)
    feed = str(tmp_path / "feed")

    def engines():
        em = ChangefeedEmitter(spark, feed, keys=["event_id"],
                               n_partitions=2)
        a = CdcStreamEngine(spark, _pipeline(spark, schema, pk, "va"),
                            str(tmp_path / "view_a"),
                            str(tmp_path / "ckpt_a"), agg_views=[em])
        from pyspark.sql import types as T
        b_schema = T.StructType([
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType())])
        bp = CdcPipeline(
            name="vb", source_schema=b_schema, pk=["event_id"],
            members=VIEW_MEMBERS, update_sql=UPDATE_SQL,
            delete_sql="SELECT event_id FROM rows").validate(spark)
        b = CdcStreamEngine(spark, bp, str(tmp_path / "view_b"),
                            str(tmp_path / "ckpt_b"))
        return a, b

    a1, b1 = engines()
    assert a1.run_available(src).ok
    assert b1.run_available(feed).ok
    assert _rows(b1.batch_engine.read_view()) \
        == _rows(a1.batch_engine.read_view())

    # late upstream data while both are down: updates + deletes
    ids = [r.event_id for r in a1.batch_engine.read_view()
           .orderBy("event_id").limit(20).collect()]
    lines = [cdc_json.envelope([i], erase=True) for i in ids[:10]]
    lines += [cdc_json.envelope(
        [i], {"ts": "2024-06-01T00:00:00Z", "user_id": 9,
              "event_type": "chained", "value": 2.5, "props": None})
        for i in ids[10:20]]
    with open(os.path.join(src, "part-late.json"), "w") as f:
        for off, line in enumerate(lines):
            f.write(json.dumps({"value": line, "_partition": 0,
                                "_offset": 20_000 + off}) + "\n")

    a2, b2 = engines()
    assert a2.run_available(src).ok
    assert b2.run_available(feed).ok
    va = a2.batch_engine.read_view()
    vb = b2.batch_engine.read_view()
    assert _rows(vb) == _rows(va)
    assert vb.where("event_type = 'chained'").count() == 10
    assert vb.join(spark.createDataFrame([(i,) for i in ids[:10]],
                                         "event_id long"),
                   on="event_id", how="left_semi").count() == 0


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# a batch is a list of (op, key, payload-version): ups upsert key with
# version v, del deletes key (keys 0-4, so cross-batch same-key churn
# is common)
_op = st.one_of(
    st.tuples(st.just("up"), st.integers(0, 4), st.integers(0, 9)),
    st.tuples(st.just("del"), st.integers(0, 4), st.just(0)))
_batches = st.lists(st.lists(_op, min_size=1, max_size=4),
                    min_size=1, max_size=5)


@settings(max_examples=5, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(batches=_batches)
def test_property_emitted_chain_replays_state_machine(spark,
                                                      tmp_path_factory,
                                                      batches):
    """ANY sequence of emitted batches (same-key churn, deletes of
    absent keys, re-upserts after delete) consumed in ONE downstream
    read reproduces the reference state machine exactly — the wire
    format + key routing + offset ordering carry enough information."""
    from pyspark.sql import types as T
    tmp_path = tmp_path_factory.mktemp("emit_prop")
    feed = str(tmp_path / "feed")
    em = ChangefeedEmitter(spark, feed, keys=["event_id"],
                           n_partitions=2)
    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType())])
    state: dict[int, tuple] = {}
    for i, batch in enumerate(batches):
        # within a batch, last op per key wins (the engine's collapse
        # contract); build the batch's net upserts and deletes
        net: dict[int, tuple | None] = {}
        for op, k, v in batch:
            net[k] = (k, None, k, f"v{v}", float(v)) if op == "up" \
                else None
        ups = [r for r in net.values() if r is not None]
        dels = [k for k, r in net.items() if r is None and k in state]
        new_df = spark.createDataFrame(ups, schema) if ups else None
        old_df = None
        if dels:
            old_df = spark.createDataFrame(
                [state[k] for k in dels], schema)
        if new_df is None and old_df is None:
            continue
        em.apply_delta(new_df, old_df, batch_token=f"b{i}")
        for k, r in net.items():
            if r is None:
                state.pop(k, None)
            else:
                state[k] = r

    b = _downstream(spark, tmp_path, feed)
    b.apply_raw_batch(cdc_json.read_cdc_batch(spark, feed))
    got = {r.event_id: (r.event_type, r.value)
           for r in b.read_view().collect()}
    exp = {k: (r[3], r[4]) for k, r in state.items()}
    assert got == exp
