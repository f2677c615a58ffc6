"""K1-K4 merge semantics + the parquet materialized view writer."""

import pytest
from pyspark.sql import Row

from ydb_cdc_processor_spark.operators import merge


@pytest.fixture()
def base(spark):
    return spark.createDataFrame(
        [Row(k=1, v="a"), Row(k=2, v="b"), Row(k=3, v="c")])


def _as_dict(df):
    return {r.k: r.v for r in df.collect()}


def test_upsert(spark, base):
    delta = spark.createDataFrame([Row(k=2, v="B"), Row(k=4, v="d")])
    out = _as_dict(merge.merge_upsert(base, delta, ["k"]))
    assert out == {1: "a", 2: "B", 3: "c", 4: "d"}


def test_upsert_last_wins_in_delta(spark, base):
    delta = spark.createDataFrame(
        [Row(k=2, v="old", _offset=1), Row(k=2, v="new", _offset=2)])
    out = _as_dict(merge.merge_upsert(base, delta, ["k"], order_col="_offset"))
    assert out[2] == "new"


def test_delete(spark, base):
    keys = spark.createDataFrame([Row(k=1), Row(k=99)])
    out = _as_dict(merge.merge_delete(base, keys, ["k"]))
    assert out == {2: "b", 3: "c"}


def test_update_on_ignores_unmatched(spark, base):
    # K3: updateOn touches EXISTING keys only (CdcMsgParser.java:236-239)
    delta = spark.createDataFrame([Row(k=3, v="C"), Row(k=4, v="d")])
    out = _as_dict(merge.merge_update(base, delta, ["k"]))
    assert out == {1: "a", 2: "b", 3: "C"}


def test_insert_strict_collision(spark, base):
    delta = spark.createDataFrame([Row(k=3, v="X")])
    with pytest.raises(merge.StrictInsertError):
        merge.merge_insert(base, delta, ["k"], strict=True)
    out = _as_dict(merge.merge_insert(base, delta, ["k"], strict=False))
    assert out == {1: "a", 2: "b", 3: "c"}  # collision dropped


def test_strict_insert_single_pass_through_view(spark, tmp_path):
    """View-backed strict insert must evaluate the delta ONCE (collision
    count rides the write as an Observation) — the old separate count()
    job re-ran the delta's whole upstream transform every batch.  Also:
    a colliding batch still leaves the view untouched, and the collision
    still raises StrictInsertError."""
    from pyspark.sql import functions as F

    from ydb_cdc_processor_spark.operators.merge import (
        ParquetMaterializedView, StrictInsertError)

    acc = spark.sparkContext.accumulator(0)

    def _tick(x):
        acc.add(1)
        return x
    tick = F.udf(_tick, "long").asNondeterministic()

    base_rows = spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "k long, v string")
    mv = ParquetMaterializedView(spark, str(tmp_path / "mv"), ["k"],
                                 schema=base_rows.schema)
    mv.apply(base_rows, "upsertInto")

    fresh = spark.range(100, 120).select(
        tick(F.col("id")).alias("k"),
        F.concat(F.lit("n"), F.col("id")).alias("v"))
    acc.value = 0
    mv.apply(fresh, "insertInto")
    assert acc.value == 20  # one evaluation per row — single pass
    assert mv.read().count() == 30

    # colliding batch: raises AND the view is unchanged
    clash = spark.createDataFrame([(5, "boom"), (200, "ok")],
                                  "k long, v string")
    with pytest.raises(StrictInsertError):
        mv.apply(clash, "insertInto")
    got = {r.k: r.v for r in mv.read().collect()}
    assert len(got) == 30 and got[5] == "v5" and 200 not in got

    # fused path (apply_batch) keeps both properties
    with pytest.raises(StrictInsertError):
        mv.apply_batch(clash, None, "insertInto")
    assert mv.read().count() == 30
    mv.apply_batch(spark.createDataFrame([(300, "x")], "k long, v string"),
                   spark.createDataFrame([(1,)], "k long"), "insertInto")
    got = {r.k: r.v for r in mv.read().collect()}
    assert got[300] == "x" and 1 not in got


def test_broadcast_gated_on_small_delta(spark, base):
    """The merge must NOT force a delta broadcast (OOM at table-sized
    deltas); with no hint the optimizer picks from sizes, with
    small_delta=True the bounded-micro-batch caller pins the hint."""
    delta = spark.createDataFrame([Row(k=2, v="B")])
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for fn in (merge.merge_upsert, merge.merge_update):
            unhinted = fn(base, delta, ["k"])._jdf \
                .queryExecution().executedPlan().toString()
            assert "BroadcastHashJoin" not in unhinted
            pinned = fn(base, delta, ["k"], small_delta=True)._jdf \
                .queryExecution().executedPlan().toString()
            assert "BroadcastHashJoin" in pinned
        unhinted = merge.merge_delete(base, delta.select("k"), ["k"])._jdf \
            .queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in unhinted
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_view_swap_crash_recovery(spark, base, tmp_path, monkeypatch):
    """A crash at the manifest replace — the batch's generation is
    written but nothing names it — must not lose or tear the view: a
    fresh handle reads the pre-batch rows, and the replay converges."""
    from ydb_cdc_processor_spark import storage
    path = str(tmp_path / "mv")
    mv = merge.ParquetMaterializedView(spark, path, ["k"], schema=base.schema)
    mv.apply(base, "upsertInto")
    delta = spark.createDataFrame([Row(k=2, v="B"), Row(k=4, v="d")])

    def crash(p, text):
        raise RuntimeError("crash at the commit")
    with monkeypatch.context() as m:
        m.setattr(storage, "replace_text", crash)
        with pytest.raises(RuntimeError, match="crash at the commit"):
            mv.apply(delta, "upsertInto")
    fresh = merge.ParquetMaterializedView(spark, path, ["k"])
    assert _as_dict(fresh.read()) == {1: "a", 2: "b", 3: "c"}
    fresh.apply(delta, "upsertInto")                 # the replay
    assert _as_dict(fresh.read()) == {1: "a", 2: "B", 3: "c", 4: "d"}


def test_parquet_view_apply_idempotent(spark, base, tmp_path):
    mv = merge.ParquetMaterializedView(
        spark, str(tmp_path / "mv"), ["k"], schema=base.schema)
    delta = spark.createDataFrame([Row(k=2, v="B"), Row(k=4, v="d")])
    mv.apply(base, "upsertInto")
    mv.apply(delta, "upsertInto")
    mv.apply(delta, "upsertInto")  # replay: at-least-once must be safe (R2)
    assert _as_dict(mv.read()) == {1: "a", 2: "B", 3: "c", 4: "d"}
    dels = spark.createDataFrame([Row(k=1)])
    mv.apply(dels, "deleteFrom")
    mv.apply(dels, "deleteFrom")
    assert _as_dict(mv.read()) == {2: "B", 3: "c", 4: "d"}


def test_compose_merge_equals_sequential(spark):
    """The fused single-pass merge equals applying the upsert side then
    the delete side sequentially, for every action mode — valid because
    the engine guarantees key-disjoint sides (last-wins routing)."""
    from ydb_cdc_processor_spark.operators.merge import (
        MERGE_FNS, compose_merge, merge_delete)

    target = spark.createDataFrame(
        [(i, f"v{i}") for i in range(20)], "k long, v string")
    ups = spark.createDataFrame(
        [(i, f"new{i}") for i in (1, 3, 25, 27)], "k long, v string")
    dels = spark.createDataFrame([(2,), (4,), (30,)], "k long")

    for action in ("upsertInto", "updateOn"):
        fused = compose_merge(target, ups, dels, ["k"], action)
        seq = merge_delete(MERGE_FNS[action](target, ups, ["k"], None, None),
                           dels, ["k"])
        assert sorted(map(tuple, fused.collect())) == \
            sorted(map(tuple, seq.collect())), action

    # insertInto: fused keeps the strict collision check
    fresh = spark.createDataFrame([(100, "x")], "k long, v string")
    fused = compose_merge(target, fresh, dels, ["k"], "insertInto")
    assert (100, "x") in {tuple(r) for r in fused.collect()}
    import pytest as _pytest
    from ydb_cdc_processor_spark.operators.merge import StrictInsertError
    with _pytest.raises(StrictInsertError):
        compose_merge(target, ups, dels, ["k"], "insertInto").collect()
