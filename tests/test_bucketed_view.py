"""Bucketed materialized view: equivalence with the flat view across all
action modes, incremental multi-batch apply, emptied-bucket cleanup,
replay idempotence, and partition pruning of the touched-bucket read."""

import pytest
from pyspark.sql import functions as F

from ydb_cdc_processor_spark.operators.bucketed_view import (
    BUCKET_COL, BucketedMaterializedView)
from ydb_cdc_processor_spark.operators.merge import (
    ParquetMaterializedView, StrictInsertError)
from ydb_cdc_processor_spark.sources.catalog import load_table

KEYS = ["o_orderkey"]


@pytest.fixture(scope="module")
def orders(spark, sf_dir):
    return load_table(spark, sf_dir, "orders").cache()


def _rows(df):
    return sorted(map(tuple, df.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority").collect()))


def _mk(spark, tmp_path, orders, n_buckets=8):
    flat = ParquetMaterializedView(spark, str(tmp_path / "flat"), KEYS,
                                   schema=orders.schema)
    buck = BucketedMaterializedView(spark, str(tmp_path / "buck"), KEYS,
                                    schema=orders.schema,
                                    n_buckets=n_buckets)
    flat.apply(orders, "upsertInto")
    buck.apply(orders, "upsertInto")
    return flat, buck


@pytest.mark.parametrize("action", ["upsertInto", "updateOn", "deleteFrom"])
def test_equivalent_to_flat_view(spark, tmp_path, orders, action):
    flat, buck = _mk(spark, tmp_path, orders)
    delta = (orders.where(F.col("o_orderkey") % 5 == 0)
             .withColumn("o_orderstatus", F.lit("Z")))
    if action == "deleteFrom":
        delta = delta.select(*KEYS)
    flat.apply(delta, action)
    buck.apply(delta, action)
    assert _rows(flat.read()) == _rows(buck.read())


def test_insert_collision_raises(spark, tmp_path, orders):
    _, buck = _mk(spark, tmp_path, orders)
    with pytest.raises(StrictInsertError):
        buck.apply(orders.limit(10), "insertInto")


def test_incremental_batches_match_flat(spark, tmp_path, orders):
    flat, buck = _mk(spark, tmp_path, orders)
    for i in range(3):
        delta = (orders.where(F.col("o_orderkey") % 7 == i)
                 .withColumn("o_totalprice", F.col("o_totalprice") + i))
        flat.apply(delta, "upsertInto")
        buck.apply(delta, "upsertInto")
        dels = orders.where(F.col("o_orderkey") % 11 == i).select(*KEYS)
        flat.apply(dels, "deleteFrom")
        buck.apply(dels, "deleteFrom")
    assert _rows(flat.read()) == _rows(buck.read())


def test_emptied_bucket_is_dropped(spark, tmp_path, orders):
    """Deleting EVERY key must empty the view even though dynamic
    partition overwrite writes no partitions for emptied buckets."""
    _, buck = _mk(spark, tmp_path, orders, n_buckets=4)
    buck.apply(orders.select(*KEYS), "deleteFrom")
    assert buck.read().count() == 0


def test_replay_idempotent(spark, tmp_path, orders):
    _, buck = _mk(spark, tmp_path, orders)
    delta = orders.where(F.col("o_orderkey") % 3 == 0) \
                  .withColumn("o_orderstatus", F.lit("R"))
    buck.apply(delta, "upsertInto")
    once = _rows(buck.read())
    buck.apply(delta, "upsertInto")   # checkpoint-replay simulation
    assert _rows(buck.read()) == once


def test_touched_bucket_read_is_partition_pruned(spark, tmp_path, orders):
    """The merge's target read must hit only the touched partitions —
    visible as a PartitionFilters entry with ``_bucket IN (...)``."""
    _, buck = _mk(spark, tmp_path, orders, n_buckets=8)
    pruned = buck._read_raw().where(F.col(BUCKET_COL).isin([1, 3]))
    plan = pruned._sc._jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "formatted")
    assert "PartitionFilters" in plan
    assert "_bucket IN (1,3)" in plan.replace(", ", ",") or \
           BUCKET_COL in plan.split("PartitionFilters", 1)[1].split("]")[0]
    # and the pruned read returns only those buckets' rows
    got = {r[0] for r in pruned.select(BUCKET_COL).distinct().collect()}
    assert got <= {1, 3}


def test_manifest_overrides_constructor(spark, tmp_path, orders):
    """Bucket count is a property of the on-disk LAYOUT: a fresh instance
    constructed with a different n_buckets adopts the manifest's count
    (a mismatched count would route keys to wrong buckets)."""
    _, buck = _mk(spark, tmp_path, orders, n_buckets=8)
    assert buck._read_manifest() == 8
    reopened = BucketedMaterializedView(
        spark, str(tmp_path / "buck"), KEYS, n_buckets=64)
    assert reopened.n_buckets == 8


def test_rebucket_preserves_contents(spark, tmp_path, orders):
    """rebucket(): one full rewrite to a new bucket count; contents
    identical, manifest updated, merges keep working at the new layout."""
    flat, buck = _mk(spark, tmp_path, orders, n_buckets=4)
    before = _rows(buck.read())
    buck.rebucket(16)
    assert buck.n_buckets == 16
    assert _rows(buck.read()) == before
    assert buck._read_manifest() == 16
    assert buck.n_nonempty_buckets() <= 16

    # a post-rebucket merge must agree with the flat view
    delta = orders.limit(50).withColumn(
        "o_totalprice", F.col("o_totalprice") * 2)
    flat.apply(delta, "upsertInto")
    buck2 = BucketedMaterializedView(  # fresh instance: manifest-driven
        spark, str(tmp_path / "buck"), KEYS, n_buckets=4)
    assert buck2.n_buckets == 16
    buck2.apply(delta, "upsertInto")
    assert _rows(buck2.read()) == _rows(flat.read())


def test_maybe_rebucket_growth_trigger(spark, tmp_path, orders):
    """The documented growth rule (SCALING.md: n_buckets ∝ |view|): mean
    bucket size over target×4 → rebucket to ceil-pow2(total/target);
    under it → no-op.  Sizing comes from file metadata only."""
    _, buck = _mk(spark, tmp_path, orders, n_buckets=2)
    total = buck.total_bytes()
    assert total > 0
    # generous target: no rebucket
    assert buck.maybe_rebucket(target_bucket_bytes=total * 10) is False
    assert buck.n_buckets == 2
    # tiny target: must grow to a power of two > 2, contents preserved
    before = _rows(buck.read())
    assert buck.maybe_rebucket(target_bucket_bytes=max(total // 16, 1)) is True
    assert buck.n_buckets > 2 and buck.n_buckets & (buck.n_buckets - 1) == 0
    assert _rows(buck.read()) == before


def test_read_touched_probes_only_touched_dirs(spark, tmp_path, orders):
    """_read_touched: direct-path read of the touched buckets only — a
    bucket that does not exist on disk is simply absent (no error), and
    untouched buckets contribute no rows."""
    _, buck = _mk(spark, tmp_path, orders, n_buckets=8)
    got = buck._read_touched([1, 3, 999], orders.schema)
    assert {r[0] for r in got.select(BUCKET_COL).distinct().collect()} \
        <= {1, 3}
    # all-missing probe → empty frame with the right schema
    empty = buck._read_touched([999, 1000], orders.schema)
    assert empty.count() == 0
    assert BUCKET_COL in empty.columns


def test_rebucket_crash_between_renames_recovers(spark, tmp_path, orders):
    """A whole-store rebuild at a new bucket count adopted through
    replace_with() (the retrain contract) crashes at its ONE manifest
    replace.  The test used to tear the swap between its two directory
    renames and assert the next observation restored the complete old
    layout from the ``.old`` sibling; now the staged generations have
    moved in but nothing names them, so a reopened handle — even one
    constructed with the NEW count — still serves the old rows and
    layout, vacuum() drops the strays, and a re-staged rebuild lands."""
    from ydb_cdc_processor_spark import storage
    _, buck = _mk(spark, tmp_path, orders, n_buckets=4)
    before = _rows(buck.read())

    def stage(tag):
        staged = BucketedMaterializedView(
            spark, str(tmp_path / tag), KEYS, schema=orders.schema,
            n_buckets=16)
        staged.apply(buck.read(), "upsertInto")
        return staged.path

    real, man = storage.replace_text, buck._manifest_path()

    def crash(path, text):
        if path == man:
            raise RuntimeError("crash at the commit")
        return real(path, text)
    staged = stage("staged1")
    storage.replace_text = crash
    try:
        with pytest.raises(RuntimeError, match="crash at the commit"):
            buck.replace_with(staged)
    finally:
        storage.replace_text = real
    reopened = BucketedMaterializedView(
        spark, str(tmp_path / "buck"), KEYS, n_buckets=16)
    assert reopened.exists() is True
    assert reopened.n_buckets == 4 and reopened._read_manifest() == 4
    assert _rows(reopened.read()) == before
    assert reopened.vacuum() > 0              # the moved-in strays
    assert _rows(reopened.read()) == before
    reopened.replace_with(stage("staged2"))
    assert reopened.n_buckets == 16
    assert _rows(BucketedMaterializedView(
        spark, str(tmp_path / "buck"), KEYS).read()) == before


def test_rebucket_failure_keeps_n_buckets_consistent(
        spark, tmp_path, orders, monkeypatch):
    """An exception during the swap must leave self.n_buckets agreeing
    with the on-disk layout (a premature mutation would mis-bucket every
    subsequent delta in-process)."""
    import os
    _, buck = _mk(spark, tmp_path, orders, n_buckets=4)
    real_rename = os.rename
    def boom(src, dst):
        raise OSError("simulated crash during swap")
    monkeypatch.setattr(os, "rename", boom)
    with pytest.raises(OSError):
        buck.rebucket(16)
    monkeypatch.setattr(os, "rename", real_rename)
    assert buck.n_buckets == 4
    assert buck._read_manifest() == 4
    # and the view still merges correctly at the unchanged layout
    delta = orders.limit(20).withColumn("o_orderstatus", F.lit("X"))
    buck.apply(delta, "upsertInto")
    assert _rows(buck.read()) != []


def test_compact_fragmented_buckets(spark, tmp_path):
    """compact() must rewrite ONLY over-fragmented buckets down to one
    file each, preserve content and the replay history exactly, and
    leave healthy buckets' files untouched."""
    from ydb_cdc_processor_spark.operators.bucketed_view import (
        BucketedMaterializedView)

    path = str(tmp_path / "view")
    view = BucketedMaterializedView(spark, path, ["id"], n_buckets=4)
    batch = spark.createDataFrame([(i, f"v{i}") for i in range(64)],
                                  "id long, v string")
    view.merge_touched(batch, lambda target, d: d.unionByName(target),
                       batch_token="tok-keep")
    before = sorted(tuple(r) for r in view.read().collect())

    def files_of(b):
        return sorted(view.bucket_files([b])[b])

    # fragment one bucket's live generation the way an external appender
    # would: same rows, many files
    frag = view._live_dirs([0])[0]
    rows0 = spark.read.parquet(frag).localCheckpoint(eager=True)
    rows0.repartition(8).write.mode("overwrite").parquet(frag)
    assert len(files_of(0)) > 4
    healthy_before = files_of(1)

    n = view.compact(max_files_per_bucket=4)
    assert n == 1
    assert len(files_of(0)) == 1
    assert files_of(1) == healthy_before
    assert view.applied_tokens() == ["tok-keep"]
    assert sorted(tuple(r) for r in view.read().collect()) == before
    # the replay fence survived the physical rewrite
    assert view.merge_touched(batch, lambda t, d: d.unionByName(t),
                              batch_token="tok-keep") is False
    # idempotent: nothing left to compact
    assert view.compact(max_files_per_bucket=4) == 0


def test_rebucket_preserves_bucket_keys_in_manifest(spark, tmp_path):
    """rebucket() must carry bucket_keys into the new manifest — a
    co-located store reopened without repeating bucket_keys= would
    otherwise hash probes over the full key set and read the wrong
    directories (found by review)."""
    from ydb_cdc_processor_spark.operators.bucketed_view import (
        BucketedMaterializedView)
    path = str(tmp_path / "colo")
    mv = BucketedMaterializedView(spark, path, keys=["g", "id"],
                                  bucket_keys=["g"], n_buckets=2)
    df = spark.createDataFrame([(i % 5, i, i) for i in range(100)],
                               "g long, id long, v long")
    mv.apply(df, action="upsertInto")
    mv.rebucket(8)
    reopened = BucketedMaterializedView(spark, path, keys=["g", "id"])
    assert reopened.bucket_keys == ["g"]
    assert reopened.n_buckets == 8
    # probes through the reopened handle still find their rows
    b = [r[0] for r in spark.createDataFrame([(3,)], "g long")
         .select(reopened.bucket_expr().alias("b")).collect()]
    rows = reopened.read_touched(b, df.schema)
    assert rows.where("g = 3").count() == 20


def test_rewrite_rows_preserves_tokens_and_fences_empty_buckets(
        spark, tmp_path):
    """rewrite_rows: in-place housekeeping rewrite — content
    transformed, the applied-token history preserved, and a bucket
    whose rows are ALL removed is dropped from the manifest while the
    replay of the last batch that touched it stays fenced (the fence
    lives in the manifest, not in the bucket)."""
    import os

    from ydb_cdc_processor_spark.operators.bucketed_view import (
        BUCKET_COL, BucketedMaterializedView)
    path = str(tmp_path / "rw")
    mv = BucketedMaterializedView(spark, path, keys=["id"], n_buckets=4)
    df = spark.createDataFrame([(i, i % 10) for i in range(200)],
                               "id long, v long")
    mv.merge_touched(df, lambda target, d: d.unionByName(target),
                     batch_token="tok-a")
    assert mv.bucket_ids() == [0, 1, 2, 3]

    victim = 0
    n = mv.rewrite_rows(
        lambda rows: rows.where((rows["v"] < 2)
                                & (rows[BUCKET_COL] != victim)))
    assert n == 4
    got = mv.read()
    assert got.where("v >= 2").count() == 0
    assert got.count() == spark.createDataFrame(
        [(i, i % 10) for i in range(200)], "id long, v long") \
        .where("v < 2") \
        .withColumn("_b", mv.bucket_expr()).where(f"_b != {victim}").count()
    # the emptied bucket left the manifest and its directory was GC'd
    assert victim not in mv.bucket_ids()
    assert not os.path.isdir(os.path.join(path, f"{BUCKET_COL}={victim}"))
    assert mv.applied_tokens() == ["tok-a"]
    # fence intact: replaying the original batch is still a no-op
    assert mv.merge_touched(df, lambda target, d: d.unionByName(target),
                            batch_token="tok-a") is False
    assert mv.read().where("v >= 2").count() == 0
