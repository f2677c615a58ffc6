"""SecondaryIndex — CDC-maintained value→pk index; lookups read only the
probed values' buckets and maintenance converges to the fact state."""

import uuid

import pytest
from pyspark.sql import functions as F

from ydb_cdc_processor_spark.operators.secondary_index import SecondaryIndex


def _fact(spark, rows):
    return spark.createDataFrame(
        rows, "order_id long, status string, amount long")


def _ix(spark, tmp_path, n_buckets=4):
    return SecondaryIndex(spark, str(tmp_path / "ix"), pk=["order_id"],
                          col="status", n_buckets=n_buckets)


def _entries(ix):
    return sorted((r.status, r.order_id) for r in ix.read().collect())


def test_maintenance_tracks_fact_state(spark, tmp_path):
    ix = _ix(spark, tmp_path)
    f1 = _fact(spark, [(1, "open", 10), (2, "open", 20), (3, "paid", 30)])
    ix.apply_delta(f1, None)
    assert _entries(ix) == [("open", 1), ("open", 2), ("paid", 3)]

    # value change: order 1 open→paid; old image routes the stale delete
    f2 = _fact(spark, [(1, "paid", 10)])
    ix.apply_delta(f2, f1.where("order_id = 1").localCheckpoint(True))
    assert _entries(ix) == [("open", 2), ("paid", 1), ("paid", 3)]

    # delete-only batch
    ix.apply_delta(None, _fact(spark, [(3, "paid", 30)])
                   .localCheckpoint(True))
    assert _entries(ix) == [("open", 2), ("paid", 1)]

    # replay of the value-change batch: unchanged (old image now absent
    # post-merge, so the feed would hand the CURRENT image — idempotent)
    ix.apply_delta(f2, _fact(spark, [(1, "paid", 10)])
                   .localCheckpoint(True))
    assert _entries(ix) == [("open", 2), ("paid", 1)]


def test_null_values_indexable(spark, tmp_path):
    ix = _ix(spark, tmp_path)
    f1 = _fact(spark, [(1, None, 10), (2, "open", 20)])
    ix.apply_delta(f1, None)
    got = ix.lookup([None]).collect()
    assert [(r.status, r.order_id) for r in got] == [(None, 1)]
    # replace the null-valued row — must not duplicate
    ix.apply_delta(_fact(spark, [(1, None, 11)]),
                   f1.where("order_id = 1").localCheckpoint(True))
    assert ix.read().count() == 2


def test_lookup_reads_only_probed_buckets(spark, tmp_path):
    ix = _ix(spark, tmp_path, n_buckets=8)
    rows = [(i, f"s{i % 40}", i) for i in range(400)]
    ix.apply_delta(_fact(spark, rows), None)

    asked = []
    orig = ix.view.read_touched

    def spy(buckets, *a, **kw):
        asked.append(sorted(buckets))
        return orig(buckets, *a, **kw)

    ix.view.read_touched = spy
    got = ix.lookup(["s7"]).collect()
    assert len(asked) == 1 and len(asked[0]) == 1
    assert sorted(r.order_id for r in got) == list(range(7, 400, 40))


def test_lookup_before_build_refuses(spark, tmp_path):
    ix = _ix(spark, tmp_path)
    with pytest.raises(FileNotFoundError):
        ix.lookup(["x"])


def test_engine_drives_index(spark, sf_dir, tmp_path):
    """CdcBatchEngine(agg_views=[ix.feed()]): the index tracks the row
    view through the full fixture batch (upserts + deletes), ending
    consistent with the view."""
    from ydb_cdc_processor_spark import CdcBatchEngine, CdcPipeline
    from ydb_cdc_processor_spark.sources import cdc_json
    from ydb_cdc_processor_spark.sources.catalog import describe_table

    schema, pk = describe_table(spark, sf_dir, "events")
    fixture = str(tmp_path / "cdc")
    cdc_json.write_events_cdc_fixture(spark, sf_dir, fixture)
    ix = SecondaryIndex(spark, str(tmp_path / "ix"), pk=["event_id"],
                        col="event_type", n_buckets=4)
    p = CdcPipeline(
        name="ix_fact", source_schema=schema, pk=pk,
        members=cdc_json.EVENTS_MEMBERS,
        update_sql="SELECT event_id, ts, user_id, event_type, value "
                   "FROM rows",
        delete_sql="SELECT event_id FROM rows").validate(spark)
    eng = CdcBatchEngine(spark, p, str(tmp_path / "view"),
                         agg_views=[ix.feed()])
    eng.apply_raw_batch(cdc_json.read_cdc_batch(spark, fixture))
    view = eng.read_view()
    assert ix.read().count() == view.count()
    # a point lookup agrees with the scan
    some_type = view.select("event_type").first()[0]
    got = sorted(r.order_id if hasattr(r, "order_id") else r.event_id
                 for r in ix.lookup([some_type]).collect())
    exp = sorted(r.event_id for r in
                 view.where(F.col("event_type") == some_type).collect())
    assert got == exp


def test_stream_maintains_index_across_restart(spark, sf_dir, tmp_path):
    """The index rides the STREAM engine's agg_views feed: maintained
    across >=3 micro-batches, survives kill/restart (fresh objects, same
    checkpoint), and after post-restart updates+deletes lands consistent
    with the row view."""
    import json as _json
    import os

    from ydb_cdc_processor_spark import CdcPipeline
    from ydb_cdc_processor_spark.sources import cdc_json
    from ydb_cdc_processor_spark.sources.catalog import describe_table
    from ydb_cdc_processor_spark.streaming.engine import CdcStreamEngine

    schema, pk = describe_table(spark, sf_dir, "events")
    src = str(tmp_path / "cdc_src")
    cdc_json.write_events_cdc_fixture(spark, sf_dir, src,
                                      n_partitions=3, limit=600)
    p = CdcPipeline(
        name="ix_stream", source_schema=schema, pk=pk,
        members=cdc_json.EVENTS_MEMBERS,
        update_sql="SELECT event_id, ts, user_id, event_type, value "
                   "FROM rows",
        delete_sql="SELECT event_id FROM rows").validate(spark)
    view, ckpt = str(tmp_path / "view"), str(tmp_path / "ckpt")

    def engine():
        ix = SecondaryIndex(spark, str(tmp_path / "ix"),
                            pk=["event_id"], col="event_type",
                            n_buckets=4)
        return CdcStreamEngine(spark, p, view, ckpt, max_retries=2,
                               agg_views=[ix.feed()]), ix

    def check(se, ix):
        got = sorted((r.event_type, r.event_id)
                     for r in ix.read().collect())
        exp = sorted((r.event_type, r.event_id)
                     for r in se.batch_engine.read_view()
                     .select("event_type", "event_id").collect())
        assert got == exp

    se1, ix1 = engine()
    q = se1.start(src, available_now=True, max_files_per_trigger=1)
    q.awaitTermination()
    assert se1.status().batches >= 3
    check(se1, ix1)
    se1.stop()

    ids = [r.event_id for r in
           se1.batch_engine.read_view().orderBy("event_id")
           .limit(20).collect()]
    lines = [cdc_json.envelope([i], erase=True) for i in ids[:10]]
    lines += [cdc_json.envelope(
        [i], {"ts": "2024-06-01T00:00:00Z", "user_id": 1,
              "event_type": "reindexed", "value": 1.0, "props": None})
        for i in ids[10:20]]
    with open(os.path.join(src, "part-late.json"), "w") as f:
        for off, line in enumerate(lines):
            f.write(_json.dumps({"value": line, "_partition": 0,
                                 "_offset": 10_000 + off}) + "\n")

    se2, ix2 = engine()
    status = se2.run_available(src)
    assert status.ok and status.totals.deleted > 0
    check(se2, ix2)
    assert ix2.lookup(["reindexed"]).count() == 10


def test_lookup_miss_on_absent_bucket_returns_empty(spark, tmp_path):
    """A probed value whose bucket directory was never written must
    return an EMPTY typed frame, not crash on schema inference (found
    by review: read_touched on a schema-less store with zero present
    dirs raised ValueError)."""
    ix = _ix(spark, tmp_path, n_buckets=64)  # sparse: most dirs absent
    ix.apply_delta(_fact(spark, [(1, "only", 10)]), None)
    for probe in ["missing-a", "missing-b", "missing-c"]:
        got = ix.lookup([probe])
        assert got.count() == 0
        assert set(got.columns) == {"status", "order_id"}


def test_lookup_probe_rendering_matches_spark_cast(spark, tmp_path):
    """Probes must render via Spark's cast, not Python str(): booleans
    ('true' vs 'True') and large doubles ('1.0E20' vs '1e+20') would
    otherwise silently miss stored rows (found by review)."""
    from ydb_cdc_processor_spark.operators.secondary_index import (
        SecondaryIndex)
    rows = spark.createDataFrame(
        [(1, True, 1.0e20), (2, False, 0.0001), (3, True, 5.0)],
        "id long, flag boolean, score double")
    fx = SecondaryIndex(spark, str(tmp_path / "fx"), pk=["id"],
                        col="flag", n_buckets=4)
    fx.apply_delta(rows.select("id", "flag"), None)
    assert sorted(r.id for r in fx.lookup([True]).collect()) == [1, 3]
    dx = SecondaryIndex(spark, str(tmp_path / "dx"), pk=["id"],
                        col="score", n_buckets=4)
    dx.apply_delta(rows.select("id", "score"), None)
    assert [r.id for r in dx.lookup([1.0e20]).collect()] == [1]
    assert [r.id for r in dx.lookup([0.0001]).collect()] == [2]


def test_first_batch_with_stale_old_images_bootstraps(spark, tmp_path):
    """The engine's old-image feed can carry images on the index's very
    FIRST batch (fact view predates the index).  A delete in that batch
    must not crash on the absent store (found by review:
    FileNotFoundError from deleteFrom-before-existence)."""
    ix = _ix(spark, tmp_path)
    f_old = _fact(spark, [(1, "open", 10), (2, "open", 20)])
    # delete-only first batch: new=None, old images present
    ix.apply_delta(None, f_old.localCheckpoint(True))
    # upsert+delete first batch on a second fresh index
    ix2 = SecondaryIndex(spark, str(tmp_path / "ix2"), pk=["order_id"],
                         col="status", n_buckets=4)
    ix2.apply_delta(_fact(spark, [(1, "paid", 11)]),
                    f_old.localCheckpoint(True))
    assert _entries(ix2) == [("paid", 1)]


# -- the Spark-free lookup path ----------------------------------------------

def _jobs(spark, fn):
    """``fn()`` and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _same_as_spark_path(spark, ix, values, monkeypatch):
    """``ix.lookup(values)`` runs no Spark job and returns the rows and
    schema of the same lookup with driver-side rendering disabled (the
    probe rendered, routed and read through Spark)."""
    fast, n_jobs = _jobs(spark, lambda: ix.lookup(values))
    got, n_jobs2 = _jobs(spark, fast.collect)
    assert n_jobs == n_jobs2 == 0
    with monkeypatch.context() as m:
        m.setattr(ix, "_probe_keys", lambda v: None)
        slow = ix.lookup(values)
    assert fast.schema == slow.schema
    assert sorted(got) == sorted(slow.collect())
    return got


def test_fast_lookup_equals_spark_path(spark, tmp_path, monkeypatch):
    """Nulls, multi-value probes, misses on absent buckets, several
    files per bucket and the compacted layout: the driver path returns
    the Spark path's rows and schema, without a Spark job."""
    ix = _ix(spark, tmp_path, n_buckets=64)   # sparse: most dirs absent
    rows = [(i, None if i % 9 == 0 else f"s{i % 13}", i) for i in range(200)]
    ix.apply_delta(_fact(spark, rows), None)
    probe = [None, "s1", "s7", "s7", "missing-a", "missing-b"]
    got = _same_as_spark_path(spark, ix, probe, monkeypatch)
    assert sorted(r.order_id for r in got) == sorted(
        i for i, s, _ in rows if s in (None, "s1", "s7"))
    assert _same_as_spark_path(spark, ix, ["missing-a"], monkeypatch) == []

    # a second batch written at 3 rows per file: several files per bucket
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "3")
    try:
        ix.apply_delta(
            _fact(spark, [(i, f"s{i % 5}", i) for i in range(200, 260)]),
            None)
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    probe = [None, "s1", "s2", "s3", "missing-a"]
    before = _same_as_spark_path(spark, ix, probe, monkeypatch)
    assert ix.view.compact(max_files_per_bucket=1) > 0
    assert sorted(before) == sorted(
        _same_as_spark_path(spark, ix, probe, monkeypatch))


def test_fast_lookup_boolean_column(spark, tmp_path, monkeypatch):
    rows = spark.createDataFrame(
        [(1, True), (2, False), (3, None), (4, True)], "id long, flag boolean")
    fx = SecondaryIndex(spark, str(tmp_path / "fx"), pk=["id"],
                        col="flag", n_buckets=4)
    fx.apply_delta(rows, None)
    got = _same_as_spark_path(spark, fx, [True, None], monkeypatch)
    assert sorted(r.id for r in got) == [1, 3, 4]


def test_lookup_zero_jobs_for_hit_and_miss(spark, tmp_path):
    ix = _ix(spark, tmp_path, n_buckets=8)
    ix.apply_delta(_fact(spark, [(i, f"s{i % 4}", i) for i in range(40)]),
                   None)
    hit, n_hit = _jobs(spark, lambda: ix.lookup(["s2"]).collect())
    miss, n_miss = _jobs(spark, lambda: ix.lookup(["nope"]).collect())
    assert sorted(r.order_id for r in hit) == list(range(2, 40, 4))
    assert miss == [] and n_hit == 0 and n_miss == 0


def test_lookup_falls_back_for_unproven_column_types(spark, tmp_path):
    """Double and timestamp probes keep the Spark rendering (Python's
    str() disagrees with Spark's cast for both)."""
    import datetime as dt
    ts = [dt.datetime(2024, 1, 1, 12, 30), dt.datetime(1969, 12, 31, 23)]
    rows = spark.createDataFrame(
        [(1, 1.0e20, ts[0]), (2, 0.0001, ts[1]), (3, 1.0e20, None)],
        "id long, score double, at timestamp")
    for col, probe, want in (("score", [1.0e20], [1, 3]),
                             ("at", [ts[1], None], [2, 3])):
        ix = SecondaryIndex(spark, str(tmp_path / col), pk=["id"],
                            col=col, n_buckets=4)
        ix.apply_delta(rows.select("id", col), None)
        assert ix._probe_keys(probe) is None
        got, n_jobs = _jobs(spark, lambda: ix.lookup(probe).collect())
        assert sorted(r.id for r in got) == want and n_jobs > 0


def test_lookup_falls_back_over_threshold_and_without_schema(
        spark, tmp_path):
    """Touched files above spark.sql.autoBroadcastJoinThreshold, and a
    store whose manifest has no stored schema, read through Spark and
    return the same rows."""
    import json
    ix = _ix(spark, tmp_path, n_buckets=8)
    ix.apply_delta(_fact(spark, [(i, f"s{i % 6}", i) for i in range(60)]),
                   None)
    want = sorted(ix.lookup(["s3", None]).collect())
    assert want

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1b")
    try:
        got, n_jobs = _jobs(spark, lambda: ix.lookup(["s3", None]).collect())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(64 * 1024 * 1024))
    assert sorted(got) == want and n_jobs > 0

    manifest = tmp_path / "ix" / "entries" / "_buckets.json"
    doc = json.loads(manifest.read_text())
    del doc["schema"]
    manifest.write_text(json.dumps(doc))
    got, n_jobs = _jobs(spark, lambda: ix.lookup(["s3", None]).collect())
    assert sorted(got) == want and n_jobs > 0


def test_filtered_read_of_widened_store_matches_spark(spark, tmp_path):
    """read_touched(where=...) on a store widened by a later batch:
    files written before the widening read the new columns as NULL,
    with the Spark read's types and values (timestamp, decimal, double
    and date included)."""
    from ydb_cdc_processor_spark.operators.bucketed_view import (
        BucketedMaterializedView)
    v = BucketedMaterializedView(spark, str(tmp_path / "w"), ["k", "id"],
                                 bucket_keys=["k"], n_buckets=4)
    v.apply(spark.createDataFrame([(f"k{i % 5}", i) for i in range(20)],
                                  "k string, id long"))
    v.apply(spark.sql(
        "SELECT 'k1' AS k, 100L AS id, TIMESTAMP'2024-03-01 10:00:00' AS at,"
        " CAST(12.34 AS DECIMAL(10,2)) AS amt, 0.1D AS score,"
        " DATE'1999-12-31' AS day"))
    touched, where = list(range(4)), ("k", ["k1", "k2", "k4", None])
    fast_df, n_jobs = _jobs(spark, lambda: v.read_touched(touched,
                                                          where=where))
    fast, n_jobs2 = _jobs(spark, fast_df.collect)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        slow_df = v.read_touched(touched, where=where)
        slow = slow_df.collect()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(64 * 1024 * 1024))
    assert n_jobs == n_jobs2 == 0
    assert fast_df.schema == slow_df.schema
    assert sorted(fast, key=str) == sorted(slow, key=str)
    assert len(fast) == 13
    new = [r for r in fast if r.id == 100]
    assert new[0].amt is not None and new[0].at is not None
    assert all(r.at is None for r in fast if r.id != 100)


def test_lookup_after_torn_rebucket_routes_by_restored_layout(
        spark, tmp_path, monkeypatch):
    """A handle opened at 4 buckets; another handle rebuckets to 8, then
    crashes at the commit of a rebucket to 16 (its 16-bucket generations
    are on disk, the manifest still says 8).  The old handle's lookup
    must route its probes by the committed 8-bucket layout, not by the 4
    buckets it last saw nor by the uncommitted 16."""
    from ydb_cdc_processor_spark import storage

    ix = _ix(spark, tmp_path, n_buckets=4)
    rows = [(i, f"s{i % 40}", i) for i in range(400)]
    ix.apply_delta(_fact(spark, rows), None)
    other = _ix(spark, tmp_path)
    other.view.rebucket(8)

    class Killed(BaseException):
        pass

    real = storage.replace_text

    def replace_text(path, text):
        if path == other.view._manifest_path():
            raise Killed()
        real(path, text)

    monkeypatch.setattr(storage, "replace_text", replace_text)
    with pytest.raises(Killed):
        other.view.rebucket(16)
    monkeypatch.setattr(storage, "replace_text", real)
    assert (tmp_path / "ix" / "entries" / "_bucket=15").exists()

    values = [f"s{j}" for j in range(40)]
    got = ix.lookup(values).collect()
    assert ix.view.n_buckets == 8
    assert sorted((r.status, r.order_id) for r in got) == sorted(
        (s, i) for i, s, _ in rows)
