"""The engine's old-image read (CdcBatchEngine._read_old_images) on a
bucketed target: a one-column integral/string/boolean key reads the
touched buckets with pyarrow into a local relation ("driver"), with the
rows and schema of the Spark read; multi-column keys, stores without a
stored schema and touched files above autoBroadcastJoinThreshold keep
the Spark read and its checkpoint ("spark")."""

import datetime
import decimal
import json
import os
import uuid

import pyarrow as pa
import pytest

from ydb_cdc_processor_spark.engine import CdcBatchEngine
from ydb_cdc_processor_spark.operators.bucketed_view import (
    BucketedMaterializedView)
from ydb_cdc_processor_spark.plans.pipeline import CdcPipeline
from ydb_cdc_processor_spark.sources import cdc_json
from ydb_cdc_processor_spark.sources.catalog import describe_table

ROWS_SCHEMA = ("k long, v string, ts timestamp, amt decimal(10,2),"
               " score double, day date")
THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


@pytest.fixture(scope="module")
def pipeline(spark, sf_dir):
    schema, pk = describe_table(spark, sf_dir, "events")
    return CdcPipeline(
        name="old_images", source_schema=schema, pk=pk,
        members=cdc_json.EVENTS_MEMBERS,
        update_sql="SELECT event_id, ts, user_id, event_type, value"
                   " FROM rows").validate(spark)


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


def _rows(n):
    """Rows with NULL payloads on every third key and a timestamp."""
    out = []
    for i in range(n):
        if i % 3 == 0:
            out.append((i, None, None, None, None, None))
        else:
            out.append((i, f"v{i}", datetime.datetime(2024, 3, 1, i % 24),
                        decimal.Decimal(i) / 4, i / 7,
                        datetime.date(1999, 1, 1 + i % 28)))
    return out


def _engine(spark, pipeline, mv):
    return CdcBatchEngine(spark, pipeline, mv.path, target_view=mv)


def _local_keys(spark, keys, dtype=pa.int64(), name="k"):
    """A key frame that is itself a local relation, so the read's own
    job count is what the job group sees."""
    from pyspark.sql import types as T
    st = {pa.int64(): T.LongType(), pa.string(): T.StringType()}[dtype]
    return spark.createDataFrame(
        pa.table({name: pa.array(keys, dtype)}),
        T.StructType([T.StructField(name, st)]))


def _spark_path(spark, fn):
    """``fn()`` with every touched read over the broadcast threshold."""
    prev = spark.conf.get(THRESHOLD)
    spark.conf.set(THRESHOLD, "1k")
    try:
        return fn()
    finally:
        spark.conf.set(THRESHOLD, prev)


def _expected(mv, key_rows, keys):
    return sorted(mv.read().join(key_rows, on=keys, how="left_semi")
                  .collect(), key=str)


def test_driver_old_images_match_spark_path(spark, pipeline, tmp_path):
    """A one-column long key: the read runs 0 Spark jobs, returns a local
    relation, and equals the Spark read it falls back to when the
    touched files exceed autoBroadcastJoinThreshold, in rows and schema
    — NULL payloads, timestamps, decimals and dates included; absent
    and NULL keys match nothing."""
    mv = BucketedMaterializedView(spark, str(tmp_path / "view"), ["k"],
                                  n_buckets=8)
    mv.apply(spark.createDataFrame(_rows(120), ROWS_SCHEMA))
    eng = _engine(spark, pipeline, mv)
    keys = _local_keys(spark, [0, 1, 5, 6, 7, 33, 119, 500, None])

    (fast, how), n_jobs = _jobs(
        spark, lambda: eng._read_old_images(keys, ["k"]))
    assert how == "driver"
    got, n_jobs2 = _jobs(spark, fast.collect)
    assert n_jobs == n_jobs2 == 0

    wheres = []
    real = mv.read_touched

    def spy(touched, delta_schema=None, where=None):
        wheres.append(where)
        return real(touched, delta_schema, where=where)
    mv.read_touched = spy
    (slow, how), n_jobs = _jobs(spark, lambda: _spark_path(
        spark, lambda: eng._read_old_images(keys, ["k"])))
    del mv.read_touched
    assert how == "spark" and n_jobs > 0
    # over the threshold the keys are semi-joined, not an IN-list filter
    assert wheres[-1] is None
    assert fast.schema == slow.schema
    assert sorted(got, key=str) == sorted(slow.collect(), key=str) \
        == _expected(mv, keys, ["k"])
    assert len(got) == 7
    assert {r.k for r in got if r.v is None} == {0, 6, 33}
    assert all(r.ts is not None for r in got if r.v is not None)

    # no key at all: an empty local relation with the view's schema
    empty, n_jobs = _jobs(spark, lambda: eng._read_old_images(
        _local_keys(spark, []), ["k"])[0].collect())
    assert empty == [] and n_jobs == 0


def test_driver_old_images_string_key(spark, pipeline, tmp_path):
    mv = BucketedMaterializedView(spark, str(tmp_path / "view"), ["s"],
                                  n_buckets=4)
    mv.apply(spark.createDataFrame(
        [(f"k{i}", i if i % 2 else None) for i in range(40)],
        "s string, x long"))
    eng = _engine(spark, pipeline, mv)
    keys = _local_keys(spark, ["k1", "k2", "k39", "nope"], pa.string(), "s")
    old, how = eng._read_old_images(keys, ["s"])
    got = old.collect()
    assert how == "driver"
    assert sorted(got) == _expected(mv, keys, ["s"])
    assert len(got) == 3


def test_multi_column_key_falls_back_to_spark(spark, pipeline, tmp_path):
    mv = BucketedMaterializedView(spark, str(tmp_path / "view"),
                                  ["a", "b"], n_buckets=4)
    mv.apply(spark.createDataFrame(
        [(i % 5, i, f"v{i}" if i % 4 else None) for i in range(60)],
        "a long, b long, v string"))
    eng = _engine(spark, pipeline, mv)
    keys = spark.createDataFrame([(1, 1), (2, 7), (3, 3), (9, 9)],
                                 "a long, b long")
    old, how = eng._read_old_images(keys, ["a", "b"])
    got = old.collect()
    assert how == "spark"
    assert sorted(got, key=str) == _expected(mv, keys, ["a", "b"])
    assert len(got) == 3


def test_store_without_stored_schema_falls_back_to_spark(
        spark, pipeline, tmp_path):
    path = str(tmp_path / "legacy")
    mv = BucketedMaterializedView(spark, path, ["k"], n_buckets=4)
    mv.apply(spark.createDataFrame(_rows(40), ROWS_SCHEMA))
    man = os.path.join(path, "_buckets.json")
    doc = json.load(open(man))
    doc.pop("schema")
    json.dump(doc, open(man, "w"))
    mv = BucketedMaterializedView(spark, path, ["k"])
    eng = _engine(spark, pipeline, mv)
    keys = _local_keys(spark, [1, 2, 3, 77])
    old, how = eng._read_old_images(keys, ["k"])
    got = old.collect()
    assert how == "spark"
    assert sorted(got, key=str) == _expected(mv, keys, ["k"])
    assert len(got) == 3
