"""SnapshotView — hardlink time travel over a flat materialized view:
every retained version reads exactly as the view stood, across later
swaps, deletes, retention pruning, and replay re-snapshots."""

import pytest
from pyspark.sql import functions as F

from ydb_cdc_processor_spark.operators.merge import ParquetMaterializedView
from ydb_cdc_processor_spark.operators.snapshot import SnapshotView


from pyspark.sql import types as T

_SCHEMA = T.StructType([T.StructField("k", T.LongType()),
                        T.StructField("v", T.StringType())])


def _mv(spark, tmp_path, name="mv"):
    return ParquetMaterializedView(spark, str(tmp_path / name), ["k"],
                                   schema=_SCHEMA)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_versions_survive_later_swaps(spark, tmp_path):
    mv = _mv(spark, tmp_path)
    snap = SnapshotView(mv, keep_last=5)
    b1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    mv.apply(b1)
    v1 = snap.snapshot()
    mv.apply(spark.createDataFrame([(2, "B"), (3, "c")],
                                   "k long, v string"))
    v2 = snap.snapshot()
    mv.apply(spark.createDataFrame([(1,)], "k long"), action="deleteFrom")

    # live state moved on; both versions read as they stood
    assert _rows(snap.read_as_of(v1)) == [(1, "a"), (2, "b")]
    assert _rows(snap.read_as_of(v2)) == [(1, "a"), (2, "B"), (3, "c")]
    assert _rows(mv.read()) == [(2, "B"), (3, "c")]
    assert [v["version"] for v in snap.versions()] == [v1, v2]


def test_retention_prunes_oldest(spark, tmp_path):
    mv = _mv(spark, tmp_path)
    snap = SnapshotView(mv, keep_last=2)
    for i in range(4):
        mv.apply(spark.createDataFrame([(i, f"v{i}")], "k long, v string"))
        snap.snapshot()
    kept = [v["version"] for v in snap.versions()]
    assert kept == [3, 4]
    with pytest.raises(FileNotFoundError, match="retained"):
        snap.read_as_of(1)
    assert _rows(snap.read_as_of(3)) == [(0, "v0"), (1, "v1"), (2, "v2")]


def test_labeled_snapshot_collapses_replay(spark, tmp_path):
    """A replayed batch that re-snapshots under the same label re-uses
    the existing version instead of minting a duplicate."""
    mv = _mv(spark, tmp_path)
    snap = SnapshotView(mv, keep_last=5)
    mv.apply(spark.createDataFrame([(1, "a")], "k long, v string"))
    v = snap.snapshot(label="batch:7")
    again = snap.snapshot(label="batch:7")   # replay
    assert v == again and len(snap.versions()) == 1

    with pytest.raises(ValueError, match="keep_last"):
        SnapshotView(mv, keep_last=0)
    empty = _mv(spark, tmp_path, "nv")
    with pytest.raises(FileNotFoundError, match="no state"):
        SnapshotView(empty).snapshot()


def test_bucketed_snapshot_shares_untouched_inodes(spark, tmp_path):
    """Snapshots of a BUCKETED view: versions read correctly across
    touched-bucket rewrites, and files of buckets a later batch never
    touched are THE SAME inodes in consecutive snapshots — storage
    grows with churn, not view size."""
    import os
    from ydb_cdc_processor_spark.operators.bucketed_view import (
        BucketedMaterializedView)

    mv = BucketedMaterializedView(spark, str(tmp_path / "bv"),
                                  keys=["k"], n_buckets=8)
    snap = SnapshotView(mv, keep_last=5)
    base = spark.createDataFrame([(i, f"v{i}") for i in range(64)],
                                 "k long, v string")
    mv.apply(base)
    v1 = snap.snapshot()
    # touch exactly one key → one bucket rewritten
    mv.apply(spark.createDataFrame([(3, "CHANGED")], "k long, v string"))
    v2 = snap.snapshot()

    a = {r.k: r.v for r in snap.read_as_of(v1).collect()}
    b = {r.k: r.v for r in snap.read_as_of(v2).collect()}
    assert a[3] == "v3" and b[3] == "CHANGED"
    assert {k: v for k, v in b.items() if k != 3} == \
        {k: v for k, v in a.items() if k != 3}

    def inodes(version):
        out = {}
        root = os.path.join(snap.snap_dir, f"v{version}")
        for r, _d, files in os.walk(root):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(r, f)
                    out[os.path.relpath(p, root)] = os.stat(p).st_ino
        return out

    i1, i2 = inodes(v1), inodes(v2)
    shared = {p for p in i1 if p in i2 and i1[p] == i2[p]}
    changed = {p for p in set(i1) | set(i2) if p not in shared}
    assert shared, "untouched buckets must share inodes across versions"
    # only the rewritten bucket's files (and any manifest) may differ
    touched_dirs = {p.split(os.sep)[0] for p in changed}
    assert len(touched_dirs) <= 2, (touched_dirs)


def test_snapshots_under_object_store_semantics(spark, tmp_path,
                                                monkeypatch):
    """Snapshots publish without a directory rename, so they run under
    ObjectStoreSimStorage (which refuses one) over a flat and a bucketed
    view: a version torn before its _snap.json is not listed, and the
    next snapshot clears and reuses that slot."""
    import os

    from ydb_cdc_processor_spark import storage
    from ydb_cdc_processor_spark.operators.bucketed_view import (
        BucketedMaterializedView)
    from ydb_cdc_processor_spark.storage import ObjectStoreSimStorage

    b1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    b2 = spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string")
    b3 = spark.createDataFrame([(4, "d")], "k long, v string")
    real = storage.replace_text

    def torn(path, text):
        if path.endswith("_snap.json"):
            raise OSError("crash before the version is published")
        real(path, text)

    with storage.backend_scope(ObjectStoreSimStorage()):
        for mv in (_mv(spark, tmp_path, "flat"),
                   BucketedMaterializedView(spark, str(tmp_path / "bkt"),
                                            ["k"], n_buckets=4)):
            snap = SnapshotView(mv, keep_last=3)
            mv.apply(b1)
            v1 = snap.snapshot()
            mv.apply(b2)
            monkeypatch.setattr(storage, "replace_text", torn)
            with pytest.raises(OSError, match="crash"):
                snap.snapshot()
            monkeypatch.setattr(storage, "replace_text", real)
            assert [v["version"] for v in snap.versions()] == [v1]
            assert os.path.isdir(os.path.join(snap.snap_dir, f"v{v1 + 1}"))
            with pytest.raises(FileNotFoundError):
                snap.read_as_of(v1 + 1)
            mv.apply(b3)
            v2 = snap.snapshot()
            assert v2 == v1 + 1
            assert _rows(snap.read_as_of(v1)) == [(1, "a"), (2, "b")]
            assert _rows(snap.read_as_of(v2)) == \
                [(1, "a"), (2, "B"), (3, "c"), (4, "d")]
            slot = os.path.join(snap.snap_dir, f"v{v2}")
            n_data = sum(1 for _r, _d, fs in os.walk(slot) for f in fs
                         if f.endswith(".parquet"))
            assert n_data == snap.versions()[-1]["n_files"]
