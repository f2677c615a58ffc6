"""The bucketed store's generation-manifest commit protocol.

Every write path stages its buckets under a fresh generation and
publishes with ONE manifest replace; superseded generations are garbage.
The first half runs the store (and the flat view, which commits through
the same manifest) under ObjectStoreSimStorage, which RAISES on any
directory rename — passing proves no path depends on the primitive
object stores lack.  The second half leaves superseded
generations and a stray staged batch on disk (deletes disabled, a
crash at the commit) and checks that every reader of the store's
directories returns exactly the live rows."""

from __future__ import annotations

import datetime as dt
import os
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from ydb_cdc_processor_spark import storage
from ydb_cdc_processor_spark.operators.bucketed_view import (
    BUCKET_COL, MANIFEST, STAGING, BucketedMaterializedView)
from ydb_cdc_processor_spark.operators.merge import merge_upsert
from ydb_cdc_processor_spark.operators.range_view import (
    RangePartitionedView)
from ydb_cdc_processor_spark.storage import (
    ObjectStoreSimStorage, PosixStorage)


class _Crash(BaseException):
    """A hard crash at the commit point (BaseException: no handler in
    the library swallows it)."""


class _KeepFiles(PosixStorage):
    """Deletes never land — garbage collection is best effort."""

    def remove_tree(self, path: str) -> None:
        pass


@pytest.fixture
def objstore():
    with storage.backend_scope(ObjectStoreSimStorage()) as b:
        yield b


@pytest.fixture
def keep_files():
    with storage.backend_scope(_KeepFiles()) as b:
        yield b


@contextmanager
def _crash_at_commit(backend):
    """The next manifest replace dies: the batch is written and its
    files sit in their generation, but nothing names them."""
    real = backend.replace_text

    def boom(path, text):
        if path.endswith(MANIFEST):
            raise _Crash()
        return real(path, text)
    backend.replace_text = boom
    try:
        with pytest.raises(_Crash):
            yield
    finally:
        del backend.replace_text


def _rows(spark, triples):
    return spark.createDataFrame(triples, "k int, grp string, v int")


def _kv(df):
    return sorted((r["k"], r["v"]) for r in df.select("k", "v").collect())


def _add_counts(target, d):
    """A NON-idempotent merge: ``n`` adds up per key."""
    return (target.unionByName(d).groupBy("k", BUCKET_COL)
            .agg(F.sum("n").alias("n")))


def _gen_dirs(view) -> list[str]:
    return [os.path.join(e, g) for e in os.listdir(view.path)
            if e.startswith(f"{BUCKET_COL}=")
            for g in os.listdir(os.path.join(view.path, e))]


def _assert_stale_on_disk(view):
    """The fixture state really is there: more generation directories
    than the manifest names, and a staged batch."""
    assert len(_gen_dirs(view)) > len(view.bucket_ids())
    assert os.listdir(os.path.join(view.path, STAGING))


# -- the protocol under object-store semantics --------------------------------

def test_lifecycle_under_object_store_semantics(spark, tmp_path, objstore):
    bv = BucketedMaterializedView(spark, str(tmp_path / "bv"), ["k"],
                                  n_buckets=4)
    bv.apply(_rows(spark, [(i, "a", i * 10) for i in range(20)]))
    bv.apply_batch(_rows(spark, [(3, "b", 999), (21, "b", 210)]),
                   spark.createDataFrame([(4,)], "k int"))
    bv.apply(spark.createDataFrame([(5,), (6,)], "k int"),
             action="deleteFrom")
    got = {(r["k"], r["grp"], r["v"]) for r in bv.read().collect()}
    want = ({(i, "a", i * 10) for i in range(20) if i not in (3, 4, 5, 6)}
            | {(3, "b", 999), (21, "b", 210)})
    assert got == want


def test_replay_token_skips_whole_batch(spark, tmp_path, objstore):
    bv = BucketedMaterializedView(spark, str(tmp_path / "bv"), ["k"],
                                  n_buckets=4)
    b = spark.createDataFrame([(1, 1), (2, 1)], "k int, n long")
    assert bv.merge_touched(b, _add_counts, batch_token="g:0") is True
    gens_before = bv._read_manifest_dict()["gens"]
    assert bv.merge_touched(b, _add_counts, batch_token="g:0") is False
    assert bv._read_manifest_dict()["gens"] == gens_before  # none minted
    assert sorted(tuple(r) for r in bv.read().collect()) == [(1, 1), (2, 1)]


def test_crash_before_manifest_swap_is_invisible_then_converges(
        spark, tmp_path, objstore):
    """The only crash window that matters: generations written, manifest
    replace never ran.  Readers see the OLD state, vacuum removes the
    strays, and the replay of the non-idempotent batch lands once."""
    bv = BucketedMaterializedView(spark, str(tmp_path / "bv"), ["k"],
                                  n_buckets=4)
    bv.merge_touched(spark.createDataFrame([(i, 10) for i in range(8)],
                                           "k int, n long"),
                     _add_counts, batch_token="g:0")
    before = sorted(tuple(r) for r in bv.read().collect())
    delta = spark.createDataFrame([(0, 1), (99, 1)], "k int, n long")
    with _crash_at_commit(objstore):
        bv.merge_touched(delta, _add_counts, batch_token="g:1")
    fresh = BucketedMaterializedView(spark, bv.path, ["k"])
    assert sorted(tuple(r) for r in fresh.read().collect()) == before
    assert fresh.vacuum() > 0                       # strays GC'd
    assert len(_gen_dirs(fresh)) == len(fresh.bucket_ids())
    assert not os.path.exists(os.path.join(fresh.path, STAGING))
    assert fresh.merge_touched(delta, _add_counts, batch_token="g:1")
    assert fresh.merge_touched(delta, _add_counts,
                               batch_token="g:1") is False
    after = dict(tuple(r) for r in fresh.read().collect())
    assert after == {**dict(before), 0: 11, 99: 1}


def test_superseded_generations_unreachable_even_if_delete_fails(
        spark, tmp_path, keep_files):
    """Correctness never depends on the GC delete landing: leave the
    old generations on disk and the reader must still see only the
    manifest's current ones."""
    bv = BucketedMaterializedView(spark, str(tmp_path / "bv"), ["k"],
                                  n_buckets=2)
    bv.apply(_rows(spark, [(1, "a", 1), (2, "a", 2)]))
    bv.apply(_rows(spark, [(1, "a", 11)]))
    assert _kv(bv.read()) == [(1, 11), (2, 2)]
    assert len(_gen_dirs(bv)) > len(bv.bucket_ids())   # stale on disk
    bv.vacuum()


def test_reopen_reads_manifest_layout(spark, tmp_path, objstore):
    bv = BucketedMaterializedView(spark, str(tmp_path / "bv"), ["k", "grp"],
                                  n_buckets=8, bucket_keys=["k"])
    bv.apply(_rows(spark, [(1, "a", 1)]))
    again = BucketedMaterializedView(spark, bv.path, ["k", "grp"],
                                     n_buckets=64)  # stale defaults
    assert again.n_buckets == 8 and again.bucket_keys == ["k"]
    assert again.read().count() == 1


def test_every_batch_path_runs_without_directory_rename(
        spark, tmp_path, objstore):
    """apply_batch, merge_touched, compact, rewrite_rows, rebucket,
    replace_with, the range view's reshard_granule / drop_range, a
    VectorIndex retrain and TextIndex apply_delta + merge_from all
    commit through the manifest, so each runs under the simulator's
    no-rename rule."""
    bv = BucketedMaterializedView(spark, str(tmp_path / "bv"), ["k"],
                                  n_buckets=4)
    bv.apply_batch(_rows(spark, [(i, "a", i) for i in range(40)]),
                   spark.createDataFrame([(0,)], "k int"))
    bv.merge_touched(_rows(spark, [(1, "b", 100)]),
                     lambda t, d: merge_upsert(t, d, ["k", BUCKET_COL]),
                     batch_token="p:0")
    want = {i: i for i in range(1, 40)} | {1: 100}
    assert dict(_kv(bv.read())) == want
    assert bv.compact(max_files_per_bucket=0) == 4
    assert bv.rewrite_rows(lambda r: r.where("k % 2 = 1")) == 4
    want = {k: v for k, v in want.items() if k % 2 == 1}
    assert dict(_kv(bv.read())) == want
    bv.rebucket(8)
    again = BucketedMaterializedView(spark, bv.path, ["k"])
    assert again.n_buckets == 8 and dict(_kv(again.read())) == want
    staged = BucketedMaterializedView(spark, str(tmp_path / "staged"),
                                      ["k"], n_buckets=2)
    staged.apply(_rows(spark, [(7, "s", 70), (8, "s", 80)]))
    again.replace_with(staged.path)
    assert again.n_buckets == 2
    assert dict(_kv(again.read())) == {7: 70, 8: 80}

    rv = RangePartitionedView(spark, str(tmp_path / "rv"), ["d", "k"],
                              part_col="d", n_sub=2)
    days = [dt.date(2024, 1, 1), dt.date(2024, 1, 2)]
    rv.apply(spark.createDataFrame([(days[i % 2], i) for i in range(40)],
                                   "d date, k int"))
    assert rv.reshard_granule(days[0], 8) > 2
    assert rv.read_range(days[0], days[0]).count() == 20
    assert rv.drop_range(days[1]) > 0
    assert sorted(r["k"] for r in rv.read().collect()) == \
        list(range(1, 40, 2))

    from ydb_cdc_processor_spark.operators.text_index import TextIndex
    from ydb_cdc_processor_spark.operators.vector_index import VectorIndex
    vecs = spark.createDataFrame(
        [(i, [float(i % 5), float(i % 3), 1.0]) for i in range(30)],
        "vec_id long, embedding array<double>")
    vx = VectorIndex(spark, str(tmp_path / "vx"), n_cells=4, n_buckets=2)
    vx.build(vecs.where("vec_id < 20"))
    vx.build(vecs)                          # the retrain replaces it
    assert vx.view.read().count() == 30

    docs = spark.createDataFrame([(1, "red fox"), (2, "blue fox")],
                                 "doc_id long, text string")
    tx = TextIndex(spark, str(tmp_path / "tx"), n_buckets=2)
    tx.apply_delta(docs, None, batch_token="t:0")
    owl = docs.where("doc_id = 2").withColumn("text", F.lit("owl"))
    tx.apply_delta(owl, docs.where("doc_id = 2"), batch_token="t:1")
    other = TextIndex(spark, str(tmp_path / "tx2"), n_buckets=2)
    other.apply_delta(spark.createDataFrame(
        [(3, "green owl")], "doc_id long, text string"), None)
    tx.merge_from(other, batch_token="fed")
    assert tx.recompute_check(spark.createDataFrame(
        [(1, "red fox"), (2, "owl"), (3, "green owl")],
        "doc_id long, text string"))


def test_flat_view_lifecycle_under_object_store_semantics(
        spark, tmp_path, objstore):
    """The flat view commits through the same manifest: apply,
    apply_batch, delete-from-empty, a refused strict insert, and a
    crash at the commit all run without a directory rename, and the
    crash stays invisible until vacuum() removes its stray generation."""
    from ydb_cdc_processor_spark.operators.merge import (
        ParquetMaterializedView, StrictInsertError)
    schema = "k int, grp string, v int"
    mv = ParquetMaterializedView(spark, str(tmp_path / "mv"), ["k"],
                                 schema=spark.createDataFrame([], schema)
                                 .schema)
    mv.apply(spark.createDataFrame([(1,)], "k int"), action="deleteFrom")
    assert mv.exists() and mv.read().count() == 0   # committed empty
    mv.apply(_rows(spark, [(i, "a", i) for i in range(6)]))
    mv.apply_batch(_rows(spark, [(2, "b", 20), (7, "b", 70)]),
                   spark.createDataFrame([(3,)], "k int"))
    want = [(0, 0), (1, 1), (2, 20), (4, 4), (5, 5), (7, 70)]
    assert _kv(mv.read()) == want
    with pytest.raises(StrictInsertError):
        mv.apply(_rows(spark, [(1, "x", -1), (8, "x", -1)]),
                 action="insertInto")
    with _crash_at_commit(objstore):
        mv.apply(_rows(spark, [(0, "x", -1)]))
    fresh = ParquetMaterializedView(spark, mv.path, ["k"])
    assert _kv(fresh.read()) == want
    rows_dir = os.path.join(mv.path, mv.ROWS)
    assert len(os.listdir(rows_dir)) == 2             # live + stray
    assert fresh.vacuum() == 1
    assert len(os.listdir(rows_dir)) == 1 and _kv(fresh.read()) == want


# -- every reader plans from the manifest --------------------------------------

def _stale_bucketed(spark, path, backend):
    """A store with superseded generations and a stray staged batch on
    disk; returns it with its live ``{k: v}``."""
    bv = BucketedMaterializedView(spark, path, ["k"], n_buckets=4)
    bv.apply(_rows(spark, [(i, "a", i) for i in range(16)]))
    bv.apply(_rows(spark, [(i, "a", 100 + i) for i in range(0, 16, 3)]))
    with _crash_at_commit(backend):
        bv.apply(_rows(spark, [(i, "x", -1) for i in range(40)]))
    _assert_stale_on_disk(bv)
    live = {i: (100 + i if i % 3 == 0 else i) for i in range(16)}
    return bv, live


def test_bucketed_readers_ignore_stale_generations(spark, tmp_path,
                                                   keep_files):
    bv, live = _stale_bucketed(spark, str(tmp_path / "bv"), keep_files)
    assert dict(_kv(bv.read())) == live
    assert dict(_kv(bv.read_touched(bv.bucket_ids()))) == live
    local = bv.read_touched(bv.bucket_ids(), where=("k", list(range(40))))
    assert local.isLocal() and dict(_kv(local)) == live
    files = [f for fs in bv.bucket_files().values() for f in fs]
    assert bv.total_bytes() == sum(os.path.getsize(f) for f in files)
    assert bv.n_nonempty_buckets() == len(bv._read_manifest_dict()["gens"])
    assert bv.compact(max_files_per_bucket=1) == 0   # only live files count
    # a store whose FIRST batch never committed does not exist
    fresh = BucketedMaterializedView(spark, str(tmp_path / "fresh"), ["k"])
    with _crash_at_commit(keep_files):
        fresh.apply(_rows(spark, [(1, "a", 1)]))
    assert fresh.exists() is False and fresh.bucket_ids() == []


def test_snapshot_read_as_of_ignores_stale_generations(spark, tmp_path,
                                                       keep_files):
    from ydb_cdc_processor_spark.operators.snapshot import SnapshotView
    bv, live = _stale_bucketed(spark, str(tmp_path / "bv"), keep_files)
    snap = SnapshotView(bv, keep_last=2)
    v = snap.snapshot()
    assert dict(_kv(snap.read_as_of(v))) == live
    linked = [f for _r, _d, fs in os.walk(os.path.join(snap.snap_dir,
                                                       f"v{v}"))
              for f in fs if f.endswith(".parquet")]
    assert len(linked) == sum(len(fs) for fs in bv.bucket_files().values())


def test_secondary_index_touched_buckets_ignore_stale_generations(
        spark, tmp_path, keep_files):
    from ydb_cdc_processor_spark.operators.secondary_index import (
        SecondaryIndex)
    ix = SecondaryIndex(spark, str(tmp_path / "ix"), pk=["order_id"],
                        col="status", n_buckets=16)
    facts = "order_id long, status string"
    ix.apply_delta(spark.createDataFrame([(1, "open"), (2, "paid")], facts),
                   None)
    ix.apply_delta(spark.createDataFrame([(3, "open")], facts), None)
    many = [f"s{i}" for i in range(40)]
    with _crash_at_commit(keep_files):
        ix.apply_delta(spark.createDataFrame(
            [(100 + i, s) for i, s in enumerate(many)], facts), None)
    _assert_stale_on_disk(ix.view)
    live = set(ix.view.bucket_ids())
    assert set(ix.touched_buckets(["open", "paid"] + many)) <= live
    got = sorted((r["status"], r["order_id"])
                 for r in ix.lookup(["open", "paid"] + many).collect())
    assert got == [("open", 1), ("open", 3), ("paid", 2)]


def test_range_view_listings_ignore_stale_generations(spark, tmp_path,
                                                      keep_files):
    rv = RangePartitionedView(spark, str(tmp_path / "rv"), ["d", "k"],
                              part_col="d")
    d1, d2, d3 = (dt.date(2024, 1, n) for n in (1, 2, 3))
    schema = "d date, k int, v int"
    rv.apply(spark.createDataFrame([(d1, 1, 1), (d2, 2, 2)], schema))
    rv.apply(spark.createDataFrame([(d1, 1, 10)], schema))
    with _crash_at_commit(keep_files):
        rv.apply(spark.createDataFrame([(d1, 1, -1), (d3, 3, -1)], schema))
    _assert_stale_on_disk(rv)
    assert rv.existing_partitions() == [rv.partition_id(d1),
                                        rv.partition_id(d2)]
    assert set(rv.granule_bytes()) == set(rv.existing_partitions())
    assert sorted((r["k"], r["v"]) for r in rv.read_range(d1, d3)
                  .collect()) == [(1, 10), (2, 2)]


def test_vector_index_clone_and_merge_ignore_stale_generations(
        spark, sf_dir, tmp_path, keep_files):
    from ydb_cdc_processor_spark.operators.vector_index import VectorIndex
    from ydb_cdc_processor_spark.sources.catalog import load_table
    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") % 4 == 0).localCheckpoint(eager=True)
    idx = VectorIndex(spark, str(tmp_path / "idx"), n_cells=4, n_buckets=4)
    idx.build(emb.where(F.col("vec_id") % 3 != 0))
    idx.add_batch(emb.where(F.col("vec_id") % 3 == 0), batch_token="v:0")
    with _crash_at_commit(keep_files):
        idx.add_batch(emb.where(F.col("vec_id") % 3 == 0)
                      .withColumn("vec_id", F.col("vec_id") + 10 ** 6),
                      batch_token="v:1")
    _assert_stale_on_disk(idx.view)
    live = sorted(r["vec_id"] for r in idx.view.read().collect())
    assert live == sorted(r["vec_id"] for r in emb.collect())

    clone = idx.clone_empty(str(tmp_path / "clone"))
    assert clone.view.exists() is False
    assert not any(e.startswith(f"{BUCKET_COL}=") or e == STAGING
                   for e in os.listdir(clone.view.path))
    clone.merge_from(idx, batch_token="m:0")
    assert sorted(r["vec_id"] for r in clone.view.read().collect()) == live
