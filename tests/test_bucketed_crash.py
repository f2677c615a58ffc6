"""Exhaustive tear-point sweep over the bucketed view's crash windows.

Every write path of the bucketed view (operators/bucketed_view.py)
commits the same way: files move into a fresh generation one rename at
a time, then ONE manifest replace publishes the batch.  So a crash at
ANY rename/replace boundary must leave the store reading exactly its
pre-batch rows (and its pre-batch layout), and re-running the same
operation must equal the clean run:

- ``apply`` (idempotent upsert);
- ``merge_touched`` with a NON-idempotent (±delta) merge under a batch
  token — the replay lands exactly once, and a second replay is a
  no-op;
- ``rebucket``, ``compact``, ``rewrite_rows`` and the range view's
  ``reshard_granule``;
- ``VectorIndex.build`` (a retrain through ``replace_with``: lists and
  quantizer switch in one replace) and ``TextIndex.apply_delta``
  (postings and corpus scalars in one replace);
- the flat view's ``apply`` (one generation, one manifest replace).

The TopK counters commit inside the rollup's own replace; a kill at
each ``storage.replace_text`` of a counted batch or sweep, then the
replay, must leave ``stats()`` equal to an uninterrupted run.

These tests kill the process surrogate (raise) at EVERY rename/replace
boundary in turn — the same treatment the merge path's property tests
apply to interleavings — instead of hand-picking one or two windows.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from ydb_cdc_processor_spark.operators.bucketed_view import (
    BucketedMaterializedView)


class Killed(BaseException):
    """Raised by the instrumented rename to simulate a hard crash.
    BaseException so no library except-Exception handler swallows it."""


class _RenameKiller:
    """Counts os.rename/os.replace calls; raises on call #kill_at."""

    def __init__(self, kill_at: int | None):
        self.kill_at = kill_at
        self.calls = 0
        self._real_rename = os.rename
        self._real_replace = os.replace

    def _wrap(self, real):
        def inner(*a, **k):
            if self.kill_at is not None and self.calls == self.kill_at:
                raise Killed()
            self.calls += 1
            return real(*a, **k)
        return inner

    def __enter__(self):
        os.rename = self._wrap(self._real_rename)
        os.replace = self._wrap(self._real_replace)
        return self

    def __exit__(self, *exc):
        os.rename = self._real_rename
        os.replace = self._real_replace
        return False


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _rows_of(view):
    return _rows(view.read())


def _manifest_of(view):
    return view._read_manifest_dict()


def _sweep(tmp_path, pristine, open_view, run, tag, state=_rows_of,
           manifest=_manifest_of):
    """Kill ``run(view)`` at every rename/replace boundary of a copy of
    ``pristine``.  At each kill point a fresh handle must serve exactly
    the pre-batch ``state`` and manifest; re-running the operation on
    it must then equal the clean run.  Returns the boundary count."""
    clean = str(tmp_path / f"{tag}-clean")
    shutil.copytree(pristine, clean)
    with _RenameKiller(None) as rk:
        run(open_view(clean))
    n_renames = rk.calls
    expected = state(open_view(clean))
    before_view = open_view(pristine)
    before = state(before_view)
    before_doc = manifest(before_view)
    assert n_renames >= 2, "sweep needs at least one file move + commit"
    for kill_at in range(n_renames):
        path = str(tmp_path / f"{tag}{kill_at}")
        shutil.copytree(pristine, path)
        with _RenameKiller(kill_at), pytest.raises(Killed):
            run(open_view(path))
        fresh = open_view(path)
        assert state(fresh) == before, f"torn read at {kill_at}"
        assert manifest(fresh) == before_doc
        run(fresh)
        assert state(open_view(path)) == expected, \
            f"diverged at tear {kill_at}"
    return n_renames


BASE = [(i, f"v{i}") for i in range(24)]
DELTA = [(i, f"NEW{i}") for i in range(0, 24, 3)] + \
        [(100 + i, f"ins{i}") for i in range(4)]


def _build_base(spark, path):
    view = BucketedMaterializedView(spark, path, ["id"], n_buckets=4)
    view.apply(spark.createDataFrame(BASE, "id long, v string"))
    return view


def test_bucketed_crash_recovery_apply(spark, tmp_path):
    """Idempotent upsert: kill at every rename boundary, replay, expect
    the clean result every time."""
    pristine = str(tmp_path / "pristine")
    _build_base(spark, pristine)
    delta_df = spark.createDataFrame(DELTA, "id long, v string")
    _sweep(tmp_path, pristine,
           lambda p: BucketedMaterializedView(spark, p, ["id"], n_buckets=4),
           lambda v: v.apply(delta_df, action="upsertInto"), "t")


def test_bucketed_crash_recovery_merge_touched_exactly_once(spark, tmp_path):
    """NON-idempotent ±delta merge under a batch token: kill at every
    rename boundary, replay WITH the same token, expect each delta
    applied exactly once (never doubled, never lost)."""
    base = [(i, i * 10) for i in range(16)]
    delta = [(i, 1) for i in range(0, 16, 2)]

    def merge_fn(target, d):
        t = target.groupBy("id", "_bucket").agg(F.sum("n").alias("n"))
        dd = d.groupBy("id", "_bucket").agg(F.sum("n").alias("n"))
        return (t.unionByName(dd)
                .groupBy("id", "_bucket").agg(F.sum("n").alias("n")))

    def open_view(path):
        return BucketedMaterializedView(spark, path, ["id"], n_buckets=4)

    delta_df = spark.createDataFrame(delta, "id long, n long")
    pristine = str(tmp_path / "pristine")
    open_view(pristine).apply(spark.createDataFrame(base, "id long, n long"))
    n = _sweep(tmp_path, pristine, open_view,
               lambda v: v.merge_touched(delta_df, merge_fn,
                                         batch_token="b1"), "m")
    for kill_at in range(n):
        # a SECOND replay of the fully-applied token must be a no-op
        v = open_view(str(tmp_path / f"m{kill_at}"))
        once = _rows(v.read())
        assert v.merge_touched(delta_df, merge_fn, batch_token="b1") is False
        assert _rows(v.read()) == once


def test_bucketed_crash_recovery_rebucket(spark, tmp_path):
    """Rebucket: kill at every rename boundary; the view keeps its old
    layout and rows, and re-running the rebucket completes the
    migration."""
    pristine = str(tmp_path / "pristine")
    _build_base(spark, pristine)

    def open_view(path):
        return BucketedMaterializedView(spark, path, ["id"])

    n = _sweep(tmp_path, pristine, open_view, lambda v: v.rebucket(8), "r")
    for kill_at in range(n):
        assert open_view(str(tmp_path / f"r{kill_at}")).n_buckets == 8


def test_bucketed_crash_recovery_compact(spark, tmp_path):
    """compact(): a physical rewrite of every bucket; a kill anywhere
    leaves the old generations serving."""
    pristine = str(tmp_path / "pristine")
    _build_base(spark, pristine)
    _sweep(tmp_path, pristine,
           lambda p: BucketedMaterializedView(spark, p, ["id"]),
           lambda v: v.compact(max_files_per_bucket=0), "c")


def test_bucketed_crash_recovery_rewrite_rows(spark, tmp_path):
    """rewrite_rows(): a content-changing rewrite; a kill anywhere leaves
    every pre-rewrite row visible, the re-run prunes exactly once."""
    pristine = str(tmp_path / "pristine")
    _build_base(spark, pristine)
    _sweep(tmp_path, pristine,
           lambda p: BucketedMaterializedView(spark, p, ["id"]),
           lambda v: v.rewrite_rows(lambda r: r.where("id % 3 = 0")), "w")


def test_range_crash_recovery_reshard_granule(spark, tmp_path):
    """reshard_granule(): the granule's new block, the retirement of its
    old ids and the split record commit together — a kill anywhere
    leaves the old layout serving."""
    import datetime as dt

    from ydb_cdc_processor_spark.operators.range_view import (
        RangePartitionedView)

    def open_view(path):
        return RangePartitionedView(spark, path, ["day", "id"],
                                    part_col="day", n_sub=2)

    pristine = str(tmp_path / "pristine")
    open_view(pristine).apply(spark.createDataFrame(
        [(dt.date(2024, 1, 1 + i % 3), i) for i in range(48)],
        "day date, id long"))
    n = _sweep(tmp_path, pristine, open_view,
               lambda v: v.reshard_granule("2024-01-02", 8), "s")
    pid = open_view(pristine).partition_id("2024-01-02")
    for kill_at in range(n):
        assert open_view(str(tmp_path / f"s{kill_at}")) \
            .granule_n_sub(pid) == 8


def test_flat_view_crash_recovery_sweep(spark, tmp_path):
    """The same exhaustive tear sweep for the FLAT view
    (merge.ParquetMaterializedView): Spark writes the batch's
    generation, and the ONE manifest replace is the only rename/replace
    the commit makes.  Kill there, check a fresh handle reads the
    pristine rows, replay the same batch, expect the clean result."""
    from ydb_cdc_processor_spark.operators.merge import (
        ParquetMaterializedView)

    base = [(i, f"v{i}") for i in range(20)]
    delta = [(i, f"NEW{i}") for i in range(0, 20, 4)] + [(100, "ins")]
    delta_df = spark.createDataFrame(delta, "id long, v string")

    pristine = str(tmp_path / "pristine")
    ParquetMaterializedView(spark, pristine, ["id"]).overwrite(
        spark.createDataFrame(base, "id long, v string"))
    before = _rows(ParquetMaterializedView(spark, pristine, ["id"]).read())

    clean = str(tmp_path / "clean")
    shutil.copytree(pristine, clean)
    with _RenameKiller(None) as rk:
        v = ParquetMaterializedView(spark, clean, ["id"])
        v.apply(delta_df)
    n_renames = rk.calls
    expected = _rows(v.read())
    assert n_renames == 1

    for kill_at in range(n_renames):
        path = str(tmp_path / f"f{kill_at}")
        shutil.copytree(pristine, path)
        v = ParquetMaterializedView(spark, path, ["id"])
        with _RenameKiller(kill_at), pytest.raises(Killed):
            v.apply(delta_df)
        v2 = ParquetMaterializedView(spark, path, ["id"])
        assert _rows(v2.read()) == before, f"torn read at {kill_at}"
        v2.apply(delta_df)
        assert _rows(v2.read()) == expected, f"diverged at tear {kill_at}"


def test_vector_index_crash_recovery_build(spark, tmp_path):
    """A retrain (VectorIndex.build → replace_with): kill at every file
    move and replace — including the staged store's own commits — and
    a fresh handle serves exactly the pre-retrain lists AND quantizer;
    the re-run retrain equals the clean one."""
    from ydb_cdc_processor_spark.operators.vector_index import VectorIndex
    vecs = spark.createDataFrame(
        [(i, [float(i % 5), float(i % 3), 1.0]) for i in range(24)],
        "vec_id long, embedding array<double>")

    def open_ix(path):
        return VectorIndex(spark, path, n_cells=3, n_buckets=2)

    def state(ix):
        return (_rows(ix.view.read()), _rows(ix._centroids()),
                ix._read_index_meta())

    pristine = str(tmp_path / "pristine")
    open_ix(pristine).build(vecs.where("vec_id % 2 = 0"))
    _sweep(tmp_path, pristine, open_ix, lambda ix: ix.build(vecs), "v",
           state=state, manifest=lambda ix: ix.view._read_manifest_dict())


def test_text_index_crash_recovery_apply_delta(spark, tmp_path):
    """A tokenized TextIndex batch with old images (stale postings
    delete, rewrites upsert, corpus scalars move): kill at every
    boundary and a fresh handle serves the pre-batch postings AND
    scalars; the replay applies the whole batch exactly once."""
    from ydb_cdc_processor_spark.operators.text_index import TextIndex
    schema = "doc_id long, text string"
    base = spark.createDataFrame(
        [(1, "red fox"), (2, "blue fox jumps"), (3, "green owl")], schema)
    new = spark.createDataFrame([(2, "blue owl"), (4, "grey fox")], schema)

    def open_ix(path):
        return TextIndex(spark, path, n_buckets=2)

    def state(ix):
        return _rows(ix.read()), ix._corpus_stats()

    pristine = str(tmp_path / "pristine")
    open_ix(pristine).apply_delta(base, None, batch_token="t:0")
    _sweep(tmp_path, pristine, open_ix,
           lambda ix: ix.apply_delta(new, base.where("doc_id = 2"),
                                     batch_token="t:1"), "x",
           state=state, manifest=lambda ix: ix.view._read_manifest_dict())


class _ReplaceKiller:
    """Raises on the ``kill_at``-th ``storage.replace_text`` call (None:
    count only)."""

    def __init__(self, monkeypatch, kill_at):
        from ydb_cdc_processor_spark import storage
        self.calls, real = 0, storage.replace_text

        def replace_text(path, text):
            if self.calls == kill_at:
                raise Killed()
            self.calls += 1
            return real(path, text)
        monkeypatch.setattr(storage, "replace_text", replace_text)


def test_topk_counters_commit_with_the_batch(spark, tmp_path, monkeypatch):
    """A bounded TopKView's forfeiting batch and its prune sweep, each
    killed at every ``storage.replace_text`` and then replayed: the
    counters in stats() must equal an uninterrupted run.  (Counters
    written in a second commit after the rollup's were lost when the
    kill hit between the two: the replay was skipped as applied, or
    the re-run sweep found nothing left to prune.)"""
    from ydb_cdc_processor_spark.operators.topk_view import TopKView
    schema = "g string, v string"
    ingest = spark.createDataFrame(
        [("a", "x")] * 5 + [("a", "y"), ("a", "z"), ("b", "x")], schema)
    forfeit = spark.createDataFrame([("a", "y")], schema)   # pruned pair

    def open_tk(path):
        return TopKView(spark, path, ["g"], "v", k=1, n_buckets=2,
                        prune_floor=3)

    ops = [("sweep", lambda tk: tk.prune()),
           ("forfeit", lambda tk: tk.apply_delta(None, forfeit,
                                                 batch_token="d:1"))]
    pristine = str(tmp_path / "pristine")
    open_tk(pristine).apply_delta(ingest, None, batch_token="d:0")
    for tag, run in ops:
        clean = str(tmp_path / f"{tag}-clean")
        shutil.copytree(pristine, clean)
        counter = _ReplaceKiller(monkeypatch, None)
        run(open_tk(clean))
        monkeypatch.undo()
        want = (open_tk(clean).stats(), _rows(open_tk(clean).counts()))
        for kill_at in range(counter.calls):
            path = str(tmp_path / f"{tag}{kill_at}")
            shutil.copytree(pristine, path)
            _ReplaceKiller(monkeypatch, kill_at)
            with pytest.raises(Killed):
                run(open_tk(path))
            monkeypatch.undo()
            run(open_tk(path))                  # the replay / re-run
            assert (open_tk(path).stats(),
                    _rows(open_tk(path).counts())) == want, (tag, kill_at)
        pristine = clean                        # the next op builds on it
    assert want[0] == {"pruned_forfeits": 1, "prune_sweeps": 1,
                       "rows_pruned": 2}
