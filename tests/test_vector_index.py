"""Persistent IVF vector index (operators/vector_index.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ydb_cdc_processor_spark.operators.vector_index import VectorIndex
from ydb_cdc_processor_spark.sources.catalog import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings") \
        .localCheckpoint(eager=True)


def _res(df):
    return sorted(tuple(r) for r in df.collect())


class _Crash(BaseException):
    """A hard crash (no library handler swallows a BaseException)."""


def _torn_add_batch(idx, vectors):
    """add_batch dying at the commit point: the batch's generations are
    written and staged, the list manifest is never replaced."""
    from ydb_cdc_processor_spark import storage
    real, man = storage.replace_text, idx.view._manifest_path()

    def boom(path, text):
        if path == man:
            raise _Crash()
        return real(path, text)
    storage.replace_text = boom
    try:
        with pytest.raises(_Crash):
            idx.add_batch(vectors, batch_token="torn:0")
    finally:
        storage.replace_text = real


def test_incremental_add_equals_oneshot_build(spark, emb, tmp_path):
    """build(subset) + add_batch(rest) must serve the identical results
    as build(subset) with the rest ingested in the same build — the
    frozen-quantizer contract (assignment is per-vector, so arrival
    batching cannot change it)."""
    probes = emb.where(F.col("vec_id") % 50 == 0) \
        .select(F.col("vec_id").alias("probe_id"), "embedding")

    inc = VectorIndex(spark, str(tmp_path / "inc"), n_cells=8)
    inc.build(emb.where(F.col("vec_id") % 2 == 0))
    inc.add_batch(emb.where(F.col("vec_id") % 2 == 1))

    one = VectorIndex(spark, str(tmp_path / "one"), n_cells=8)
    one.build(emb.where(F.col("vec_id") % 2 == 0))
    one.add_batch(emb.where(F.col("vec_id") % 2 == 1)
                  .unionByName(emb.where(F.col("vec_id") % 2 == 0)))

    a = _res(inc.query(probes, k=3, n_probe=3))
    b = _res(one.query(probes, k=3, n_probe=3))
    assert a == b and a


def test_add_batch_replay_idempotent(spark, emb, tmp_path):
    idx = VectorIndex(spark, str(tmp_path / "rep"), n_cells=8)
    idx.build(emb.where(F.col("vec_id") % 2 == 0))
    late = emb.where(F.col("vec_id") % 2 == 1)
    idx.add_batch(late)
    n = idx.view.read().count()
    idx.add_batch(late)  # replay
    assert idx.view.read().count() == n


def test_query_reads_only_probed_cells(spark, emb, tmp_path):
    """The candidate set must contain only vectors from the probes'
    n_probe cells — the bucket-pruned read contract (a full-corpus
    candidate set would mean the index read everything)."""
    idx = VectorIndex(spark, str(tmp_path / "pr"), n_cells=8,
                      n_buckets=8)
    idx.build(emb)
    probes = emb.where(F.col("vec_id") % 100 == 0).limit(1) \
        .select(F.col("vec_id").alias("probe_id"), "embedding")
    res = idx.query(probes, k=1000, n_probe=2)
    # with n_probe=2 of 8 cells, results span at most 2 cells' members
    lists = idx.view.read().select("cell", "vec_id")
    joined = res.join(lists, on="vec_id").select("cell").distinct()
    assert joined.count() <= 2


def test_remove_batch_deletes_and_is_idempotent(spark, emb, tmp_path):
    idx = VectorIndex(spark, str(tmp_path / "rm"), n_cells=8)
    idx.build(emb)
    n0 = idx.view.read().count()
    victims = emb.where(F.col("vec_id") % 10 == 0)
    n_victims = victims.count()
    idx.remove_batch(victims)
    assert idx.view.read().count() == n0 - n_victims
    idx.remove_batch(victims)  # idempotent
    assert idx.view.read().count() == n0 - n_victims
    # removed vectors never surface in query results
    probes = emb.where(F.col("vec_id") % 100 == 0) \
        .select(F.col("vec_id").alias("probe_id"), "embedding")
    res = idx.query(probes, k=5, n_probe=8)
    assert res.where(F.col("vec_id") % 10 == 0).count() == 0


def test_vector_index_query_after_torn_ingest(spark, emb, tmp_path):
    """A crash at add_batch's commit leaves a new generation in EVERY
    bucket and a staged batch on disk; a pure-read query() on restart
    must serve exactly the committed lists — no stray vector appears,
    none vanishes."""
    idx = VectorIndex(spark, str(tmp_path / "torn"), n_cells=8,
                      n_buckets=4)
    idx.build(emb)
    probes = emb.where(F.col("vec_id") % 100 == 0) \
        .select(F.col("vec_id").alias("probe_id"), "embedding")
    expected = _res(idx.query(probes, k=5, n_probe=8))
    _torn_add_batch(idx, emb.withColumn("vec_id", F.col("vec_id") + 10 ** 6))

    idx2 = VectorIndex(spark, str(tmp_path / "torn"), n_cells=8,
                       n_buckets=4)
    assert _res(idx2.query(probes, k=5, n_probe=8)) == expected


def test_rebuild_replaces_stale_assignments(spark, emb, tmp_path):
    """Retraining (build again on a grown corpus) must fully replace the
    inverted lists: every vector appears exactly once afterward, and
    remove_batch removes it for good."""
    idx = VectorIndex(spark, str(tmp_path / "rt"), n_cells=8)
    idx.build(emb.where(F.col("vec_id") % 2 == 0))
    idx.add_batch(emb.where(F.col("vec_id") % 2 == 1))
    idx.build(emb)  # retrain on the full corpus
    per_vec = (idx.view.read().groupBy("vec_id")
               .count().where(F.col("count") > 1).count())
    assert per_vec == 0
    victim = emb.limit(1)
    vid = victim.collect()[0].vec_id
    idx.remove_batch(victim)
    assert idx.view.read().where(F.col("vec_id") == vid).count() == 0


def test_build_retrain_crash_never_loses_index(spark, emb, tmp_path):
    """Kill the retrain at every rename boundary: the index must keep
    serving — either the complete OLD index (crash before the swap) or
    the complete NEW one, never empty/partial results."""
    import sys
    sys.path.insert(0, __file__.rsplit("/", 1)[0])
    from test_bucketed_crash import Killed, _RenameKiller

    sub = emb.where(F.col("vec_id") % 2 == 0)
    probes = emb.where(F.col("vec_id") % 100 == 0) \
        .select(F.col("vec_id").alias("probe_id"), "embedding")

    def fresh(path):
        return VectorIndex(spark, path, n_cells=8)

    base_path = str(tmp_path / "base")
    fresh(base_path).build(sub)
    old_expected = _res(fresh(base_path).query(probes, k=3, n_probe=8))

    probe_full = VectorIndex(spark, str(tmp_path / "full"), n_cells=8)
    probe_full.build(emb)
    new_expected = _res(probe_full.query(probes, k=3, n_probe=8))

    with _RenameKiller(None) as rk:
        VectorIndex(spark, str(tmp_path / "cnt"), n_cells=8).build(emb)
    # only the final swap renames matter; sweep the LAST few boundaries
    # (earlier renames belong to the temp staging and leave the old
    # index fully live)
    import shutil
    for kill_at in range(max(0, rk.calls - 4), rk.calls):
        path = str(tmp_path / f"b{kill_at}")
        shutil.copytree(base_path, path)
        idx = fresh(path)
        with _RenameKiller(kill_at), pytest.raises(Killed):
            idx.build(emb)
        got = _res(fresh(path).query(probes, k=3, n_probe=8))
        assert got in (old_expected, new_expected), \
            f"partial index served at tear {kill_at}"


def test_bucket_keys_persisted_in_manifest(spark, emb, tmp_path):
    """Reopening a co-located store WITHOUT repeating bucket_keys= must
    inherit the layout's co-location key from the manifest (silent
    mis-hashing was possible before)."""
    from ydb_cdc_processor_spark.operators.bucketed_view import (
        BucketedMaterializedView)

    idx = VectorIndex(spark, str(tmp_path / "bk"), n_cells=8)
    idx.build(emb.limit(200))
    reopened = BucketedMaterializedView(
        spark, str(tmp_path / "bk" / "lists"), keys=["cell", "vec_id"])
    assert reopened.bucket_keys == ["cell"]


def test_vector_index_stream_restart_converges(spark, emb, tmp_path):
    """Streaming ingest drive: vectors arrive as files (one per
    trigger), the query is killed and restarted with the same
    checkpoint, late vectors land while down — the final store and the
    query results must equal one-shot ingest of everything."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")

    base = emb.where(F.col("vec_id") % 4 == 0)
    early = emb.where(F.col("vec_id") % 4 == 1)
    late = emb.where((F.col("vec_id") % 4).isin(2, 3))
    probes = emb.where(F.col("vec_id") % 50 == 0) \
        .select(F.col("vec_id").alias("probe_id"), "embedding")

    idx = VectorIndex(spark, str(tmp_path / "sidx"), n_cells=8)
    idx.build(base)
    early.repartition(3).write.parquet(src)
    stream = (spark.readStream.schema(emb.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    idx.start_stream(stream, ckpt).awaitTermination()

    # kill: fresh index object, same store/checkpoint; late rows land
    late.coalesce(1).write.mode("append").parquet(src)
    idx2 = VectorIndex(spark, str(tmp_path / "sidx"), n_cells=8)
    stream2 = (spark.readStream.schema(emb.schema)
               .option("maxFilesPerTrigger", 1).parquet(src))
    idx2.start_stream(stream2, ckpt).awaitTermination()

    one = VectorIndex(spark, str(tmp_path / "sone"), n_cells=8)
    one.build(base)
    one.add_batch(early.unionByName(late))
    assert _res(idx2.view.read()) == _res(one.view.read())
    got = _res(idx2.query(probes, k=3, n_probe=3))
    assert got == _res(one.query(probes, k=3, n_probe=3)) and got


def test_vector_index_query_during_retrain(spark, emb, tmp_path):
    """Serving must not stop during a retrain: a query issued after the
    new index is FULLY STAGED but before the atomic swap sees exactly
    the complete old index's results; after the swap, exactly the new
    one's.  Never a mix, never a crash."""
    sub = emb.where(F.col("vec_id") % 2 == 0)
    probes = emb.where(F.col("vec_id") % 50 == 0) \
        .select(F.col("vec_id").alias("probe_id"), "embedding")

    path = str(tmp_path / "serve")
    idx = VectorIndex(spark, path, n_cells=8)
    idx.build(sub)
    old_expected = _res(idx.query(probes, k=3, n_probe=8))

    ref_new = VectorIndex(spark, str(tmp_path / "refnew"), n_cells=8)
    ref_new.build(emb)
    new_expected = _res(ref_new.query(probes, k=3, n_probe=8))
    assert old_expected != new_expected  # retrain must be observable

    during: list = []

    def probe_mid_swap():
        # a CONCURRENT READER: a fresh handle, as a separate serving
        # process would hold
        reader = VectorIndex(spark, path, n_cells=8)
        during.append(_res(reader.query(probes, k=3, n_probe=8)))

    idx._pre_swap_hook = probe_mid_swap
    idx.build(emb)  # retrain on the grown corpus
    assert during == [old_expected], "mid-retrain read must serve the " \
                                     "complete OLD index"
    assert _res(idx.query(probes, k=3, n_probe=8)) == new_expected


def test_cell_stats_bounded_and_complete(spark, emb, tmp_path):
    """cell_stats: <= n_cells rows, occupancies sum to the corpus —
    the bounded observability frame the retrain decision reads."""
    idx = VectorIndex(spark, str(tmp_path / "cs"), n_cells=8)
    idx.build(emb)
    stats = idx.cell_stats().collect()
    assert len(stats) <= 8
    assert sum(r.n_vectors for r in stats) == emb.count()


def test_reopen_torn_index_restores_layout_params(spark, emb, tmp_path):
    """Reopening an index whose retrain crashed with DIFFERENT
    constructor defaults must serve the committed layout's
    n_buckets/bucket_keys, not the constructor's — stale bucket hashing
    made every probe read the wrong directories (found by review,
    repro-confirmed: queries returned 0 rows).  The tear used to rename
    the live lists aside to a ``.old`` sibling; now the retrain's crash
    is raised at its one manifest replace, after its files moved in."""
    from ydb_cdc_processor_spark import storage

    path = str(tmp_path / "torn_reopen")
    idx = VectorIndex(spark, path, n_cells=8, n_buckets=32)
    idx.build(emb.where(F.col("vec_id") % 2 == 0))
    probes = emb.where(F.col("vec_id") % 100 == 0) \
        .select(F.col("vec_id").alias("probe_id"), "embedding")
    expected = _res(idx.query(probes, k=3, n_probe=8))
    assert expected

    real, man = storage.replace_text, idx.view._manifest_path()

    def crash(p, text):
        if p == man:
            raise RuntimeError("crash at the commit")
        return real(p, text)
    storage.replace_text = crash
    try:
        with pytest.raises(RuntimeError, match="crash at the commit"):
            idx.build(emb)                      # the torn retrain
    finally:
        storage.replace_text = real

    idx2 = VectorIndex(spark, path, n_cells=8)  # default n_buckets=8 != 32
    assert idx2.view.n_buckets == 32
    assert _res(idx2.query(probes, k=3, n_probe=8)) == expected


def test_filtered_query_fills_k_from_allow_set(spark, emb, tmp_path):
    """query(allow=...): the top-k is computed WITHIN the allow-set
    (filter-then-rank) — every returned id is allowed, ranks are dense
    1..k, and the result equals ranking the unfiltered candidates after
    dropping disallowed ones and RE-RANKING (what naive post-filtering
    gets wrong by truncating below k)."""
    from pyspark.sql import functions as F

    from ydb_cdc_processor_spark.operators.vector_index import VectorIndex

    idx = VectorIndex(spark, str(tmp_path / "ix"), n_cells=8)
    idx.build(emb)
    probes = emb.where(F.col("vec_id") % 50 == 0) \
        .select(F.col("vec_id").alias("probe_id"), "embedding")
    allow = emb.where(F.col("vec_id") % 2 == 0).select("vec_id")

    got = idx.query(probes, k=3, n_probe=8, allow=allow).collect()
    assert got and all(r.vec_id % 2 == 0 for r in got)
    per_probe = {}
    for r in got:
        per_probe.setdefault(r.probe_id, []).append(r.rnk)
    assert all(sorted(v) == list(range(1, len(v) + 1))
               for v in per_probe.values())

    # equivalence: unfiltered ranking, drop disallowed, re-rank, cut 3
    full = idx.query(probes, k=10**6, n_probe=8).collect()
    expect = {}
    for r in sorted(full, key=lambda r: (r.probe_id, r.rnk)):
        if r.vec_id % 2 == 0:
            lst = expect.setdefault(r.probe_id, [])
            if len(lst) < 3:
                lst.append((r.vec_id, r.cos_sim))
    got_m = {}
    for r in sorted(got, key=lambda r: (r.probe_id, r.rnk)):
        got_m.setdefault(r.probe_id, []).append((r.vec_id, r.cos_sim))
    assert got_m == expect


# -- PQ mode (IVFADC as a maintained store) ----------------------------------

def test_pq_index_matches_oneshot_ivfadc(spark, emb, tmp_path):
    """A PQ index built on the full corpus serves bit-identical results
    to similarity_pq.cosine_topk_ivf_pq with the same parameters — the
    maintained store and the one-shot operator share training rules
    (md5-seeded centroid + codebook picks), encoding, and ADC scoring."""
    from ydb_cdc_processor_spark.operators import similarity_pq
    probes = emb.where(F.col("vec_id") % 100 == 0) \
        .select(F.col("vec_id").alias("probe_id"), "embedding")
    idx = VectorIndex(spark, str(tmp_path / "pq"), n_cells=16,
                      m_sub=16, n_codes=64)
    idx.build(emb, dim=64)
    got = _res(idx.query(probes, k=5, n_probe=4))
    exp = _res(similarity_pq.cosine_topk_ivf_pq(
        emb, probes, k=5, n_cells=16, n_probe=4, m_sub=16,
        n_codes=64, dim=64))
    assert got == exp and got


def test_pq_lifecycle_ingest_query_retrain(spark, emb, tmp_path):
    """The full IVFADC store lifecycle: build on a subset (trains
    quantizer AND codebook), ingest the rest through add_batch (encoded
    against the FROZEN codebook), query, then RETRAIN on the full
    corpus — after which results equal a full-corpus one-shot build
    (retrain re-encodes everything inside the atomic swap)."""
    probes = emb.where(F.col("vec_id") % 50 == 0) \
        .select(F.col("vec_id").alias("probe_id"), "embedding")

    idx = VectorIndex(spark, str(tmp_path / "pql"), n_cells=8,
                      m_sub=8, n_codes=32)
    idx.build(emb.where(F.col("vec_id") % 3 != 2), dim=64)
    idx.add_batch(emb.where(F.col("vec_id") % 3 == 2))
    pre = _res(idx.query(probes, k=3, n_probe=3))
    assert pre

    # batching must not change served results (frozen codebook)
    two = VectorIndex(spark, str(tmp_path / "pql2"), n_cells=8,
                      m_sub=8, n_codes=32)
    two.build(emb.where(F.col("vec_id") % 3 != 2), dim=64)
    two.add_batch(emb.where((F.col("vec_id") % 3 == 2)
                            & (F.col("vec_id") % 2 == 0)))
    two.add_batch(emb.where((F.col("vec_id") % 3 == 2)
                            & (F.col("vec_id") % 2 == 1)))
    assert _res(two.query(probes, k=3, n_probe=3)) == pre

    # retrain on the full corpus == one-shot full build
    idx.build(emb, dim=64)
    full = VectorIndex(spark, str(tmp_path / "pqf"), n_cells=8,
                       m_sub=8, n_codes=32)
    full.build(emb, dim=64)
    assert _res(idx.query(probes, k=3, n_probe=3)) == \
        _res(full.query(probes, k=3, n_probe=3))


def test_pq_store_holds_codes_not_vectors(spark, emb, tmp_path):
    """THE point of IVFADC: the inverted lists persist ~m_sub small
    codes per vector, never dim doubles.  Pins (a) the stored schema
    (int codes only, no _v/_nv), (b) on-disk bytes vs the flat twin —
    parquet bit-packs the 6-bit codes, so the PQ lists must come in
    well under the flat lists (64 doubles/vec)."""
    import os
    pq = VectorIndex(spark, str(tmp_path / "c_pq"), n_cells=8,
                     m_sub=16, n_codes=64, n_buckets=4)
    pq.build(emb, dim=64)
    flat = VectorIndex(spark, str(tmp_path / "c_flat"), n_cells=8,
                       n_buckets=4)
    flat.build(emb)

    cols = set(pq.view.read().columns)
    assert "_v" not in cols and "_nv" not in cols
    assert cols == {"cell", "vec_id"} | {f"_q{m}" for m in range(16)}
    for f in pq.view.read().schema.fields:
        if f.name.startswith("_q"):
            assert f.dataType.simpleString() == "int"

    def disk(view):
        total = 0
        for root, _d, files in os.walk(view.path):
            total += sum(os.path.getsize(os.path.join(root, f))
                         for f in files if f.endswith(".parquet"))
        return total

    b_pq, b_flat = disk(pq.view), disk(flat.view)
    assert b_pq * 3 < b_flat, (b_pq, b_flat)


def test_pq_remove_batch_and_replay(spark, emb, tmp_path):
    idx = VectorIndex(spark, str(tmp_path / "rm_pq"), n_cells=8,
                      m_sub=8, n_codes=32)
    idx.build(emb, dim=64)
    victims = emb.where(F.col("vec_id") % 7 == 0)
    n0 = idx.view.read().count()
    idx.remove_batch(victims)
    n1 = idx.view.read().count()
    assert n1 == n0 - victims.count()
    idx.remove_batch(victims)  # idempotent
    assert idx.view.read().count() == n1
    probes = emb.where(F.col("vec_id") % 50 == 0) \
        .select(F.col("vec_id").alias("probe_id"), "embedding")
    got = idx.query(probes, k=5, n_probe=8)
    assert got.where(F.col("vec_id") % 7 == 0).count() == 0


def test_pq_mode_validation_and_meta(spark, emb, tmp_path):
    """dim is required (and must divide by m_sub) in PQ mode; querying
    or ingesting against a store whose codebook was never built fails
    loudly; a FLAT store reopened with PQ ctor args stays flat (layout
    metadata wins, the n_cells/seed rule)."""
    idx = VectorIndex(spark, str(tmp_path / "v"), m_sub=16, n_codes=64)
    with pytest.raises(ValueError, match="dim"):
        idx.build(emb)
    with pytest.raises(ValueError, match="divisible"):
        idx.build(emb, dim=63)
    with pytest.raises(ValueError, match="codebook"):
        idx.add_batch(emb)   # never built: no codebook, no centroids

    flat = VectorIndex(spark, str(tmp_path / "f"), n_cells=8)
    flat.build(emb)
    reopened = VectorIndex(spark, str(tmp_path / "f"), m_sub=16)
    assert reopened.m_sub is None   # layout wins over the constructor
    probes = emb.limit(3).select(F.col("vec_id").alias("probe_id"),
                                 "embedding")
    assert "cos_sim" in reopened.query(probes, k=2).columns


def test_pq_filtered_query_fills_k(spark, emb, tmp_path):
    """The allow-set semi-join composes with PQ serving: candidates are
    pre-filtered BEFORE ADC ranking, so the top-k fills with allowed
    vectors (never post-filter truncation), and every result id is in
    the allow set."""
    idx = VectorIndex(spark, str(tmp_path / "fpq"), n_cells=8,
                      m_sub=8, n_codes=32)
    idx.build(emb, dim=64)
    probes = emb.where(F.col("vec_id") % 100 == 0) \
        .select(F.col("vec_id").alias("probe_id"), "embedding")
    allow = emb.where(F.col("vec_id") % 2 == 0).select("vec_id")
    got = idx.query(probes, k=5, n_probe=8, allow=allow)
    assert got.where(F.col("vec_id") % 2 == 1).count() == 0
    # fills k where the probed cells hold >= k allowed candidates:
    # unfiltered top-5 over the same cells restricted to even ids has
    # exactly the same members (filter-then-rank == rank-all-then-pick
    # restricted, since scoring is per-pair)
    unfiltered = idx.query(probes, k=10 ** 6, n_probe=8)
    exp = (unfiltered.where(F.col("vec_id") % 2 == 0)
           .withColumn("rnk2", F.row_number().over(
               __import__("pyspark.sql.window", fromlist=["Window"])
               .Window.partitionBy("probe_id")
               .orderBy(F.col("pq_sim").desc(), F.col("vec_id").asc())))
           .where(F.col("rnk2") <= 5)
           .select("probe_id", "vec_id", "pq_sim"))
    a = sorted(tuple(r) for r in got.select("probe_id", "vec_id",
                                            "pq_sim").collect())
    b = sorted(tuple(r) for r in exp.collect())
    assert a == b and a


def test_legacy_meta_without_m_sub_key_is_flat(spark, emb, tmp_path):
    """A store whose _index.json predates the m_sub key entirely (not
    merely m_sub=None) must reopen as FLAT even under a PQ constructor —
    otherwise add_batch demands a codebook and query looks for _q
    columns the lists don't hold (advisor finding)."""
    import json as _json

    flat = VectorIndex(spark, str(tmp_path / "legacy"), n_cells=8)
    flat.build(emb.where(F.col("vec_id") % 2 == 0))
    # simulate legacy metadata: strip the m_sub/n_codes/dim keys
    with open(flat._meta_path()) as fh:
        meta = _json.load(fh)
    for k in ("m_sub", "n_codes", "dim"):
        meta.pop(k, None)
    with open(flat._meta_path(), "w") as fh:
        _json.dump(meta, fh)

    reopened = VectorIndex(spark, str(tmp_path / "legacy"),
                           m_sub=16, n_codes=64)
    assert reopened.m_sub is None          # layout (flat) wins
    reopened.add_batch(emb.where(F.col("vec_id") % 2 == 1))  # no codebook error
    probes = emb.limit(3).select(F.col("vec_id").alias("probe_id"),
                                 "embedding")
    res = reopened.query(probes, k=2)
    assert "cos_sim" in res.columns and res.count() > 0


def test_merge_from_shards_shared_quantizer(spark, emb, tmp_path):
    """Federated shard union: train ONCE, clone_empty() the frozen
    quantizer to a shard, each side ingests its own slice, merge_from
    unions the lists — queries against the union equal a single index
    that ingested everything.  Mismatched quantizers refuse."""
    probes = emb.where(F.col("vec_id") % 50 == 0) \
        .select(F.col("vec_id").alias("probe_id"), "embedding")
    train = emb.where(F.col("vec_id") % 2 == 0)

    a = VectorIndex(spark, str(tmp_path / "a"), n_cells=8)
    a.build(train)                                  # shard A: evens
    b = a.clone_empty(str(tmp_path / "b"))          # same frozen quantizer
    assert b.quantizer_digest() == a.quantizer_digest()
    assert not b.view.exists() or b.view.read().count() == 0
    b.add_batch(emb.where(F.col("vec_id") % 2 == 1))  # shard B: odds

    ref = VectorIndex(spark, str(tmp_path / "ref"), n_cells=8)
    ref.build(train)
    ref.add_batch(emb.where(F.col("vec_id") % 2 == 1))

    a.merge_from(b, batch_token="fed")
    assert _res(a.query(probes, k=3, n_probe=3)) == \
        _res(ref.query(probes, k=3, n_probe=3))
    # replay fenced
    n = a.view.read().count()
    a.merge_from(b, batch_token="fed")
    assert a.view.read().count() == n
    # independently built quantizer → different centroids → refused
    alien = VectorIndex(spark, str(tmp_path / "alien"), n_cells=8)
    alien.build(emb.where(F.col("vec_id") % 3 == 0))
    with pytest.raises(ValueError, match="fingerprints differ"):
        a.merge_from(alien)
    # geometry mismatch refused before any Spark work
    small = VectorIndex(spark, str(tmp_path / "small"), n_cells=4)
    small.build(train)
    with pytest.raises(ValueError, match="geometry differs"):
        a.merge_from(small)


def test_merge_from_shards_pq_mode(spark, emb, tmp_path):
    """The same shard union with PQ lists: codes encoded against the
    SHARED frozen codebook union byte-identically."""
    probes = emb.where(F.col("vec_id") % 50 == 0) \
        .select(F.col("vec_id").alias("probe_id"), "embedding")
    train = emb.where(F.col("vec_id") % 2 == 0)
    a = VectorIndex(spark, str(tmp_path / "pa"), n_cells=8, m_sub=8)
    a.build(train, dim=64)
    b = a.clone_empty(str(tmp_path / "pb"))
    assert b.pq_enabled and b.m_sub == 8
    b.add_batch(emb.where(F.col("vec_id") % 2 == 1))
    ref = VectorIndex(spark, str(tmp_path / "pref"), n_cells=8, m_sub=8)
    ref.build(train, dim=64)
    ref.add_batch(emb.where(F.col("vec_id") % 2 == 1))
    a.merge_from(b, batch_token="fed")
    assert _res(a.query(probes, k=3, n_probe=3)) == \
        _res(ref.query(probes, k=3, n_probe=3))


def test_clone_empty_skips_torn_donor_state(spark, emb, tmp_path):
    """clone_empty must not ship crash-torn donor leftovers: a stray
    staged batch (or a generation nothing names) copied along would
    seed the 'empty' shard with the donor's vectors (review finding),
    and the donor's list pointers must not make the empty clone report
    exists()."""
    import os

    a = VectorIndex(spark, str(tmp_path / "donor"), n_cells=8)
    a.build(emb.where(F.col("vec_id") % 2 == 0))
    live = a.view.read().count()
    _torn_add_batch(a, emb.where(F.col("vec_id") % 2 == 1))
    assert os.listdir(os.path.join(a.view.path, "_staging"))
    b = a.clone_empty(str(tmp_path / "shard"))
    entries = os.listdir(b.view.path)
    assert not any(e.startswith((".", "_bucket=")) for e in entries)
    assert "_staging" not in entries
    assert not b.view.exists()
    assert a.view.read().count() == live    # the donor is unchanged
