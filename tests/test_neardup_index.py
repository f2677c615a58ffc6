"""Incremental near-dup index (operators/neardup_index.py): the online
form of MinHash-LSH dedup — batch-vs-indexed candidate lookup against a
persistent bucketed signature store."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ydb_cdc_processor_spark.operators.neardup_index import NearDupIndex
from ydb_cdc_processor_spark.sources.catalog import load_table


def _pairs(df):
    return {(r.doc_a, r.doc_b, r.est_jaccard) for r in df.collect()}


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents") \
        .select("doc_id", "text").localCheckpoint(eager=True)


def test_incremental_union_equals_oneshot(spark, docs, tmp_path):
    """3 sequential micro-batches must discover exactly the pairs a
    one-shot indexing of the whole corpus discovers, with identical
    signature-agreement estimates."""
    idx = NearDupIndex(spark, str(tmp_path / "inc"))
    got = set()
    for part in range(3):
        batch = docs.where(F.col("doc_id") % 3 == part)
        got |= _pairs(idx.apply_batch(batch))

    one = NearDupIndex(spark, str(tmp_path / "oneshot"))
    expected = _pairs(one.apply_batch(docs))
    assert got == expected and expected, "non-trivial pair set expected"


def test_replay_is_idempotent(spark, docs, tmp_path):
    """Re-applying an already-indexed batch must not grow the store and
    must return the same pairs (pure function of store + batch)."""
    idx = NearDupIndex(spark, str(tmp_path / "rep"))
    b0 = docs.where(F.col("doc_id") % 3 == 0)
    b1 = docs.where(F.col("doc_id") % 3 == 1)
    idx.apply_batch(b0).collect()
    p1 = _pairs(idx.apply_batch(b1))
    n_store = idx.view.read().count()
    p1_replay = _pairs(idx.apply_batch(b1))
    assert p1_replay == p1
    assert idx.view.read().count() == n_store


def test_store_colocation_by_band_bucket(spark, docs, tmp_path):
    """Every (band, bucket) group must live in exactly ONE store bucket
    directory (the bucket_keys co-location contract) — that is what
    bounds a lookup to O(touched) directory reads."""
    idx = NearDupIndex(spark, str(tmp_path / "loc"), n_buckets=8)
    idx.apply_batch(docs.limit(200)).collect()
    raw = idx.view._read_raw()
    spread = (raw.groupBy("band", "bucket")
              .agg(F.countDistinct("_bucket").alias("n"))
              .agg(F.max("n").alias("mx")).collect()[0]["mx"])
    assert spread == 1


def test_bucket_keys_must_be_subset():
    from ydb_cdc_processor_spark.operators.bucketed_view import (
        BucketedMaterializedView)
    with pytest.raises(ValueError):
        BucketedMaterializedView(None, "/tmp/x", keys=["a"],
                                 bucket_keys=["a", "b"])


def test_stream_index_restart_converges(spark, docs, tmp_path):
    """Streaming drive: documents arrive as files (one per trigger), the
    query is killed and restarted with the same checkpoint, late docs
    land while down — the replay-collapsed pair set must equal the
    one-shot indexing of everything that arrived."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    pairs_out = str(tmp_path / "pairs")

    early = docs.where(F.col("doc_id") % 3 != 2)
    late = docs.where(F.col("doc_id") % 3 == 2)
    early.repartition(3).write.parquet(src)

    idx = NearDupIndex(spark, str(tmp_path / "stream_idx"))
    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = idx.start_stream(stream, ckpt, pairs_out)
    q.awaitTermination()

    # kill: fresh index object, same store/checkpoint; late docs land
    late.coalesce(1).write.mode("append").parquet(src)
    idx2 = NearDupIndex(spark, str(tmp_path / "stream_idx"))
    stream2 = (spark.readStream.schema(docs.schema)
               .option("maxFilesPerTrigger", 1).parquet(src))
    q2 = idx2.start_stream(stream2, ckpt, pairs_out)
    q2.awaitTermination()

    got = {(r.doc_a, r.doc_b, r.est_jaccard)
           for r in idx2.read_pairs(pairs_out)
           .select("doc_a", "doc_b", "est_jaccard").collect()}
    one = NearDupIndex(spark, str(tmp_path / "oneshot2"))
    expected = _pairs(one.apply_batch(docs))
    assert got == expected and expected


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_words = st.sampled_from(["spark", "merge", "join", "scan", "batch",
                          "window", "stream", "data", "key", "row"])
_doc = st.lists(_words, min_size=4, max_size=12).map(" ".join)


@settings(max_examples=6, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.too_slow])
@given(texts=st.lists(_doc, min_size=3, max_size=14),
       splits=st.lists(st.integers(0, 2), min_size=3, max_size=14))
def test_property_any_batching_equals_oneshot(spark, tmp_path_factory,
                                              texts, splits):
    """PROPERTY: for ANY corpus and ANY assignment of docs to (up to 3)
    arrival batches — including empty batches and heavy duplication —
    the union of per-batch candidate pairs equals the one-shot pair set
    with identical estimates."""
    rows = [(i, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    base = str(tmp_path_factory.mktemp("ndprop"))

    idx = NearDupIndex(spark, base + "/inc", n_buckets=4)
    got = set()
    for b in range(3):
        ids = [i for i, (_, s) in enumerate(zip(texts, splits + [0] * 99))
               if s == b]
        batch = docs.where(F.col("doc_id").isin(ids))
        if not ids:
            continue
        got |= _pairs(idx.apply_batch(batch))

    one = NearDupIndex(spark, base + "/one", n_buckets=4)
    expected = _pairs(one.apply_batch(docs))
    assert got == expected


def test_neardup_skew_salting_same_pairs(spark, tmp_path):
    """ADVERSARIAL skew: an entire corpus of identical documents — every
    signature lands in ONE (band, bucket) per band.  The skew guard must
    (a) detect it (last_skew metric), (b) salt the store join so the hot
    bucket's fan-in spreads over many tasks, and (c) return EXACTLY the
    pair set and estimates of the unguarded join."""
    n = 120
    rows = [(i, "the same viral boilerplate text repeated everywhere")
            for i in range(n)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    salted = NearDupIndex(spark, str(tmp_path / "s"), salt_threshold=30)
    plain = NearDupIndex(spark, str(tmp_path / "p"), salt_threshold=None)

    # batch 1 primes the store; batch 2 joins against the hot bucket
    b1 = docs.where(F.col("doc_id") < 80)
    b2 = docs.where(F.col("doc_id") >= 80)
    p_s = _pairs(salted.apply_batch(b1)) | _pairs(salted.apply_batch(b2))
    p_p = _pairs(plain.apply_batch(b1)) | _pairs(plain.apply_batch(b2))

    assert salted.last_skew["salted"] is True
    assert salted.last_skew["max_bucket_docs"] >= 80
    assert salted.last_skew["n_salts"] > 1
    assert plain.last_skew == {"max_bucket_docs": 0, "salted": False,
                               "n_salts": 1}
    # identical docs => every pair, estimate 1.0, both guards agree
    assert p_s == p_p and len(p_s) == n * (n - 1) // 2
    assert all(e == 1.0 for _, _, e in p_s)


def test_neardup_skew_guard_off_below_threshold(spark, docs, tmp_path):
    """An ordinary corpus must not trigger salting (no plan change, no
    n_salts replication) — the guard is for the pathological tail."""
    idx = NearDupIndex(spark, str(tmp_path / "nt"))
    base = _pairs(idx.apply_batch(docs))
    assert idx.last_skew["salted"] is False
    assert idx.last_skew["max_bucket_docs"] < idx.salt_threshold
    one = NearDupIndex(spark, str(tmp_path / "ref"), salt_threshold=None)
    assert base == _pairs(one.apply_batch(docs))


def test_batch_frees_band_rows_checkpoint(spark, docs, tmp_path):
    """A batch leaves exactly one checkpoint behind — the returned pairs
    — so a long stream does not accumulate every batch's band rows
    until ContextCleaner happens to run."""
    jsc = spark.sparkContext._jsc

    def persisted():
        return set(jsc.getPersistentRDDs().keys())

    idx = NearDupIndex(spark, str(tmp_path / "free"), n_buckets=4)
    before = persisted()
    out = idx.apply_batch(docs.limit(100))
    assert len(persisted() - before) == 1
    assert out.count() >= 0   # the pairs stay readable
