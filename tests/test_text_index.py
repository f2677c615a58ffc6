"""TextIndex — incrementally-maintained BM25 retrieval index: postings
and corpus stats track the document state exactly under inserts,
rewrites, deletes, and replays; ranked reads equal the batch scorer."""

from pyspark.sql import functions as F

from ydb_cdc_processor_spark.operators import text
from ydb_cdc_processor_spark.operators.text_index import TextIndex

DOCS0 = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "quick brown foxes are quick"),
    (3, "a lazy dog sleeps all day"),
    (4, "grep the logs for errors"),
]


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _ix(spark, tmp_path, **kw):
    return TextIndex(spark, str(tmp_path / "tix"), n_buckets=4, **kw)


def _queries(spark):
    return spark.createDataFrame(
        [("q1", "quick"), ("q1", "dog"), ("q2", "lazy"), ("q2", "errors")],
        "qid string, term string")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_maintenance_tracks_corpus(spark, tmp_path):
    ix = _ix(spark, tmp_path)
    f1 = _docs(spark, DOCS0)
    ix.apply_delta(f1, None, batch_token="b0")
    assert ix.recompute_check(f1)

    # rewrite doc 2: 'foxes'/'are' vanish, 'silver' appears, tf of
    # 'quick' changes, dl changes — stale postings must delete, the
    # survivors must re-upsert with the new tf AND dl
    f2 = _docs(spark, [(2, "quick silver fox")])
    ix.apply_delta(f2, f1.where("doc_id = 2").localCheckpoint(True),
                   batch_token="b1")
    state = [DOCS0[0], (2, "quick silver fox"), DOCS0[2], DOCS0[3]]
    assert ix.recompute_check(_docs(spark, state))

    # delete-only batch: doc 4 disappears from postings AND stats
    ix.apply_delta(None, _docs(spark, [DOCS0[3]]).localCheckpoint(True),
                   batch_token="b2")
    state = state[:3]
    assert ix.recompute_check(_docs(spark, state))
    assert ix._corpus_stats()[0] == 3


def test_topk_matches_batch_scorer(spark, tmp_path):
    """After a full lifecycle, the index's ranked read equals
    text.bm25_topk over the final corpus state — same rows, same
    doubles (identical fold order and avgdl arithmetic)."""
    ix = _ix(spark, tmp_path)
    f1 = _docs(spark, DOCS0)
    ix.apply_delta(f1, None, batch_token="b0")
    f2 = _docs(spark, [(2, "quick silver fox"), (5, "errors in the logs")])
    ix.apply_delta(f2, f1.where("doc_id = 2").localCheckpoint(True),
                   batch_token="b1")
    final = [DOCS0[0], (2, "quick silver fox"), DOCS0[2], DOCS0[3],
             (5, "errors in the logs")]
    got = _rows(ix.topk(_queries(spark), k=3))
    exp = _rows(text.bm25_topk(_docs(spark, final), _queries(spark), k=3))
    assert got == exp and got  # non-empty


def test_replay_is_idempotent(spark, tmp_path):
    """Posting rows are absolute state (replay-safe without a fence);
    the scalar stats ±delta re-applied under the SAME token must fence."""
    ix = _ix(spark, tmp_path)
    f1 = _docs(spark, DOCS0)
    ix.apply_delta(f1, None, batch_token="b0")
    before_post = _rows(ix.read())
    before_stats = ix._corpus_stats()
    ix.apply_delta(f1, None, batch_token="b0")   # replay
    assert _rows(ix.read()) == before_post
    assert ix._corpus_stats() == before_stats


def test_restart_object_serves_same(spark, tmp_path):
    """A fresh TextIndex over the same path serves identical postings,
    stats, and rankings — and still honors the persisted stats fence."""
    ix = _ix(spark, tmp_path)
    f1 = _docs(spark, DOCS0)
    ix.apply_delta(f1, None, batch_token="b0")
    want = _rows(ix.topk(_queries(spark)))

    ix2 = _ix(spark, tmp_path)
    assert _rows(ix2.read()) == _rows(ix.read())
    assert ix2._corpus_stats() == ix._corpus_stats()
    assert _rows(ix2.topk(_queries(spark))) == want
    ix2.apply_delta(f1, None, batch_token="b0")   # replay after restart
    assert ix2._corpus_stats() == ix._corpus_stats()


def test_empty_and_null_text(spark, tmp_path):
    """Token-less docs hold no postings but count in n_docs — and are
    excluded from avgdl's denominator (the batch scorer's dl table)."""
    ix = _ix(spark, tmp_path)
    ix.apply_delta(_docs(spark, [(1, "two words"), (2, ""), (3, None),
                                 (4, "   ")]), None, batch_token="b0")
    assert _rows(ix.read()) == [("two", 1, 1, 2), ("words", 1, 1, 2)]
    assert ix._corpus_stats() == (4, 2, 1)
    # queries still rank against the only real doc
    got = _rows(ix.topk(spark.createDataFrame(
        [("q", "words")], "qid string, term string")))
    assert [r[:2] for r in got] == [("q", 1)]
    # a batch of ONLY token-less docs touches no postings bucket; its
    # scalars and token still commit, once
    for _ in range(2):
        ix.apply_delta(_docs(spark, [(5, ""), (6, None)]), None,
                       batch_token="b1")
    assert ix._corpus_stats() == (6, 2, 1)
    assert _rows(ix.read()) == [("two", 1, 1, 2), ("words", 1, 1, 2)]
    fresh = TextIndex(spark, str(tmp_path / "fresh"))
    fresh.apply_delta(_docs(spark, [(7, "")]), None, batch_token="c0")
    assert fresh.recompute_check(_docs(spark, [(7, "")]))


def test_unknown_terms_and_empty_store(spark, tmp_path):
    ix = _ix(spark, tmp_path)
    q = spark.createDataFrame([("q", "anything")],
                              "qid string, term string")
    assert ix.topk(q).count() == 0   # nothing ingested yet
    ix.apply_delta(_docs(spark, DOCS0), None, batch_token="b0")
    assert ix.topk(spark.createDataFrame(
        [("q", "zzz-not-a-term")], "qid string, term string")).count() == 0


def test_bootstrap_old_images_do_not_retract_stats(spark, tmp_path):
    """First batch WITH old images (fact view predating the index):
    nothing stored means nothing stale AND nothing to retract — the
    corpus stats must stay consistent with the postings' doc set
    (retracting un-tracked docs would leave n_docs short)."""
    ix = _ix(spark, tmp_path)
    prev = _docs(spark, [(1, "old text body")])   # pre-index fact image
    new = _docs(spark, [(1, "fresh words"), (2, "more fresh words")])
    ix.apply_delta(new, prev.localCheckpoint(True), batch_token="b0")
    assert ix.recompute_check(new)
    assert ix._corpus_stats()[0] == 2


def test_engine_drives_text_index(spark, sf_dir, tmp_path):
    """CdcBatchEngine(agg_views=[ix.feed()]): postings over the events
    stream (event_type as the text) equal a from-scratch tokenization
    of the row view after the full fixture batch."""
    from ydb_cdc_processor_spark import CdcBatchEngine, CdcPipeline
    from ydb_cdc_processor_spark.sources import cdc_json
    from ydb_cdc_processor_spark.sources.catalog import describe_table

    schema, pk = describe_table(spark, sf_dir, "events")
    fixture = str(tmp_path / "cdc")
    cdc_json.write_events_cdc_fixture(spark, sf_dir, fixture)
    ix = TextIndex(spark, str(tmp_path / "tix"), id_col="event_id",
                   text_col="event_type", n_buckets=4)
    p = CdcPipeline(
        name="tix_fact", source_schema=schema, pk=pk,
        members=cdc_json.EVENTS_MEMBERS,
        update_sql="SELECT event_id, ts, user_id, event_type, value "
                   "FROM rows",
        delete_sql="SELECT event_id FROM rows").validate(spark)
    eng = CdcBatchEngine(spark, p, str(tmp_path / "view"),
                         agg_views=[ix.feed()])
    eng.apply_raw_batch(cdc_json.read_cdc_batch(spark, fixture),
                        batch_token="e0")
    assert ix.recompute_check(eng.read_view())
    # replay through the engine: unchanged
    before = ix._corpus_stats()
    eng.apply_raw_batch(cdc_json.read_cdc_batch(spark, fixture),
                        batch_token="e0")
    assert ix.recompute_check(eng.read_view())
    assert ix._corpus_stats() == before


def test_start_stream_restart_converges(spark, tmp_path):
    """Append-only streaming ingest: drain, then restart with a FRESH
    object on the same checkpoint after more files arrive — only the
    new files process, and the converged index equals a one-shot
    tokenization of everything ingested."""
    import os

    docs1 = _docs(spark, DOCS0)
    src = str(tmp_path / "src")
    docs1.repartition(3).write.parquet(src)

    def engine():
        return TextIndex(spark, str(tmp_path / "idx"), n_buckets=4)

    def stream():
        return (spark.readStream.schema(docs1.schema)
                .option("maxFilesPerTrigger", 1).parquet(src))

    ix1 = engine()
    ix1.start_stream(stream(), str(tmp_path / "ckpt")).awaitTermination()
    assert ix1.recompute_check(docs1)

    late = _docs(spark, [(5, "errors in the logs"),
                         (6, "fresh corpus words")])
    late.coalesce(1).write.mode("append").parquet(src)
    ix2 = engine()
    ix2.start_stream(stream(), str(tmp_path / "ckpt")).awaitTermination()
    full = _docs(spark, DOCS0 + [(5, "errors in the logs"),
                                 (6, "fresh corpus words")])
    assert ix2.recompute_check(full)

    # a drained checkpoint replays nothing: state unchanged
    ix3 = engine()
    ix3.start_stream(stream(), str(tmp_path / "ckpt")).awaitTermination()
    assert ix3.recompute_check(full)
    assert os.path.isdir(str(tmp_path / "ckpt"))


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# a step is (op, pk, text-index): upsert assigns one of four bodies
# (overlapping term sets, incl. empty), delete removes the pk if present
_BODIES = ["quick brown fox", "quick quick dog", "", "lazy dog sleeps"]
_tstep = st.one_of(
    st.tuples(st.just("up"), st.integers(0, 4), st.integers(0, 3)),
    st.tuples(st.just("del"), st.integers(0, 4), st.just(0)),
)


@settings(max_examples=5, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(steps=st.lists(_tstep, min_size=2, max_size=8))
def test_property_any_interleaving_matches_recompute(spark,
                                                     tmp_path_factory,
                                                     steps):
    """ANY interleaving of keyed doc upserts (incl. rewrites that drop
    terms, empty bodies) and deletes leaves postings AND corpus stats
    equal to a from-scratch tokenization of the resulting doc state."""
    tmp_path = tmp_path_factory.mktemp("tix_prop")
    ix = TextIndex(spark, str(tmp_path / "tix"), n_buckets=2)
    state: dict[int, str] = {}
    for i, (op, pk, bi) in enumerate(steps):
        old_rows = [(pk, state[pk])] if pk in state else []
        old = (_docs(spark, old_rows).localCheckpoint(True)
               if old_rows else None)
        if op == "up":
            ix.apply_delta(_docs(spark, [(pk, _BODIES[bi])]), old,
                           batch_token=f"s{i}")
            state[pk] = _BODIES[bi]
        else:
            if not old_rows:
                continue
            ix.apply_delta(None, old, batch_token=f"s{i}")
            state.pop(pk, None)
    assert ix.recompute_check(_docs(spark, sorted(state.items())))


def test_stream_maintains_text_index_across_restart(spark, sf_dir,
                                                    tmp_path):
    """Kill/restart with fresh objects on the same checkpoint, then
    post-restart deletes + updates: the maintained postings stay equal
    to a from-scratch tokenization of the row view."""
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
        name="tix_stream", source_schema=schema, pk=pk,
        members=cdc_json.EVENTS_MEMBERS,
        update_sql="SELECT event_id, ts, user_id, event_type, value "
                   "FROM rows",
        delete_sql="SELECT event_id FROM rows").validate(spark)
    view, ckpt = str(tmp_path / "view"), str(tmp_path / "ckpt")

    def engine():
        ix = TextIndex(spark, str(tmp_path / "tix"), id_col="event_id",
                       text_col="event_type", n_buckets=4)
        return CdcStreamEngine(spark, p, view, ckpt, max_retries=2,
                               agg_views=[ix.feed()]), ix

    se1, ix1 = engine()
    q = se1.start(src, available_now=True, max_files_per_trigger=1)
    q.awaitTermination()
    assert se1.status().batches >= 3
    assert ix1.recompute_check(se1.batch_engine.read_view())
    se1.stop()

    ids = [r.event_id for r in
           se1.batch_engine.read_view().orderBy("event_id")
           .limit(20).collect()]
    lines = [cdc_json.envelope([i], erase=True) for i in ids[:10]]
    lines += [cdc_json.envelope(
        [i], {"ts": "2024-06-01T00:00:00Z", "user_id": 1,
              "event_type": "reindexed term", "value": 1.0, "props": None})
        for i in ids[10:20]]
    with open(os.path.join(src, "part-late.json"), "w") as f:
        for off, line in enumerate(lines):
            f.write(_json.dumps({"value": line, "_partition": 0,
                                 "_offset": 10_000 + off}) + "\n")

    se2, ix2 = engine()
    status = se2.run_available(src)
    assert status.ok and status.totals.deleted > 0
    assert ix2.recompute_check(se2.batch_engine.read_view())


def test_stopword_guard_drops_hot_terms(spark, tmp_path):
    """Adversarial stopword-scale corpus: one term in EVERY document.
    bucket_stats names the hot bucket (occupancy observability), and
    max_df_ratio prunes the term from scoring — results equal exact
    BM25 over the query minus the stopword, an all-stopword query
    returns empty, and the default (None) still scores everything."""
    rows = [(i, f"the w{i} w{i % 7} extra{i % 3}") for i in range(1, 41)]
    docs = _docs(spark, rows)
    ix = _ix(spark, tmp_path)
    ix.apply_delta(docs, None, batch_token="b0")

    # occupancy: 'the' (df=40) dominates its bucket's postings
    stats = {r.bucket: r for r in ix.bucket_stats().collect()}
    assert sum(r.n_postings for r in stats.values()) \
        == ix.read().count()
    hot = max(stats.values(), key=lambda r: r.max_term_df)
    assert hot.max_term_df == 40

    q = spark.createDataFrame(
        [("q1", "the"), ("q1", "w3"), ("q2", "the")],
        "qid string, term string")
    # guard ON: 'the' (df/N = 1.0 > 0.5) is pruned; q1 scores on 'w3'
    # alone, q2 (all stopwords) vanishes
    got = ix.topk(q, k=3, max_df_ratio=0.5)
    exp = ix.topk(spark.createDataFrame([("q1", "w3")],
                                        "qid string, term string"), k=3)
    assert _rows(got) == _rows(exp)
    assert got.where("qid = 'q2'").count() == 0

    # guard OFF (default): 'the' still scores — every doc is a q2 hit
    assert ix.topk(q, k=3).where("qid = 'q2'").count() == 3

    # a ratio that keeps everything equals the unguarded read
    assert _rows(ix.topk(q, k=3, max_df_ratio=1.0)) == _rows(ix.topk(q, k=3))


def test_merge_from_shards(spark, tmp_path):
    """Federated union over disjoint doc shards: postings union by
    keyed merge, corpus scalars sum — the merged index's BM25 equals a
    single index over the union corpus; the merge is token-fenced."""
    import pytest

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma doc{i} " + ("beta " * (i % 4)))
         for i in range(40)], "doc_id long, text string")
    ref = TextIndex(spark, str(tmp_path / "ref"))
    ref.apply_delta(docs, None, batch_token="all")
    a = TextIndex(spark, str(tmp_path / "a"))
    b = TextIndex(spark, str(tmp_path / "b"))
    a.apply_delta(docs.where("doc_id % 2 = 0"), None, batch_token="a0")
    b.apply_delta(docs.where("doc_id % 2 = 1"), None, batch_token="b0")
    a.merge_from(b, batch_token="fed")
    assert a.recompute_check(docs)
    q = spark.createDataFrame([(0, "beta"), (1, "gamma")],
                              "qid long, term string")
    want = sorted(tuple(r) for r in ref.topk(q, k=3).collect())
    got = sorted(tuple(r) for r in a.topk(q, k=3).collect())
    assert got == want
    # replay: both postings AND scalars fenced
    stats = a._read_stats()
    a.merge_from(b, batch_token="fed")
    assert a._read_stats() == stats
    assert a.recompute_check(docs)
    with pytest.raises(ValueError, match="must match"):
        a.merge_from(TextIndex(spark, str(tmp_path / "c"),
                               id_col="other"))


def test_merge_from_untokenized_preserves_stats_fence(spark, tmp_path):
    """An un-tokenized merge must NOT clobber the previous apply_delta
    stats fence — writing None there would let a replay of the last
    ingest batch re-add its doc/length deltas (review finding)."""
    docs = spark.createDataFrame(
        [(i, f"alpha beta doc{i}") for i in range(10)],
        "doc_id long, text string")
    a = TextIndex(spark, str(tmp_path / "fa"))
    b = TextIndex(spark, str(tmp_path / "fb"))
    a.apply_delta(docs.where("doc_id < 5"), None, batch_token="T")
    b.apply_delta(docs.where("doc_id >= 5"), None, batch_token="B")
    assert a.view.applied_tokens() == ["T:tix"]
    a.merge_from(b)                       # no token
    assert a.view.applied_tokens() == ["T:tix"]      # fence preserved
    n_docs = a._read_stats()["n_docs"]
    # the replayed last ingest batch is still fenced out
    a.apply_delta(docs.where("doc_id < 5"), None, batch_token="T")
    assert a._read_stats()["n_docs"] == n_docs
