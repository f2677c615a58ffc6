"""Unit tests for the round-6 operator additions: SCD2 history, table
checksum, fuzzy matching, BM25, duplicate-n-gram coverage."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from ydb_cdc_processor_spark.functions.checksum import table_checksum
from ydb_cdc_processor_spark.operators import dedup, fuzzy, scd, text


def _ts(s):
    return dt.datetime.fromisoformat(s)


# ---------------------------------------------------------------- SCD2

def _changes(spark):
    rows = [
        # key 1: a -> a (no-op) -> b -> b (no-op) -> a
        (1, _ts("2024-01-01 00:00:00"), 1, "a"),
        (1, _ts("2024-01-02 00:00:00"), 2, "a"),
        (1, _ts("2024-01-03 00:00:00"), 3, "b"),
        (1, _ts("2024-01-04 00:00:00"), 4, "b"),
        (1, _ts("2024-01-05 00:00:00"), 5, "a"),
        # key 2: single version, NULL attr
        (2, _ts("2024-01-01 00:00:00"), 6, None),
        # key 3: NULL -> NULL (no-op) -> x
        (3, _ts("2024-01-01 00:00:00"), 7, None),
        (3, _ts("2024-01-02 00:00:00"), 8, None),
        (3, _ts("2024-01-03 00:00:00"), 9, "x"),
    ]
    return spark.createDataFrame(
        rows, "k long, ts timestamp, seq long, attr string")


def test_scd2_suppresses_noops_and_builds_intervals(spark):
    hist = scd.scd2_history(_changes(spark), ["k"], "ts", ["attr"],
                            tiebreak_col="seq")
    got = {(r["k"], r["attr"], r["valid_from"].day,
            None if r["valid_to"] is None else r["valid_to"].day,
            r["is_current"])
           for r in hist.collect()}
    assert got == {
        (1, "a", 1, 3, False),
        (1, "b", 3, 5, False),
        (1, "a", 5, None, True),
        (2, None, 1, None, True),
        (3, None, 1, 3, False),
        (3, "x", 3, None, True),
    }


def test_scd2_without_suppression_keeps_every_version(spark):
    hist = scd.scd2_history(_changes(spark), ["k"], "ts", ["attr"],
                            tiebreak_col="seq", suppress_unchanged=False)
    assert hist.count() == 9
    # intervals still chain: each key's row count of is_current is 1
    cur = hist.groupBy("k").agg(
        F.sum(F.col("is_current").cast("int")).alias("n")).collect()
    assert all(r["n"] == 1 for r in cur)


def test_scd2_snapshot_at(spark):
    hist = scd.scd2_history(_changes(spark), ["k"], "ts", ["attr"],
                            tiebreak_col="seq")
    snap = scd.snapshot_at(hist, "2024-01-03 12:00:00")
    got = {(r["k"], r["attr"]) for r in snap.collect()}
    assert got == {(1, "b"), (2, None), (3, "x")}


def test_scd2_tiebreak_orders_equal_timestamps(spark):
    t = _ts("2024-01-01 00:00:00")
    rows = [(1, t, 2, "late"), (1, t, 1, "early")]
    df = spark.createDataFrame(rows, "k long, ts timestamp, seq long, "
                               "attr string")
    hist = scd.scd2_history(df, ["k"], "ts", ["attr"], tiebreak_col="seq")
    cur = hist.where("is_current").collect()
    assert len(cur) == 1 and cur[0]["attr"] == "late"


# ----------------------------------------------------------- checksum

def test_checksum_order_and_partitioning_invariant(spark):
    rows = [(i, f"v{i % 7}") for i in range(200)]
    a = spark.createDataFrame(rows, "id long, v string")
    b = spark.createDataFrame(list(reversed(rows)), "id long, v string") \
        .repartition(13)
    da = table_checksum(a, ["id", "v"]).collect()[0]
    db = table_checksum(b, ["id", "v"]).collect()[0]
    assert (da["n_rows"], da["digest"]) == (db["n_rows"], db["digest"])


def test_checksum_detects_single_value_change(spark):
    rows = [(i, f"v{i}") for i in range(50)]
    a = spark.createDataFrame(rows, "id long, v string")
    mutated = [(i, "vX" if i == 31 else f"v{i}") for i in range(50)]
    b = spark.createDataFrame(mutated, "id long, v string")
    da = table_checksum(a, ["id", "v"]).collect()[0]
    db = table_checksum(b, ["id", "v"]).collect()[0]
    assert da["n_rows"] == db["n_rows"] and da["digest"] != db["digest"]


def test_checksum_shard_additivity(spark):
    rows = [(i, f"v{i}") for i in range(100)]
    full = spark.createDataFrame(rows, "id long, v string")
    lo = full.where("id < 40")
    hi = full.where("id >= 40")
    # digest is rendered as a decimal string for cross-engine exactness;
    # additivity holds on the integer value
    d = lambda df: int(table_checksum(df, ["id", "v"]).collect()[0]["digest"])
    assert d(full) == d(lo) + d(hi)


def test_checksum_null_vs_empty_string_differ(spark):
    a = spark.createDataFrame([(1, None)], "id long, v string")
    b = spark.createDataFrame([(1, "")], "id long, v string")
    da = table_checksum(a, ["id", "v"]).collect()[0]["digest"]
    db = table_checksum(b, ["id", "v"]).collect()[0]["digest"]
    assert da != db


def test_checksum_serialization_injective(spark):
    """Separator-forging values must NOT collide: with the old
    join-with-\\x1f serialization, ('a\\x1fb', 'c') and ('a', 'b\\x1fc')
    hashed identically.  The per-field-digest scheme is injective."""
    a = spark.createDataFrame([("a\x1fb", "c")], "x string, y string")
    b = spark.createDataFrame([("a", "b\x1fc")], "x string, y string")
    da = table_checksum(a, ["x", "y"]).collect()[0]
    db = table_checksum(b, ["x", "y"]).collect()[0]
    assert da["digest"] != db["digest"]
    # NULL-marker forgery: a literal NULL vs a value equal to any
    # printable marker must differ too (md5 output can't be 'N'*32)
    c = spark.createDataFrame([(1, None)], "id long, v string")
    d_ = spark.createDataFrame([(1, "N" * 32)], "id long, v string")
    assert (table_checksum(c, ["id", "v"]).collect()[0]["digest"]
            != table_checksum(d_, ["id", "v"]).collect()[0]["digest"])


def test_checksum_digest_is_canonical_decimal_string(spark):
    df = spark.createDataFrame([(i, f"v{i}") for i in range(10)],
                               "id long, v string")
    row = table_checksum(df, ["id", "v"]).collect()[0]
    assert isinstance(row["digest"], str) and row["digest"].isdigit()


def test_checksum_carries_format_version(spark):
    """Every digest is self-describing: the fmt tag makes a persisted
    baseline from an older serialization fail LOUDLY (tag mismatch)
    instead of silently comparing unequal."""
    from ydb_cdc_processor_spark.functions.checksum import DIGEST_FORMAT
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    row = table_checksum(df, ["id", "v"]).collect()[0]
    assert row["fmt"] == DIGEST_FORMAT == "cksum-v2"


# -------------------------------------------------------------- fuzzy

def test_fuzzy_pairs_match_bruteforce(spark):
    vocab = ["kitten", "sitten", "mitten", "mittens", "kit", "kits",
             "ab", "ba", "abc", "xyz", "xyzzy"]
    df = spark.createDataFrame([(w,) for w in vocab], "term string")
    got = {(r["term_a"], r["term_b"]) for r in
           fuzzy.fuzzy_pairs_edit1(df).collect()}

    def lev(a, b):
        import functools
        @functools.lru_cache(maxsize=None)
        def d(i, j):
            if i == 0:
                return j
            if j == 0:
                return i
            return min(d(i - 1, j) + 1, d(i, j - 1) + 1,
                       d(i - 1, j - 1) + (a[i - 1] != b[j - 1]))
        return d(len(a), len(b))

    want = {(a, b) for i, a in enumerate(vocab) for b in vocab[i + 1:]
            if lev(*sorted((a, b))) <= 1}
    want = {tuple(sorted(p)) for p in want}
    assert got == want
    # sanity: the distance-2 transposition pair is excluded by verify
    assert ("ab", "ba") not in got


def test_fuzzy_dedups_duplicate_terms(spark):
    df = spark.createDataFrame([("cat",), ("cat",), ("cut",)],
                               "term string")
    rows = fuzzy.fuzzy_pairs_edit1(df).collect()
    assert len(rows) == 1 and rows[0]["dist"] == 1


# --------------------------------------------------------------- BM25

def test_bm25_ranks_term_frequency(spark):
    docs = spark.createDataFrame(
        [(1, "apple apple apple pear"),
         (2, "apple pear pear pear"),
         (3, "plum plum plum plum")],
        "doc_id long, text string")
    q = spark.createDataFrame([("q", "apple")], "qid string, term string")
    got = text.bm25_topk(docs, q, k=3).orderBy("rank").collect()
    # only docs containing the term score at all
    assert [r["doc_id"] for r in got] == [1, 2]
    assert got[0]["score"] > got[1]["score"]


def test_bm25_multi_term_sums_and_is_deterministic(spark):
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a a b"), (3, "c c c")],
        "doc_id long, text string")
    q = spark.createDataFrame([("q", "a"), ("q", "b")],
                              "qid string, term string")
    r1 = text.bm25_topk(docs, q, k=3).collect()
    r2 = text.bm25_topk(docs.repartition(7), q, k=3).collect()
    key = lambda rows: sorted((r["qid"], r["doc_id"], r["rank"],
                               r["score"]) for r in rows)
    assert key(r1) == key(r2)
    assert {r["doc_id"] for r in r1} == {1, 2}


# ----------------------------------------------- dup n-gram coverage

def test_dup_ngram_coverage_flags_shared_spans(spark):
    shared = "one two three four five six seven eight"
    docs = spark.createDataFrame(
        [(1, shared + " tail a b"),
         (2, shared + " other c d"),
         (3, "totally different words with no overlap at all here ok"),
         (4, "short doc")],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           dedup.dup_ngram_coverage(docs, n=8).collect()}
    # docs 1 and 2 share exactly the one 8-gram `shared`
    assert got[1]["n_shared"] == 1 and got[2]["n_shared"] == 1
    assert got[1]["n_grams"] == 4  # 11 words -> 4 distinct 8-grams
    assert got[3]["n_shared"] == 0 and got[3]["dup_frac"] == 0.0
    # shorter than n words: zero grams, NULL fraction
    assert got[4]["n_grams"] == 0 and got[4]["dup_frac"] is None


def test_dup_ngram_within_doc_repeat_not_counted(spark):
    # the same 8-gram appearing twice in ONE doc is not "shared"
    g = "w1 w2 w3 w4 w5 w6 w7 w8"
    docs = spark.createDataFrame(
        [(1, g + " filler " + g), (2, "x1 x2 x3 x4 x5 x6 x7 x8 x9")],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           dedup.dup_ngram_coverage(docs, n=8).collect()}
    assert got[1]["n_shared"] == 0


# ------------------------------------------------------- drift / card

def test_source_drift_identical_halves_is_zero(spark):
    # two identical distributions -> zero L1
    rows = [(i, "en" if i % 4 < 2 else "de") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string")
    from ydb_cdc_processor_spark.registry import QUERIES
    import tempfile, os
    with tempfile.TemporaryDirectory() as d:
        docs.withColumn("source", F.lit("s")) \
            .withColumn("text", F.lit("x")) \
            .withColumn("n_chars", F.lit(1).cast("long")) \
            .write.parquet(os.path.join(d, "documents.parquet"))
        got = QUERIES["q_source_drift"](spark, d).collect()[0]
    # doc_id%4<2 gives en for ids 0,1 mod 4 -> half 0 gets {0,2}=en/de
    # equally; both halves have 10 en + 10 de
    assert got["l1_num"] == 0 and got["l1_drift"] == 0.0


def test_source_drift_disjoint_is_two(spark):
    # completely disjoint languages -> L1 = 2 (maximal)
    rows = [(i, "en" if i % 2 == 0 else "de") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string")
    from ydb_cdc_processor_spark.registry import QUERIES
    import tempfile, os
    with tempfile.TemporaryDirectory() as d:
        docs.withColumn("source", F.lit("s")) \
            .withColumn("text", F.lit("x")) \
            .withColumn("n_chars", F.lit(1).cast("long")) \
            .write.parquet(os.path.join(d, "documents.parquet"))
        got = QUERIES["q_source_drift"](spark, d).collect()[0]
    assert got["l1_drift"] == 2.0


# ----------------------------------------------- incremental SCD2 view

def _scd2_view(spark, tmp_path):
    return scd.Scd2View(spark, str(tmp_path / "hist"),
                        ["k"], "ts", ["attr"], tiebreak_col="seq")


def _rows_of(df):
    return sorted((r["k"], str(r["attr"]), str(r["valid_from"]),
                   str(r["valid_to"]), r["is_current"])
                  for r in df.collect())


def test_scd2_view_incremental_equals_batch(spark, tmp_path):
    ch = _changes(spark)
    view = _scd2_view(spark, tmp_path)
    # apply in three interleaved (event-time out-of-order) batches
    for part in range(3):
        view.apply_batch(ch.where(F.col("seq") % 3 == part),
                         batch_token=f"b{part}")
    full = scd.scd2_history(ch, ["k"], "ts", ["attr"], tiebreak_col="seq")
    assert _rows_of(view.read()) == _rows_of(full)


def test_scd2_view_replay_is_idempotent(spark, tmp_path):
    ch = _changes(spark)
    view = _scd2_view(spark, tmp_path)
    b0 = ch.where(F.col("seq") <= 5)
    view.apply_batch(b0, batch_token="b0")
    before = _rows_of(view.read())
    view.apply_batch(b0, batch_token="b0")      # fenced replay
    assert _rows_of(view.read()) == before
    view.apply_batch(b0, batch_token=None)      # unfenced replay: dedups
    assert _rows_of(view.read()) == before
    # the fence survives an un-tokenized apply (the manifest keeps it)
    assert view._store.manifest()["applied_tokens"] == ["b0"]


def test_scd2_view_late_change_splices(spark, tmp_path):
    view = _scd2_view(spark, tmp_path)
    early = [(1, _ts("2024-01-01 00:00:00"), 1, "a"),
             (1, _ts("2024-01-05 00:00:00"), 5, "c")]
    late = [(1, _ts("2024-01-03 00:00:00"), 3, "b")]
    schema = "k long, ts timestamp, seq long, attr string"
    view.apply_batch(spark.createDataFrame(early, schema), "b0")
    view.apply_batch(spark.createDataFrame(late, schema), "b1")
    got = {(r["attr"], r["valid_from"].day,
            None if r["valid_to"] is None else r["valid_to"].day)
           for r in view.read().collect()}
    assert got == {("a", 1, 3), ("b", 3, 5), ("c", 5, None)}


def test_scd2_view_suppressed_noop_revives_on_late_splice(spark, tmp_path):
    # a@t1, a@t3 arrive first: a@t3 is a no-op. b@t2 arrives late:
    # a@t3 must REVIVE as a real change (the raw-row store exists for
    # exactly this; rebuilding from surviving rows would lose it).
    view = _scd2_view(spark, tmp_path)
    schema = "k long, ts timestamp, seq long, attr string"
    view.apply_batch(spark.createDataFrame(
        [(1, _ts("2024-01-01 00:00:00"), 1, "a"),
         (1, _ts("2024-01-03 00:00:00"), 3, "a")], schema), "b0")
    assert view.read().count() == 1  # a@t3 suppressed
    view.apply_batch(spark.createDataFrame(
        [(1, _ts("2024-01-02 00:00:00"), 2, "b")], schema), "b1")
    got = {(r["attr"], r["valid_from"].day,
            None if r["valid_to"] is None else r["valid_to"].day)
           for r in view.read().collect()}
    assert got == {("a", 1, 2), ("b", 2, 3), ("a", 3, None)}


# ----------------------------------------------- incremental checksum

def test_checksum_view_incremental_equals_recompute(spark, tmp_path):
    """ChecksumView across inserts, updates, and deletes must equal the
    full table_checksum recompute after every step (shard additivity
    applied incrementally), and the replay fence must make a re-applied
    batch a no-op."""
    from ydb_cdc_processor_spark.functions.checksum import ChecksumView
    from ydb_cdc_processor_spark.operators.merge import (
        ParquetMaterializedView)

    rows = [(i, f"v{i}", i * 10) for i in range(100)]
    full = spark.createDataFrame(rows, "id long, v string, x long")
    mv = ParquetMaterializedView(spark, str(tmp_path / "view"), ["id"],
                                 schema=full.schema)
    cv = ChecksumView(spark, str(tmp_path / "ck"), ["id", "v", "x"])

    def step(new, token):
        old = None
        if mv.exists():
            old = (mv.read().join(new.select("id"), on="id",
                                  how="left_semi")
                   .localCheckpoint(eager=True))
        cv.apply_delta(new, old, batch_token=token)
        mv.apply(new, action="upsertInto")

    # batch 1: inserts
    step(full.where("id < 60"), "b1")
    assert cv.matches(mv.read())
    # batch 2: inserts + updates (changed values)
    b2 = full.where("id >= 40").withColumn(
        "v", F.concat(F.col("v"), F.lit("_mod")))
    step(b2, "b2")
    assert cv.matches(mv.read())
    # batch 3: restore the true rows (update back)
    step(full.where("id >= 40"), "b3")
    assert cv.matches(mv.read())
    # replay of batch 3 under the same token: no-op
    d_before = cv.read()
    cv.apply_delta(full.where("id >= 40"), mv.read().join(
        full.where("id >= 40").select("id"), on="id", how="left_semi"),
        batch_token="b3")
    assert cv.read() == d_before
    # deletes
    victims = mv.read().where("id % 7 = 0").localCheckpoint(eager=True)
    cv.apply_delta(None, victims, batch_token="b4")
    mv.apply(victims.select("id"), action="deleteFrom")
    assert cv.matches(mv.read())
    # view now equals full minus victims; a tampered frame mismatches
    assert not cv.matches(mv.read().where("id != 3"))


def test_checksum_view_rides_engine_agg_feed(spark, sf_dir, tmp_path):
    """ChecksumView passed via CdcBatchEngine(agg_views=[...]) must track
    the engine-maintained row view through the real CDC flow (decode →
    last-wins → merge, including deletes) and stay exact across an
    at-least-once replay of the same batch."""
    from ydb_cdc_processor_spark.engine import CdcBatchEngine
    from ydb_cdc_processor_spark.functions.checksum import ChecksumView
    from ydb_cdc_processor_spark.plans.pipeline import (
        ActionMode, CdcPipeline)
    from ydb_cdc_processor_spark.sources import cdc_json
    from ydb_cdc_processor_spark.sources.catalog import describe_table

    fixture_dir = str(tmp_path / "events_cdc")
    assert cdc_json.write_events_cdc_fixture(spark, sf_dir, fixture_dir,
                                             n_partitions=4) > 0
    schema, pk = describe_table(spark, sf_dir, "events")
    p = CdcPipeline(
        name="ck_view", source_schema=schema, pk=pk,
        members=cdc_json.EVENTS_MEMBERS,
        update_sql="SELECT event_id, ts, user_id, event_type, value "
                   "FROM rows",
        delete_sql="SELECT event_id FROM rows",
        action_mode=ActionMode.DIRECT).validate(spark)
    cv = ChecksumView(spark, str(tmp_path / "ck"),
                      ["event_id", "user_id", "event_type"])
    eng = CdcBatchEngine(spark, p, str(tmp_path / "view"), agg_views=[cv])
    raw = cdc_json.read_cdc_batch(spark, fixture_dir)
    eng.apply_raw_batch(raw, batch_token="ck:0")
    assert cv.matches(eng.read_view())
    # replay: fence skips the checksum delta, merge is idempotent
    eng.apply_raw_batch(raw, batch_token="ck:0")
    assert cv.matches(eng.read_view())


def test_checksum_view_format_fence(spark, tmp_path):
    """Reopening state written under a different digest format must fail
    loudly, not compare unequal."""
    import json as _json
    import os as _os

    from ydb_cdc_processor_spark.functions.checksum import ChecksumView
    from ydb_cdc_processor_spark.operators.bucketed_view import MANIFEST
    cv = ChecksumView(spark, str(tmp_path / "ck"), ["id"])
    _os.makedirs(cv.path, exist_ok=True)
    with open(_os.path.join(cv.path, MANIFEST), "w") as fh:
        _json.dump({"n_rows": 5, "digest": "123", "fmt": "cksum-v1"}, fh)
    with pytest.raises(ValueError, match="incomparable"):
        cv.read()


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(max_examples=5, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.too_slow])
@given(plan=st.lists(
    st.tuples(st.sampled_from(["up", "del"]),
              st.lists(st.integers(0, 19), min_size=0, max_size=8),
              st.integers(0, 3)),
    min_size=1, max_size=5))
def test_property_checksum_any_batching(spark, tmp_path_factory, plan):
    """PROPERTY: for ANY sequence of upsert/delete batches over a
    20-key space (duplicated keys, empty batches, value churn), the
    incrementally-maintained digest equals the full recompute after
    every step."""
    from ydb_cdc_processor_spark.functions.checksum import ChecksumView
    from ydb_cdc_processor_spark.operators.merge import (
        ParquetMaterializedView)

    base = str(tmp_path_factory.mktemp("ckprop"))
    schema = "id long, v string"
    mv = ParquetMaterializedView(spark, base + "/view", ["id"],
                                 schema=spark.createDataFrame([], schema)
                                 .schema)
    cv = ChecksumView(spark, base + "/ck", ["id", "v"])
    for i, (kind, ids, salt) in enumerate(plan):
        ids = sorted(set(ids))
        if kind == "up":
            new = spark.createDataFrame(
                [(k, f"v{k}_{salt}") for k in ids], schema)
            old = None
            if mv.exists() and ids:
                old = (mv.read().join(new.select("id"), on="id",
                                      how="left_semi")
                       .localCheckpoint(eager=True))
            cv.apply_delta(new, old, batch_token=f"p:{i}")
            if ids:
                mv.apply(new, action="upsertInto")
        else:
            if not mv.exists():
                continue
            victims = (mv.read().where(F.col("id").isin(ids) if ids
                                       else F.lit(False))
                       .localCheckpoint(eager=True))
            cv.apply_delta(None, victims, batch_token=f"p:{i}")
            if ids:
                mv.apply(victims.select("id"), action="deleteFrom")
        if mv.exists():
            assert cv.matches(mv.read())


def test_checksum_view_empty_table_matches(spark, tmp_path):
    """SQL SUM over zero rows is NULL — a legitimately-empty view must
    MATCH the maintained zero state, not raise a false alarm (found by
    review: upsert-then-delete-everything plans failed matches())."""
    from ydb_cdc_processor_spark.functions.checksum import ChecksumView
    from ydb_cdc_processor_spark.operators.merge import (
        ParquetMaterializedView)
    schema = "id long, v string"
    mv = ParquetMaterializedView(spark, str(tmp_path / "v"), ["id"],
                                 schema=spark.createDataFrame([], schema)
                                 .schema)
    cv = ChecksumView(spark, str(tmp_path / "ck"), ["id", "v"])
    # never-written state vs empty frame
    assert cv.matches(spark.createDataFrame([], schema))
    # insert everything, then delete everything
    rows = spark.createDataFrame([(1, "a"), (2, "b")], schema)
    cv.apply_delta(rows, None, batch_token="a")
    mv.apply(rows, action="upsertInto")
    victims = mv.read().localCheckpoint(eager=True)
    cv.apply_delta(None, victims, batch_token="b")
    mv.apply(victims.select("id"), action="deleteFrom")
    assert cv.read()["n_rows"] == 0
    assert cv.matches(mv.read())


def test_checksum_replay_check_respects_format_fence(spark, tmp_path):
    """A replayed token against an OLD-FORMAT state file must raise (the
    fence), never silently skip and keep the incomparable digest alive
    (found by review: a single-token shortcut bypassed the fence)."""
    import json as _json
    import os as _os

    from ydb_cdc_processor_spark.functions.checksum import ChecksumView
    from ydb_cdc_processor_spark.operators.bucketed_view import MANIFEST
    cv = ChecksumView(spark, str(tmp_path / "ck"), ["id"])
    _os.makedirs(cv.path, exist_ok=True)
    with open(_os.path.join(cv.path, MANIFEST), "w") as fh:
        _json.dump({"n_rows": 5, "digest": "123", "fmt": "cksum-v1",
                    "applied_tokens": ["t"]}, fh)
    df = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ValueError, match="incomparable"):
        cv.apply_delta(df, None, batch_token="t")


def test_checksum_replay_of_earlier_token_is_skipped(spark, tmp_path):
    """The checksum follows every store's replay rule: a token anywhere
    in the applied history is skipped, not only the last one — applying
    t:0, t:1 and then replaying t:0 must not count t:0's rows twice."""
    from ydb_cdc_processor_spark.functions.checksum import ChecksumView
    cv = ChecksumView(spark, str(tmp_path / "ck"), ["id", "v"])
    b0 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    b1 = spark.createDataFrame([(3, "c")], "id long, v string")
    cv.apply_delta(b0, None, batch_token="t:0")
    cv.apply_delta(b1, None, batch_token="t:1")
    before = cv.read()
    cv.apply_delta(b0, None, batch_token="t:0")
    assert cv.read() == before
    assert before["batch_token"] == "t:1"
    assert cv.matches(b0.unionByName(b1))
    full = table_checksum(b0.unionByName(b1), ["id", "v"]).collect()[0]
    assert (before["n_rows"], before["digest"]) == (3, full["digest"])


def test_checksum_state_read_error_raises(spark, tmp_path, monkeypatch):
    """Only an ABSENT manifest is the zero state: any other read error
    must propagate out of apply_delta and leave the committed state
    alone, never restart the running digest from zero."""
    import os as _os

    from ydb_cdc_processor_spark import storage
    from ydb_cdc_processor_spark.functions.checksum import ChecksumView
    from ydb_cdc_processor_spark.operators.bucketed_view import MANIFEST
    cv = ChecksumView(spark, str(tmp_path / "ck"), ["id"])
    cv.apply_delta(spark.createDataFrame([(1,), (2,)], "id long"), None,
                   batch_token="t:0")
    manifest = _os.path.join(cv.path, MANIFEST)
    with open(manifest) as fh:
        committed = fh.read()
    real = storage.read_text

    def denied(path):
        if path == manifest:
            raise PermissionError(path)
        return real(path)
    monkeypatch.setattr(storage, "read_text", denied)
    with pytest.raises(PermissionError):
        cv.apply_delta(spark.createDataFrame([(3,)], "id long"), None,
                       batch_token="t:1")
    monkeypatch.setattr(storage, "read_text", real)
    with open(manifest) as fh:
        assert fh.read() == committed
    assert cv.read()["n_rows"] == 2
