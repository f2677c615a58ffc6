"""Tests of the benchmark's own parts: generator, oracle, arithmetic, and
the agreement of BENCHMARK.json with the metric lists in the code.

    python3 -m pytest perfbench -q

None of them starts Spark.
"""

import json
import os
import statistics

import pytest

from perfbench import gen
from perfbench.gen import (DELETE, MALFORMED, STYLE_NEW_IMAGE, UPSERT,
                           Change, ChangefeedGenerator, Oracle)
from perfbench.layers import PER_LAYER, target_of
from perfbench.run import END_TO_END
from perfbench.stats import (lazy_self_times, percentile, self_time,
                             summarize, tail_pct, union_length)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _lines(seed: int) -> list[str]:
    g = ChangefeedGenerator(seed, base_keys=500)
    changes = g.base() + g.changes(2000) + g.changes(700)
    return [gen.wire_line(c) for c in changes] + [str(g.users(5))]


def test_generator_is_deterministic_per_seed():
    assert _lines(7) == _lines(7)
    assert _lines(7) != _lines(8)


def test_generator_mix_and_offsets():
    g = ChangefeedGenerator(3, base_keys=1000)
    base = g.base()
    changes = g.changes(10_000)
    offsets = [c.offset for c in base + changes]
    assert offsets == list(range(len(offsets)))
    ops = [c.op for c in changes]
    assert ops.count(MALFORMED) == 10_000 // gen.MALFORMED_EVERY
    assert 0.03 < ops.count(DELETE) / 10_000 < 0.07
    inserts = [c for c in changes if c.op == UPSERT and c.key >= 1000]
    assert 0.12 < len(inserts) / 10_000 < 0.18
    keys = [c.key for c in changes if c.op != MALFORMED and c.key < 1000]
    # Zipf skew: the hottest key repeats far above the uniform share
    assert max(keys.count(k) for k in set(keys)) > 50


def test_malformed_share_holds_across_small_batches():
    g = ChangefeedGenerator(5)
    for _ in range(40):
        g.changes(50)
    assert g.malformed == 40 * 50 // gen.MALFORMED_EVERY


def test_wire_line_is_the_raw_source_shape():
    g = ChangefeedGenerator(2, base_keys=10)
    for c in g.base() + g.changes(1000):
        rec = json.loads(gen.wire_line(c))
        assert set(rec) == {"value", "_partition", "_offset"}
        assert rec["_offset"] == c.offset
        if c.op == MALFORMED:
            assert rec["value"] == c.text
            continue
        env = json.loads(rec["value"])
        assert env["key"] == [c.key]
        if c.op == DELETE:
            assert env["erase"] == {}
            continue
        payload = env["newImage"] if c.style == STYLE_NEW_IMAGE \
            else env["update"]
        if c.style == STYLE_NEW_IMAGE:
            assert env["update"] == {}
        ts, uid, et, value, props = gen.expected_row(c.row)
        assert payload["user_id"] == uid and payload["event_type"] == et
        assert payload["value"] == value
        assert json.dumps(payload["props"], separators=(",", ":")) == props
        assert gen.iso_ts(ts) == payload["ts"]


def test_iso_ts():
    assert gen.iso_ts(gen.TS_BASE_US) == "2024-01-01T00:00:00.000000Z"
    us = gen.TS_BASE_US + ((30 * 24 + 23) * 3600 + 59 * 60 + 58) * 10**6 + 7
    assert gen.iso_ts(us) == "2024-01-31T23:59:58.000007Z"


def test_oracle_hand_computed_case():
    a = (gen.TS_BASE_US + 1, 10, "click", 150, 1)
    b = (gen.TS_BASE_US + 2, 11, "view", None, 2)
    c = (gen.TS_BASE_US + 3, 12, "error", 5, 3)
    d = (gen.TS_BASE_US + 4, 10, "signup", 99999, 4)
    changes = [
        Change(0, 1, UPSERT, a),                       # U
        Change(1, 1, UPSERT, b),                       # U
        Change(2, 1, DELETE),                          # D: U→U→D deletes
        Change(3, 2, DELETE),                          # D on a missing key
        Change(4, 2, UPSERT, c),                       # D→U re-inserts
        Change(5, 3, UPSERT, d, STYLE_NEW_IMAGE),      # update:{} + newImage
        Change(6, 0, MALFORMED, text='{"key":[1]}'),   # skipped, counted
    ]
    o = Oracle(index_users=True)
    o.apply(list(reversed(changes)))  # replay sorts by offset
    assert o.rows == {
        2: (gen.TS_BASE_US + 3, 12, "error", 0.05, '{"k":3}'),
        3: (gen.TS_BASE_US + 4, 10, "signup", 999.99, '{"k":4}'),
    }
    assert o.malformed == 1 and o.well_formed == 6
    assert o.lookup(10) == {3} and o.lookup(11) == set()
    assert o.lookup(12) == {2}
    assert json.loads(gen.envelope(changes[5]))["update"] == {}


def test_oracle_lookup_follows_user_moves():
    o = Oracle(index_users=True)
    row = (gen.TS_BASE_US, 1, "click", 1, 1)
    moved = (gen.TS_BASE_US, 2, "click", 1, 1)
    o.apply([Change(0, 9, UPSERT, row), Change(1, 9, UPSERT, moved)])
    assert o.lookup(1) == set() and o.lookup(2) == {9}


def test_percentile_matches_statistics_inclusive():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0, 10.0, 7.5]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    assert percentile(xs, 25) == pytest.approx(q[0])
    assert percentile(xs, 50) == pytest.approx(q[1])
    assert percentile(xs, 75) == pytest.approx(q[2])
    assert percentile([3.0], 90) == 3.0


def test_tail_percentile_rule():
    assert tail_pct(100) == 90 and tail_pct(1000) == 90
    assert tail_pct(80) == 87     # 80 * 0.13 = 10.4 samples beyond
    assert tail_pct(30) == 66
    assert tail_pct(20) == 50
    assert tail_pct(5) == 50
    for n in range(11, 100):
        p = tail_pct(n)
        assert n * (100 - p) / 100 >= 10 or p == 50
    s = summarize([float(i) for i in range(1, 101)])
    assert s["tail_pct"] == 90 and s["n"] == 100
    assert s["tail"] == pytest.approx(90.1)


def test_union_and_self_time():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0
    # parent 0..10, children overlap each other and one spills outside
    assert self_time(0, 10, [(1, 4), (2, 5), (9, 12)]) == pytest.approx(5)
    assert self_time(0, 10, []) == 10


def test_lazy_self_times_by_difference():
    cum = {"sources": 1.0, "decode": 3.0, "last_wins": 3.5, "transform": 3.4}
    got = lazy_self_times(cum, ["sources", "decode", "last_wins",
                                "transform"])
    assert got == pytest.approx({"sources": 1.0, "decode": 2.0,
                                 "last_wins": 0.5, "transform": 0.0})


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == \
        ["cdc_stream", "ivm_serve"]
    assert [(m["name"], m["unit"], m["better"])
            for m in bench["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"], m["better"])
            for m in bench["per_layer"]] == PER_LAYER
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25
    for name, _, _ in PER_LAYER:
        assert target_of(name)[0]
