"""Seeded CDC changefeed generator and the plain-Python replay oracle.

The generator emits YDB changefeed envelopes for an ``events`` table
(``event_id`` pk, ``ts``, ``user_id``, ``event_type``, ``value``,
``props``) in the engine's raw wire shape ``{value, _partition, _offset}``.
Offsets are global and strictly increasing, and a key always maps to the
same partition, so per-key order is offset order.

Change mix after the base image: 80 % updates and 5 % deletes of
Zipf-ranked existing keys (so a batch repeats its hot keys), 15 % inserts
of fresh keys.  One upsert in a hundred carries its payload as
``update:{}`` + ``newImage``; one line in ``MALFORMED_EVERY`` is a
malformed envelope the decoder must count and skip.

The oracle replays a change list in offset order with plain dicts; it
never touches Spark.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
N_USERS = 1500
BASE_KEYS = 100_000
N_PARTITIONS = 4
MALFORMED_EVERY = 500
ZIPF_A = 1.2
#: malformed envelope shapes: no key, non-array key, no action, truncated
MALFORMED_LINES = ('{"no_key":true}', '{"key":42,"update":{}}',
                   '{"key":[1]}', '{"key":[7],"update":')
TS_BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
TS_SPAN_US = 31 * 86_400 * 1_000_000

UPSERT, DELETE, MALFORMED = "U", "D", "X"
STYLE_UPDATE, STYLE_NEW_IMAGE = "update", "newImage"


class Change(NamedTuple):
    """One changefeed line.  ``row`` is ``(ts_us, user_id, event_type,
    value_cents | None, props_k)`` for upserts, None otherwise; ``text``
    is the raw envelope for malformed lines."""

    offset: int
    key: int
    op: str
    row: tuple | None = None
    style: str = STYLE_UPDATE
    text: str | None = None


def iso_ts(ts_us: int) -> str:
    """ISO-8601 UTC text for micros inside January 2024."""
    s, us = divmod(ts_us - TS_BASE_US, 1_000_000)
    d, s = divmod(s, 86_400)
    h, s = divmod(s, 3600)
    m, s = divmod(s, 60)
    return f"2024-01-{d + 1:02d}T{h:02d}:{m:02d}:{s:02d}.{us:06d}Z"


def value_text(cents: int | None) -> str:
    return "null" if cents is None else f"{cents // 100}.{cents % 100:02d}"


def props_text(k: int) -> str:
    return f'{{"k":{k}}}'


def envelope(c: Change) -> str:
    """The change's changefeed envelope text."""
    if c.op == MALFORMED:
        return c.text
    if c.op == DELETE:
        return f'{{"key":[{c.key}],"erase":{{}}}}'
    ts, uid, et, cents, k = c.row
    payload = (f'{{"ts":"{iso_ts(ts)}","user_id":{uid},"event_type":"{et}",'
               f'"value":{value_text(cents)},"props":{props_text(k)}}}')
    if c.style == STYLE_NEW_IMAGE:
        return f'{{"key":[{c.key}],"update":{{}},"newImage":{payload}}}'
    return f'{{"key":[{c.key}],"update":{payload}}}'


def partition(c: Change) -> int:
    return c.key % N_PARTITIONS


def wire_line(c: Change) -> str:
    """One JSON line in the engine's raw source schema.  Envelopes hold
    no backslashes or control characters, so escaping their quotes is
    the whole JSON string encoding."""
    env = envelope(c).replace('"', '\\"')
    return (f'{{"value":"{env}","_partition":{partition(c)},'
            f'"_offset":{c.offset}}}')


def raw_rows(changes: list[Change]) -> list[tuple]:
    """``(value, _partition, _offset)`` tuples for ``createDataFrame``."""
    return [(envelope(c), partition(c), c.offset) for c in changes]


def write_lines(path: str, changes: list[Change]) -> int:
    """Write ``changes`` as JSON lines; returns the bytes written."""
    data = "\n".join(wire_line(c) for c in changes) + "\n"
    with open(path, "w", encoding="utf-8") as f:
        f.write(data)
    return len(data.encode())


class ChangefeedGenerator:
    """Deterministic per seed: the same seed and the same call sequence
    give the same changes."""

    def __init__(self, seed: int, base_keys: int = BASE_KEYS):
        self.rng = np.random.default_rng(seed)
        self.base_keys = base_keys
        #: Zipf rank -> key: the hot keys are scattered over the key space
        self.hot = self.rng.permutation(base_keys)
        self.next_key = base_keys
        self.next_offset = 0
        self.malformed = 0
        self.well_formed = 0  # changes() output so far, malformed excluded

    def _rows(self, n: int) -> list[tuple]:
        r = self.rng
        ts = (TS_BASE_US + r.integers(0, TS_SPAN_US, n)).tolist()
        uid = r.integers(0, N_USERS, n).tolist()
        et = r.integers(0, len(EVENT_TYPES), n).tolist()
        cents = r.integers(0, 20_000, n).tolist()
        null_value = (r.random(n) < 0.02).tolist()
        k = r.integers(0, 100, n).tolist()
        return [(ts[i], uid[i], EVENT_TYPES[et[i]],
                 None if null_value[i] else cents[i], k[i])
                for i in range(n)]

    def _offset(self) -> int:
        o = self.next_offset
        self.next_offset += 1
        return o

    def base(self) -> list[Change]:
        """The base image: one insert per key ``0 .. base_keys-1``."""
        return [Change(self._offset(), key, UPSERT, row)
                for key, row in enumerate(self._rows(self.base_keys))]

    def changes(self, n: int) -> list[Change]:
        """``n`` well-formed changes plus one malformed line, at a seeded
        position, per ``MALFORMED_EVERY`` well-formed ones."""
        r = self.rng
        kind = r.random(n)
        ranks = (r.zipf(ZIPF_A, n) - 1) % self.base_keys
        keys = self.hot[ranks].tolist()
        rows = self._rows(n)
        style = (r.random(n) < 0.01).tolist()
        # one malformed line per MALFORMED_EVERY well-formed changes,
        # counted across calls so small batches get their share too
        n_bad = ((self.well_formed + n) // MALFORMED_EVERY
                 - self.well_formed // MALFORMED_EVERY)
        self.well_formed += n
        bad_at = dict(zip(
            r.choice(n, n_bad, replace=False).tolist(),
            r.integers(0, len(MALFORMED_LINES), n_bad).tolist()))
        out: list[Change] = []
        for i in range(n):
            if i in bad_at:
                out.append(Change(self._offset(), 0, MALFORMED,
                                  text=MALFORMED_LINES[bad_at[i]]))
                self.malformed += 1
            k = kind[i]
            if k < 0.05:
                out.append(Change(self._offset(), keys[i], DELETE))
                continue
            if k < 0.20:
                key = self.next_key
                self.next_key += 1
            else:
                key = keys[i]
            out.append(Change(self._offset(), key, UPSERT, rows[i],
                              STYLE_NEW_IMAGE if style[i] else STYLE_UPDATE))
        return out

    def users(self, n: int) -> list[int]:
        """``n`` Zipf-skewed user ids for point lookups."""
        ranks = (self.rng.zipf(ZIPF_A, n) - 1) % N_USERS
        return ranks.tolist()


def expected_row(row: tuple) -> tuple:
    """The view row an upsert should leave, in the shape the benchmark
    reads the view back: ``(ts_us, user_id, event_type, value, props)``."""
    ts, uid, et, cents, k = row
    value = None if cents is None else float(value_text(cents))
    return (ts, uid, et, value, props_text(k))


class Oracle:
    """Final-state replay: upsert replaces the whole row, delete removes
    the key, malformed lines are counted and skipped."""

    def __init__(self, index_users: bool = False):
        self.rows: dict[int, tuple] = {}
        #: user_id -> keys, kept only when ``index_users`` (lookup checks)
        self.by_user: dict[int, set[int]] | None = {} if index_users else None
        self.malformed = 0
        self.well_formed = 0

    def apply(self, changes: list[Change]) -> None:
        rows, by_user = self.rows, self.by_user
        for c in sorted(changes, key=lambda c: c.offset):
            if c.op == MALFORMED:
                self.malformed += 1
                continue
            self.well_formed += 1
            old = rows.pop(c.key, None)
            if by_user is not None and old is not None:
                by_user[old[1]].discard(c.key)
            if c.op == UPSERT:
                row = expected_row(c.row)
                rows[c.key] = row
                if by_user is not None:
                    by_user.setdefault(row[1], set()).add(c.key)

    def lookup(self, user_id: int) -> set[int]:
        return set(self.by_user.get(user_id, ()))
