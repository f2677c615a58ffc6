"""Runtime span tracing and Spark event-log attribution for the traced
run.

Spans wrap the package's public layer entry points at runtime (the
package itself is not edited).  Each span records name, wall-clock
start/end, its parent span and attributes; spans stay in memory and are
written out when the run ends.  A span also tags the Spark jobs its
thread submits with the local property ``perfbench.span``, so the event
log attributes every job, and its tasks' metrics, to the span that
caused it.  Jobs submitted outside any span keep Spark's Python callsite
(``<op> at <file>:<line>``).
"""

from __future__ import annotations

import collections
import contextlib
import functools
import glob
import itertools
import json
import os
import threading
import time

from perfbench.stats import self_time, union_length

JOB_PROP = "perfbench.span"
#: spans whose worker threads start with an empty stack adopt the most
#: recent open span of one of these names as their parent
ADOPTERS = ("engine.fan_out",)
STORAGE_FNS = ("read_text", "write_text", "replace_text", "exists", "is_dir",
               "is_file", "listdir", "makedirs", "rename", "remove_tree",
               "remove_file", "walk", "file_size", "link_or_copy",
               "copy_file", "copy_tree", "tmp_sibling")


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._open: dict[int, dict] = {}
        self._tls = threading.local()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._patches: list[tuple] = []
        #: storage primitive calls: (wall time, name, busy seconds, calls)
        self.storage_log: list[tuple] = []

    # -- spans -----------------------------------------------------------

    def _stack(self) -> list:
        stack = getattr(self._tls, "stack", None)
        if stack is None:
            stack = self._tls.stack = []
        return stack

    def _adopt(self) -> int | None:
        with self._lock:
            cands = [s for s in self._open.values() if s["name"] in ADOPTERS]
        return max(cands, key=lambda s: s["t0"])["id"] if cands else None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1]["id"] if stack else self._adopt()
        rec = {"id": next(self._ids), "parent": parent, "name": name,
               "t0": time.time(), "t1": None, "attrs": attrs}
        with self._lock:
            self._open[rec["id"]] = rec
        stack.append(rec)
        prev = None
        if self.sc is not None:
            prev = self.sc.getLocalProperty(JOB_PROP)
            self.sc.setLocalProperty(JOB_PROP, str(rec["id"]))
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty(JOB_PROP, prev)
            with self._lock:
                del self._open[rec["id"]]
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, attrs_fn=None,
             on_result=None) -> None:
        """Replace ``owner.attr`` (a class method or module function) with
        a span-recording wrapper.  ``attrs_fn(*args)`` adds span
        attributes; ``on_result(rec, result)`` records counts from the
        return value."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            attrs = attrs_fn(*a, **kw) if attrs_fn else {}
            with tracer.span(name, **attrs) as rec:
                out = orig(*a, **kw)
                if on_result is not None:
                    on_result(rec, out)
                return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def count_storage(self, module) -> None:
        """Count calls and busy time of every storage primitive (no span
        and no job tag: these are metadata/file operations)."""
        for fn in STORAGE_FNS:
            orig = getattr(module, fn)
            setattr(module, fn, self._counted(fn, orig))
            self._patches.append((module, fn, orig))

    def _counted(self, fn: str, orig):
        tracer = self

        def timed_iter(it):
            while True:
                t = time.perf_counter()
                try:
                    item = next(it)
                except StopIteration:
                    tracer._add(fn, time.perf_counter() - t, 0)
                    return
                tracer._add(fn, time.perf_counter() - t, 0)
                yield item

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            t = time.perf_counter()
            try:
                out = orig(*a, **kw)
            finally:
                tracer._add(fn, time.perf_counter() - t, 1)
            return timed_iter(out) if fn == "walk" else out

        return wrapper

    def _add(self, fn: str, dt: float, n: int) -> None:
        with self._lock:
            self.storage_log.append((time.time(), fn, dt, n))

    def storage_in(self, t0: float, t1: float) -> tuple[dict, float]:
        """Calls per primitive and total busy seconds inside a window."""
        calls: collections.Counter = collections.Counter()
        busy = 0.0
        with self._lock:
            for t, fn, dt, n in self.storage_log:
                if t0 <= t <= t1:
                    calls[fn] += n
                    busy += dt
        return dict(calls), busy

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()


# -- span tree ---------------------------------------------------------------

class SpanTree:
    """Parent/child queries over a closed span list."""

    def __init__(self, spans: list[dict]):
        self.spans = sorted(spans, key=lambda s: s["t0"])
        self.by_id = {s["id"]: s for s in self.spans}
        self.children: dict = collections.defaultdict(list)
        for s in self.spans:
            self.children[s["parent"]].append(s)

    def named(self, name: str, within: tuple[float, float] | None = None,
              where=None) -> list[dict]:
        out = [s for s in self.spans if s["name"] == name]
        if within is not None:
            out = [s for s in out if s["t0"] >= within[0]
                   and s["t1"] <= within[1]]
        if where is not None:
            out = [s for s in out if where(s)]
        return out

    def ancestors(self, s: dict):
        p = s["parent"]
        while p is not None and p in self.by_id:
            s = self.by_id[p]
            yield s
            p = s["parent"]

    def outermost(self, spans: list[dict]) -> list[dict]:
        """Drop spans nested inside another span of the same name."""
        return [s for s in spans
                if all(a["name"] != s["name"] for a in self.ancestors(s))]

    def subtree_ids(self, s: dict) -> set[int]:
        ids, todo = set(), [s]
        while todo:
            x = todo.pop()
            ids.add(x["id"])
            todo.extend(self.children.get(x["id"], ()))
        return ids

    def self_time(self, s: dict) -> float:
        return self_time(s["t0"], s["t1"],
                         [(c["t0"], c["t1"])
                          for c in self.children.get(s["id"], ())])


def duration(s: dict) -> float:
    return s["t1"] - s["t0"]


# -- Spark event log -----------------------------------------------------------

def read_event_log(log_dir: str) -> dict:
    """Jobs of the (single) application log in ``log_dir``, each with its
    span tag, callsite, interval and summed task metrics."""
    # rolling logs (Spark 4 default) are eventlog_v2_<app>/events_<n>_<app>
    files = sorted(f for f in glob.glob(os.path.join(log_dir, "**"),
                                        recursive=True)
                   if os.path.isfile(f)
                   and not os.path.basename(f).startswith("appstatus"))
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    for path in files:
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "id": jid, "submit": ev["Submission Time"] / 1000.0,
                        "end": None, "span": props.get(JOB_PROP),
                        "callsite": props.get("callSite.short"),
                        "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                        "in_bytes": 0, "out_bytes": 0, "out_records": 0,
                        "shuffle_write_bytes": 0}
                    for sid in ev.get("Stage IDs", ()):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = \
                            ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    m = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    t = {
                        "launch": info.get("Launch Time", 0) / 1000.0,
                        "run_s": m.get("Executor Run Time", 0) / 1000.0,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                        "in_bytes": (m.get("Input Metrics") or {})
                        .get("Bytes Read", 0),
                        "out_bytes": (m.get("Output Metrics") or {})
                        .get("Bytes Written", 0),
                        "out_records": (m.get("Output Metrics") or {})
                        .get("Records Written", 0),
                        "shuffle_write_bytes": (
                            m.get("Shuffle Write Metrics") or {})
                        .get("Shuffle Bytes Written", 0)}
                    tasks.append(t)
                    if jid is not None and jid in jobs:
                        j = jobs[jid]
                        j["tasks"] += 1
                        for k in ("run_s", "cpu_s", "gc_s", "in_bytes",
                                  "out_bytes", "out_records",
                                  "shuffle_write_bytes"):
                            j[k] += t[k]
    return {"jobs": sorted(jobs.values(), key=lambda j: j["id"]),
            "tasks": tasks}


class Attribution:
    """Jobs grouped by the span that submitted them."""

    def __init__(self, tree: SpanTree, log: dict):
        self.tree = tree
        self.jobs = log["jobs"]
        self.tasks = log["tasks"]
        self.by_span: dict = collections.defaultdict(list)
        for j in self.jobs:
            sid = int(j["span"]) if j["span"] else None
            self.by_span[sid].append(j)

    def jobs_under(self, s: dict, direct: bool = False) -> list[dict]:
        if direct:
            return list(self.by_span.get(s["id"], ()))
        out = []
        for sid in self.tree.subtree_ids(s):
            out.extend(self.by_span.get(sid, ()))
        return out

    def driver_gap(self, s: dict) -> float:
        """Span wall time not covered by any job the span caused."""
        ivs = [(j["submit"], j["end"] or j["submit"])
               for j in self.jobs_under(s)]
        clipped = [(max(a, s["t0"]), min(b, s["t1"])) for a, b in ivs
                   if b > s["t0"] and a < s["t1"]]
        return duration(s) - union_length(clipped)

    def window_tasks(self, t0: float, t1: float) -> list[dict]:
        return [t for t in self.tasks if t0 <= t["launch"] <= t1]

    def unattributed_callsites(self) -> dict:
        c = collections.Counter(j["callsite"] for j in self.by_span.get(None, ()))
        return dict(c.most_common(20))


def write_trace(path: str, tree: SpanTree, log: dict, extra: dict) -> None:
    """Spans (each with its self time) and attributed jobs as JSON."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    spans = [{**s, "self_s": tree.self_time(s)} for s in tree.spans]
    with open(path, "w", encoding="utf-8") as f:
        json.dump({"spans": spans, "jobs": log["jobs"], **extra}, f)
