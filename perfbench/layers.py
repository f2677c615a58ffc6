"""Per-layer metrics of a traced run.

Every metric is computed over the measured window only (set-up builds
and the post-run checks are excluded) and normalised per engine batch
(``engine.batches``), per lookup (``secondary_index.lookups``) or per
change (``last_wins.rows_in``) as its name says; those bases are
metrics too.  A layer the workload does not exercise reports 0.
"""

from __future__ import annotations

from perfbench.stats import lazy_self_times, percentile
from perfbench.trace import Attribution, SpanTree, duration

#: (name, unit, better) — the ``per_layer`` list of BENCHMARK.json
PER_LAYER = [
    ("decode.self_s", "s", "lower"),
    ("decode.envelopes", "count", "higher"),
    ("decode.malformed", "count", "lower"),
    ("last_wins.self_s", "s", "lower"),
    ("last_wins.rows_in", "count", "higher"),
    ("last_wins.collapse_ratio", "ratio", "lower"),
    ("last_wins.shuffle_write_bytes", "bytes", "lower"),
    ("engine.batches", "count", "higher"),
    ("engine.jobs_per_batch", "count", "lower"),
    ("engine.tasks_per_batch", "count", "lower"),
    ("engine.driver_gap_s", "s", "lower"),
    ("engine.transform.self_s", "s", "lower"),
    ("engine.old_image_s", "s", "lower"),
    ("engine.fan_out_s", "s", "lower"),
    ("engine.fan_out.overlap_ratio", "ratio", "higher"),
    ("merge.apply_s", "s", "lower"),
    ("merge.rows_rewritten_per_change", "ratio", "lower"),
    ("merge.output_bytes", "bytes", "lower"),
    ("bucketed_view.apply_s", "s", "lower"),
    ("bucketed_view.touched_ratio", "ratio", "lower"),
    ("bucketed_view.rows_rewritten_per_change", "ratio", "lower"),
    ("bucketed_view.files_per_bucket", "count", "lower"),
    ("bucketed_view.read_touched_s", "s", "lower"),
    ("storage.rename.calls_per_batch", "count", "lower"),
    ("storage.remove_tree.calls_per_batch", "count", "lower"),
    ("storage.replace_text.calls_per_batch", "count", "lower"),
    ("storage.walk.calls_per_batch", "count", "lower"),
    ("storage.is_dir.calls_per_batch", "count", "lower"),
    ("storage.exists.calls_per_batch", "count", "lower"),
    ("storage.s_per_batch", "s", "lower"),
    ("storage.view_bytes", "bytes", "lower"),
    ("storage.view_files", "count", "lower"),
    ("agg_view.apply_s", "s", "lower"),
    ("checksum.apply_s", "s", "lower"),
    ("secondary_index.apply_s", "s", "lower"),
    ("join_view.apply_s", "s", "lower"),
    ("secondary_index.lookups", "count", "higher"),
    ("secondary_index.lookup_s", "s", "lower"),
    ("secondary_index.lookup_buckets", "count", "lower"),
    ("secondary_index.jobs_per_lookup", "count", "lower"),
    ("streaming.batches", "count", "higher"),
    ("streaming.add_batch_ms", "ms", "lower"),
    ("streaming.latest_offset_ms", "ms", "lower"),
    ("streaming.wal_commit_ms", "ms", "lower"),
    ("streaming.commit_offsets_ms", "ms", "lower"),
    ("streaming.rows_per_batch", "count", "higher"),
    ("streaming.apply_attempts_per_batch", "count", "lower"),
    ("sources.backlog_files", "count", "lower"),
    ("sources.backlog_growing", "count", "lower"),
    ("sources.input_bytes", "bytes", "higher"),
    ("generator.lateness_p90_s", "s", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.unattributed_jobs", "count", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.executor_run_s", "s", "lower"),
    ("spark.cpu_util", "ratio", "higher"),
]

#: which end-to-end metric a layer metric should move, on which workload
#: (the prediction a later change is checked against), by the longest
#: metric-name prefix listed.  ``backfill`` is not one of the gated
#: workloads; run it with ``--workload backfill``.
TARGETS = {
    "decode": ("changes_per_s", "backfill; ~none on ivm_serve"),
    "last_wins": ("changes_per_s", "backfill"),
    "engine": ("batch_p50_s / freshness_p50_s", "ivm_serve / cdc_stream"),
    "engine.transform": ("batch_p50_s", "ivm_serve"),
    "engine.old_image": ("batch_p50_s", "ivm_serve"),
    "engine.fan_out": ("batch_p50_s", "ivm_serve"),
    "merge": ("freshness_p50_s; changes_per_s", "cdc_stream; backfill"),
    "bucketed_view": ("batch_p50_s", "ivm_serve"),
    "bucketed_view.files_per_bucket": ("read_p50_s", "ivm_serve"),
    "bucketed_view.read_touched": ("read_p50_s", "ivm_serve"),
    "storage": ("batch_p50_s / freshness_p50_s", "ivm_serve / cdc_stream"),
    "agg_view": ("batch_p50_s, batch_tail_s", "ivm_serve"),
    "checksum": ("batch_p50_s, batch_tail_s", "ivm_serve"),
    "secondary_index": ("read_p50_s", "ivm_serve"),
    "secondary_index.apply": ("batch_p50_s, batch_tail_s", "ivm_serve"),
    "join_view": ("batch_p50_s, batch_tail_s", "ivm_serve"),
    "streaming": ("freshness_p50_s", "cdc_stream"),
    "sources": ("freshness_tail_s", "cdc_stream"),
    "sources.input_bytes": ("changes_per_s", "backfill"),
    "generator": ("validity of freshness_*", "cdc_stream"),
    "spark": ("tails, peak_rss_mb", "all"),
}


def target_of(metric: str) -> tuple[str, str]:
    """The (end-to-end metric, workload) a layer metric should move."""
    prefixes = [p for p in TARGETS
                if metric == p or metric.startswith(p + ".")
                or metric.startswith(p + "_")]
    return TARGETS[max(prefixes, key=len)]


def _sum_dur(spans: list[dict]) -> float:
    return sum(duration(s) for s in spans)


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(tree: SpanTree, attr: Attribution, out, storage: tuple,
                  cores: int) -> dict:
    """All :data:`PER_LAYER` metrics for one traced run."""
    win = out.window
    facts = out.facts
    m = {name: 0.0 for name, _, _ in PER_LAYER}
    target = facts.get("target")

    def on_target(s):
        return s["attrs"].get("path") == target

    applies = tree.outermost(tree.named("engine.apply", win))
    nb = len(applies)
    per_batch = 1.0 / nb if nb else 0.0
    m["engine.batches"] = nb
    jobs = [j for a in applies for j in attr.jobs_under(a)]
    m["engine.jobs_per_batch"] = len(jobs) * per_batch
    m["engine.tasks_per_batch"] = sum(j["tasks"] for j in jobs) * per_batch
    m["engine.driver_gap_s"] = _mean([attr.driver_gap(a) for a in applies])

    # lazy layers: cumulative noop-forced times, self time by difference
    lazy = facts.get("lazy")
    if lazy:
        own = lazy_self_times(lazy, ["sources", "decode", "last_wins",
                                     "transform"])
        m["decode.self_s"] = own["decode"]
        m["last_wins.self_s"] = own["last_wins"]
        m["engine.transform.self_s"] = own["transform"]
    m["decode.envelopes"] = facts.get("envelopes", 0)
    m["decode.malformed"] = facts.get("malformed", 0)
    rows_in = out.changes
    rows_out = sum(a["attrs"].get("upserted", 0) + a["attrs"].get("deleted", 0)
                   for a in applies)
    m["last_wins.rows_in"] = rows_in
    m["last_wins.collapse_ratio"] = rows_out / rows_in if rows_in else 0.0
    m["last_wins.shuffle_write_bytes"] = sum(
        j["shuffle_write_bytes"] for a in applies
        for j in attr.jobs_under(a, direct=True)) * per_batch

    derived = tree.named("engine.derived", win)
    fans = tree.named("engine.fan_out", win)
    m["engine.old_image_s"] = (_sum_dur(derived) - _sum_dur(
        [f for f in fans if f["parent"] in {d["id"] for d in derived}])) \
        * per_batch
    m["engine.fan_out_s"] = _sum_dur(fans) * per_batch
    fan_wall = _sum_dur(fans)
    if fan_wall:
        m["engine.fan_out.overlap_ratio"] = sum(
            _sum_dur(tree.children.get(f["id"], [])) for f in fans) / fan_wall

    merges = tree.outermost(tree.named("merge.apply", win, on_target))
    merge_jobs = [j for s in merges for j in attr.jobs_under(s)]
    m["merge.apply_s"] = _sum_dur(merges) * per_batch
    if rows_in:
        m["merge.rows_rewritten_per_change"] = sum(
            j["out_records"] for j in merge_jobs) / rows_in
    m["merge.output_bytes"] = sum(j["out_bytes"] for j in merge_jobs) \
        * per_batch

    bviews = tree.outermost(tree.named("bucketed_view.apply", win, on_target))
    bjobs = [j for s in bviews for j in attr.jobs_under(s)]
    m["bucketed_view.apply_s"] = _sum_dur(bviews) * per_batch
    ratios = [s["attrs"]["touched"] / s["attrs"]["n_buckets"] for s in bviews
              if s["attrs"].get("n_buckets") and "touched" in s["attrs"]]
    m["bucketed_view.touched_ratio"] = _mean(ratios)
    if rows_in and bviews:
        m["bucketed_view.rows_rewritten_per_change"] = sum(
            j["out_records"] for j in bjobs) / rows_in
    if facts.get("view_bucket_dirs"):
        m["bucketed_view.files_per_bucket"] = \
            facts["view_files"] / facts["view_bucket_dirs"]

    calls, busy = storage
    for prim in ("rename", "remove_tree", "replace_text", "walk", "is_dir",
                 "exists"):
        m[f"storage.{prim}.calls_per_batch"] = calls.get(prim, 0) * per_batch
    m["storage.s_per_batch"] = busy * per_batch
    m["storage.view_bytes"] = facts.get("view_bytes", 0)
    m["storage.view_files"] = facts.get("view_files", 0)

    for layer in ("agg_view", "checksum", "secondary_index", "join_view"):
        m[f"{layer}.apply_s"] = _sum_dur(tree.outermost(
            tree.named(f"{layer}.apply", win))) * per_batch

    lookups = tree.named("client.lookup", win)
    if lookups:
        nl = len(lookups)
        m["secondary_index.lookups"] = nl
        m["secondary_index.lookup_s"] = _sum_dur(lookups) / nl
        ids = set()
        for s in lookups:
            ids |= tree.subtree_ids(s)
        tb = [s["attrs"].get("n", 0) for s in tree.spans
              if s["name"] == "secondary_index.touched_buckets"
              and s["id"] in ids]
        m["secondary_index.lookup_buckets"] = _mean(tb)
        m["secondary_index.jobs_per_lookup"] = sum(
            len(attr.jobs_under(s)) for s in lookups) / nl
        m["bucketed_view.read_touched_s"] = _sum_dur(
            [s for s in tree.spans if s["name"] == "bucketed_view.read_touched"
             and s["id"] in ids]) / nl

    progress = facts.get("progress") or []
    if progress:
        def dur_ms(key):
            return _mean([pr["durationMs"].get(key, 0) for pr in progress])
        m["streaming.batches"] = len(progress)
        m["streaming.add_batch_ms"] = dur_ms("addBatch")
        m["streaming.latest_offset_ms"] = dur_ms("latestOffset")
        m["streaming.wal_commit_ms"] = dur_ms("walCommit")
        m["streaming.commit_offsets_ms"] = dur_ms("commitOffsets")
        m["streaming.rows_per_batch"] = _mean(
            [pr["numInputRows"] for pr in progress])
        m["streaming.apply_attempts_per_batch"] = \
            len(tree.named("engine.apply", win)) / len(progress)
    if facts.get("backlog"):
        m["sources.backlog_files"] = _mean(facts["backlog"])
        m["sources.backlog_growing"] = int(facts["backlog_grows"])
    m["sources.input_bytes"] = facts.get("input_bytes", 0)
    if facts.get("lateness"):
        m["generator.lateness_p90_s"] = percentile(facts["lateness"], 90)

    in_win = [j for j in attr.jobs if win[0] <= j["submit"] <= win[1]]
    m["spark.jobs"] = len(in_win)
    m["spark.unattributed_jobs"] = sum(1 for j in in_win if not j["span"])
    tasks = attr.window_tasks(*win)
    m["spark.gc_s"] = sum(t["gc_s"] for t in tasks)
    m["spark.executor_run_s"] = sum(t["run_s"] for t in tasks)
    wall = win[1] - win[0]
    if wall > 0:
        m["spark.cpu_util"] = sum(t["cpu_s"] for t in tasks) / (wall * cores)
    return m


def install_spans(tracer) -> None:
    """Wrap every layer entry point the per-layer metrics read."""
    from ydb_cdc_processor_spark import storage
    from ydb_cdc_processor_spark.engine import CdcBatchEngine
    from ydb_cdc_processor_spark.functions.checksum import ChecksumView
    from ydb_cdc_processor_spark.operators.agg_view import AggregateView
    from ydb_cdc_processor_spark.operators.bucketed_view import (
        BucketedMaterializedView)
    from ydb_cdc_processor_spark.operators.join_view import JoinView
    from ydb_cdc_processor_spark.operators.merge import (
        ParquetMaterializedView)
    from ydb_cdc_processor_spark.operators.secondary_index import (
        SecondaryIndex)
    from ydb_cdc_processor_spark.streaming import engine as stream_mod

    def path(view, *a, **kw):
        return {"path": view.path}

    def batch_stats(rec, st):
        rec["attrs"].update(upserted=st.upserted, deleted=st.deleted,
                            malformed=st.malformed)

    def bucket_path(view, *a, **kw):
        return {"path": view.path, "n_buckets": view.n_buckets}

    def touched_result(rec, out):
        rec["attrs"]["touched"] = len(out or ())

    tracer.wrap(CdcBatchEngine, "apply_raw_batch", "engine.apply",
                on_result=batch_stats)
    tracer.wrap(CdcBatchEngine, "_maintain_agg_views", "engine.derived")
    tracer.wrap(CdcBatchEngine, "_fan_out_views", "engine.fan_out")
    for meth in ("apply", "apply_batch"):
        tracer.wrap(ParquetMaterializedView, meth, "merge.apply",
                    attrs_fn=path)
        tracer.wrap(BucketedMaterializedView, meth, "bucketed_view.apply",
                    attrs_fn=bucket_path, on_result=touched_result)
    tracer.wrap(BucketedMaterializedView, "read_touched",
                "bucketed_view.read_touched", attrs_fn=path)
    tracer.wrap(AggregateView, "apply_delta", "agg_view.apply")
    tracer.wrap(ChecksumView, "apply_delta", "checksum.apply")
    tracer.wrap(SecondaryIndex, "apply_delta", "secondary_index.apply")
    tracer.wrap(SecondaryIndex, "touched_buckets",
                "secondary_index.touched_buckets",
                on_result=lambda rec, out: rec["attrs"].update(n=len(out)))
    tracer.wrap(JoinView, "apply_fact_delta", "join_view.apply")
    tracer.wrap(stream_mod, "retry_forever", "streaming.retry")
    tracer.count_storage(storage)
