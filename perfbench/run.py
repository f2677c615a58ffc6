"""CDC view-maintenance benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <backfill|cdc_stream|ivm_serve>
        --seed <n> --seconds <s> --trace <0|1> [--cpus <n>]

Run from the repository root.  The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Any mismatch against the replay oracle prints ``"correct": false`` and
exits 1.  Scratch data goes to ``.bench_work/`` and trace files to
``.bench_out/`` under the root; nothing is read or written elsewhere.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.stats import summarize  # noqa: E402

#: (name, unit, better) — the ``end_to_end`` list of BENCHMARK.json
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("changes_per_s", "1/s", "higher"),
    ("freshness_p50_s", "s", "lower"),
    ("freshness_tail_s", "s", "lower"),
    ("batch_p50_s", "s", "lower"),
    ("batch_tail_s", "s", "lower"),
    ("read_p50_s", "s", "lower"),
    ("read_tail_s", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
]
DRIVER_MEMORY = "1g"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["backfill", "cdc_stream", "ivm_serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cpus", type=int, default=None,
                    help="Spark local cores (default: every usable core)")
    return ap.parse_args(argv)


def start_spark(work: str, event_dir: str | None):
    from ydb_cdc_processor_spark import get_spark
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed, pre-touched heap: the JVM's resident size then does not
        # depend on when its collector chose to grow the heap
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY} "
            "-XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1"),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if event_dir is not None:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_dir,
                     "spark.eventLog.compress": "false"})
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_peak_rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="utf-8") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    sc = spark.sparkContext
    proc = getattr(sc._gateway, "proc", None)
    spark.stop()
    sc._gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — must not leave the JVM behind
            proc.kill()
            proc.wait()


def e2e_metrics(out, peak_rss_mb: float) -> dict:
    fr, bt, rd = (summarize(out.freshness), summarize(out.batches),
                  summarize(out.reads))
    values = {
        "setup_s": out.setup_s,
        "changes_per_s": out.changes / out.apply_s,
        "freshness_p50_s": fr["p50"], "freshness_tail_s": fr["tail"],
        "batch_p50_s": bt["p50"], "batch_tail_s": bt["tail"],
        "read_p50_s": rd["p50"], "read_tail_s": rd["tail"],
        "peak_rss_mb": peak_rss_mb,
    }
    print(f"samples: freshness n={fr['n']} tail=p{fr['tail_pct']}, "
          f"batches n={bt['n']} tail=p{bt['tail_pct']}, "
          f"reads n={rd['n']} tail=p{rd['tail_pct']}")
    print("batch samples (s):", " ".join(f"{b:.3f}" for b in out.batches))
    print("read samples (s):", " ".join(f"{r:.3f}" for r in out.reads))
    return {n: {"value": values[n], "unit": u} for n, u, _ in END_TO_END}


def main(argv=None) -> int:
    args = parse_args(argv)
    cpus = args.cpus or len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    work = os.path.join(ROOT, ".bench_work", args.workload)
    out_dir = os.path.join(ROOT, ".bench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out_dir, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # set here, not as spark.local.dir, because this variable wins
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")

    # a tree without the package fails here, before printing a result
    from perfbench import layers, workloads
    from perfbench.trace import (Attribution, SpanTree, Tracer,
                                 read_event_log, write_trace)

    event_dir = None
    if args.trace:
        event_dir = os.path.join(work, "eventlog")
        os.makedirs(event_dir)
    t0 = time.perf_counter()
    spark = start_spark(work, event_dir)
    session_s = time.perf_counter() - t0
    tracer = None
    if args.trace:
        tracer = Tracer(spark.sparkContext)
        layers.install_spans(tracer)
    ctx = workloads.Ctx(spark=spark, seed=args.seed, seconds=args.seconds,
                        work=work, tracer=tracer)
    try:
        out = workloads.WORKLOADS[args.workload](ctx)
        out.setup_s += session_s
        jvm_pid = spark.sparkContext._gateway.proc.pid
        peak_kb = (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
                   + jvm_peak_rss_kb(jvm_pid))
    finally:
        if tracer is not None:
            tracer.unwrap_all()
        stop_spark(spark)
    ctx.mark("stopped")

    metrics = e2e_metrics(out, peak_kb / 1024.0)
    tag = f"{args.workload}-seed{args.seed}"
    if args.trace:
        tree = SpanTree(tracer.spans)
        log = read_event_log(event_dir)
        attr = Attribution(tree, log)
        lm = layers.layer_metrics(tree, attr, out,
                                  tracer.storage_in(*out.window), cpus)
        overhead = tracing_overhead(out_dir, tag, metrics)
        write_trace(os.path.join(out_dir, f"trace-{tag}.json"), tree, log, {
            "window": out.window, "layer_metrics": lm, "e2e": metrics,
            "overhead": overhead,
            "unattributed_callsites": attr.unattributed_callsites()})
        print_layers(lm)
        for name, d in overhead.items():
            print(f"tracing overhead {name}: traced {d['traced']:.4g} - "
                  f"untraced {d['untraced']:.4g} = {d['diff']:+.4g}")
        if not overhead:
            print("tracing overhead: no untraced run of this seed yet")
        result_metrics = {n: {"value": lm[n], "unit": u}
                          for n, u, _ in layers.PER_LAYER}
    else:
        with open(os.path.join(out_dir, f"result-{tag}.json"), "w",
                  encoding="utf-8") as f:
            json.dump(metrics, f)
        for n, v in metrics.items():
            print(f"{n:>18} {v['value']:.6g} {v['unit']}")
        result_metrics = metrics
    print(f"{'failed_ratio':>18} {out.failed / max(out.attempted, 1):.6g} "
          f"({out.failed} of {out.attempted} applies and reads failed)")
    if out.facts.get("warning"):
        print("WARNING:", out.facts["warning"], file=sys.stderr)
    for e in out.errors:
        print("MISMATCH:", e, file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    correct = not out.errors
    print(json.dumps({"correct": correct, "attempted": out.attempted,
                      "failed": out.failed, "metrics": result_metrics}))
    return 0 if correct else 1


def tracing_overhead(out_dir: str, tag: str, traced: dict) -> dict:
    """Traced minus untraced end-to-end metrics of the same seed, when
    an untraced run of it left its result."""
    path = os.path.join(out_dir, f"result-{tag}.json")
    if not os.path.exists(path):
        return {}
    with open(path, encoding="utf-8") as f:
        untraced = json.load(f)
    return {n: {"traced": traced[n]["value"],
                "untraced": untraced[n]["value"],
                "diff": traced[n]["value"] - untraced[n]["value"]}
            for n in traced if n in untraced}


def print_layers(lm: dict) -> None:
    from perfbench.layers import PER_LAYER, target_of
    print(f"{'layer metric':<42} {'value':>14}  unit   moves (on)")
    for name, unit, _ in PER_LAYER:
        metric, workload = target_of(name)
        print(f"{name:<42} {lm[name]:>14.6g}  {unit:<6} "
              f"{metric} ({workload})")


if __name__ == "__main__":
    sys.exit(main())
