"""Trace every Spark job of ONE registry entry: duration + callsite.

Prints the per-job timeline (submission order, duration, task count,
first-stage callsite) so the job COUNT of a
lifecycle entry can be attributed line-by-line to the store operations
that issue them.

Usage: python tools/job_trace.py q_text_index [more ...]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    names = sys.argv[1:]
    show_all = "--all" in names          # include unlabeled jobs (e.g.
    names = [n for n in names if n != "--all"]  # streaming-thread jobs)
    evdir = tempfile.mkdtemp(prefix="spark_events_")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "32g")

    from ydb_cdc_processor_spark.session import get_spark

    spark = get_spark("job-trace", extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{evdir}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")

    from ydb_cdc_processor_spark.registry import QUERIES

    QUERIES["q_project_retype"](spark, SF_DIR).limit(10).count()  # warm-up

    for name in names:
        sc = spark.sparkContext
        sc.setJobDescription(f"TRACE:{name}")
        t0 = time.perf_counter()
        (QUERIES[name](spark, SF_DIR)
         .write.format("noop").mode("overwrite").save())
        print(f"# {name} wall {time.perf_counter() - t0:.2f}s")
        sc.setJobDescription(None)

    app_id = spark.sparkContext.applicationId
    spark.stop()
    time.sleep(1.0)

    path = None
    for f in os.listdir(evdir):
        if app_id in f:
            path = os.path.join(evdir, f)
    if path is not None and os.path.isdir(path):
        for f in os.listdir(path):
            if f.startswith("events"):
                path = os.path.join(path, f)
                break
    job_start = {}
    rows = []
    with open(path) as fh:
        for line in fh:
            try:
                ev = json.loads(line)
            except ValueError:
                continue
            et = ev.get("Event")
            if et == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                infos = ev.get("Stage Infos", [])
                site = infos[-1].get("Stage Name", "?") if infos else "?"
                job_start[ev["Job ID"]] = (
                    ev["Submission Time"],
                    props.get("spark.job.description", ""),
                    sum(s.get("Number of Tasks", 0) for s in infos),
                    site)
            elif et == "SparkListenerJobEnd":
                st = job_start.pop(ev["Job ID"], None)
                if st:
                    rows.append((ev["Job ID"], st[0],
                                 ev["Completion Time"] - st[0],
                                 st[1], st[2], st[3]))
    rows.sort(key=lambda r: r[1])
    prev_end = None
    for jid, sub, dur, desc, ntasks, site in rows:
        if not show_all and not desc.startswith("TRACE:"):
            continue
        gap = "" if prev_end is None else f" gap={max(0, sub - prev_end)}ms"
        prev_end = sub + dur
        print(f"job {jid:4d} {dur:6d}ms {ntasks:5d}t  {site[:90]}{gap}")


if __name__ == "__main__":
    main()
