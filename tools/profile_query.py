#!/usr/bin/env python
"""Per-Spark-job profile of one registry query (guide §1: measure
first). Runs the named query exactly as bench.py does (call + noop
write) with the event log enabled, then parses the log into a
job-level timeline: per-job wall, the call site / description, and the
DRIVER GAPS between jobs (time where no Spark job ran — os renames,
collects of tiny relations, streaming machinery, pure-Python work).

Usage:
    python tools/profile_query.py <query> [--sf-dir /root/testdata/sf0.1]
                                  [--runs 2]

The second run (default) separates one-time costs (JVM codegen, index
cold builds) from the steady state the bench's min-of-3 reports.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("query")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--min-job-ms", type=float, default=1.0)
    args = ap.parse_args()

    evdir = tempfile.mkdtemp(prefix="frdw_profile_ev_")
    from flink_realtime_data_warehouse_spark import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark(
        app_name=f"frdw-profile-{args.query}",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    queries = dict(entrymod.queries())
    if args.query not in queries:
        # the two bench-only raw probes
        from flink_realtime_data_warehouse_spark.operators.similarity import (
            ann_lsh_topk,
        )
        from flink_realtime_data_warehouse_spark.operators.pq import ann_pq_topk

        queries["ann_lsh_topk"] = ann_lsh_topk
        queries["ann_pq_topk"] = ann_pq_topk
    fn = queries[args.query]

    walls = []
    marks = []
    for i in range(args.runs):
        t0 = time.perf_counter()
        fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
        t1 = time.perf_counter()
        walls.append(t1 - t0)
        marks.append((t0, t1))
    spark.stop()

    # parse the single application event log
    logs = []
    for root, _dirs, files in os.walk(evdir):
        for f in files:
            if not f.startswith(".") and "appstatus" not in f:
                logs.append(os.path.join(root, f))
    jobs = {}
    for lf in logs:
        with open(lf, encoding="utf-8") as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                if ev.get("Event") == "SparkListenerJobStart":
                    props = ev.get("Properties", {}) or {}
                    stages = ev.get("Stage Infos", [])
                    names = " | ".join(
                        s.get("Stage Name", "")[:60] for s in stages[:3]
                    )
                    desc = (
                        props.get("spark.job.description")
                        or props.get("callSite.short")
                        or names
                    )
                    jobs[ev["Job ID"]] = {
                        "start": ev["Submission Time"] / 1000.0,
                        "desc": desc[:150],
                        "n_stages": len(stages),
                        "n_tasks": sum(
                            s.get("Number of Tasks", 0) for s in stages
                        ),
                    }
                elif ev.get("Event") == "SparkListenerJobEnd":
                    j = jobs.get(ev["Job ID"])
                    if j is not None:
                        j["end"] = ev["Completion Time"] / 1000.0

    # anchor event-log epoch times to perf_counter marks via wall clock:
    # report the timeline of the LAST run only (steady state)
    done = [
        (jid, j) for jid, j in sorted(jobs.items()) if "end" in j
    ]
    if not done:
        print("no jobs captured")
        return 1
    total_runs = args.runs
    # split jobs into runs by wall share: jobs are sequential, each run's
    # jobs are contiguous; use the wall fractions to find the last run's
    # slice start. Simpler: take jobs whose start falls in the last
    # run's epoch window — compute from the overall span.
    span_start = min(j["start"] for _, j in done)
    span_end = max(j["end"] for _, j in done)
    # the last run began (sum of previous walls) after the first job
    prev_wall = sum(walls[:-1])
    cutoff = span_start + prev_wall - 0.5
    last = [(jid, j) for jid, j in done if j["start"] >= cutoff]
    print(f"query={args.query} walls={[round(w, 3) for w in walls]}")
    print(f"jobs total={len(done)}; last-run jobs={len(last)}")
    prev_end = None
    job_sum = 0.0
    gap_sum = 0.0
    for jid, j in last:
        dur = (j["end"] - j["start"])
        job_sum += dur
        gap = (j["start"] - prev_end) if prev_end is not None else 0.0
        gap_sum += max(gap, 0.0)
        prev_end = max(prev_end or j["end"], j["end"])
        if dur * 1000 >= args.min_job_ms or gap > 0.05:
            print(
                f"  job {jid:4d}  {dur * 1000:8.1f} ms"
                f"  (gap {gap * 1000:7.1f} ms)"
                f"  stages={j['n_stages']} tasks={j.get('n_tasks', 0)}"
                f"  {j['desc']}"
            )
    print(
        f"last run: wall={walls[-1]:.3f}s  in-job={job_sum:.3f}s"
        f"  driver-gaps={gap_sum:.3f}s"
    )
    # per-phase totals: jobs that share a description (e.g. the history
    # ingest's ``ingest:<stage> <pbatch>``) summed
    totals: dict[str, list[float]] = {}
    for _jid, j in last:
        t = totals.setdefault(" ".join(j["desc"].split()), [0, 0.0])
        t[0] += 1
        t[1] += j["end"] - j["start"]
    print("last run by description:")
    for desc, (n, secs) in sorted(totals.items(), key=lambda kv: -kv[1][1]):
        print(f"  {secs * 1000:9.1f} ms  {n:4d} jobs  {desc}")
    # per-stage totals: the same descriptions with the ``<pbatch>``
    # suffix of ``<layer>:<stage> <pbatch>`` dropped, summed over batches
    stages: dict[str, list[float]] = {}
    for desc, (n, secs) in totals.items():
        m = re.fullmatch(r"(\S+:\S+) \S+", desc)
        if m:
            t = stages.setdefault(m.group(1), [0, 0.0])
            t[0] += n
            t[1] += secs
    if stages:
        print("last run by stage (all batches):")
        for stage, (n, secs) in sorted(stages.items(), key=lambda kv: -kv[1][1]):
            print(f"  {secs * 1000:9.1f} ms  {n:4d} jobs  {stage}")
    import shutil

    shutil.rmtree(evdir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
