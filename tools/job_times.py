#!/usr/bin/env python
"""Per-job wall-clock breakdown for named contract queries, via the
local Spark UI REST API (/api/v1): run each query under a job group,
then list its jobs with duration, stage names and shuffle bytes.

This answers "which of a query's N Spark jobs is the slow one" without
eyeballing the UI (guide §1.1/§7.1).

Usage:
    python tools/job_times.py spearman partial_correlation
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402


def _get(url):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.load(r)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--repeat", type=int, default=2,
                    help="run each query N times; report the last run")
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    args = ap.parse_args()

    from datajudge_spark.session import get_spark

    # get_spark keeps the UI (and with it /api/v1) off unless asked
    os.environ.setdefault("SPARK_GRAFT_UI_ENABLED", "true")
    spark = get_spark("datajudge-spark-jobtimes")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    ui = sc.uiWebUrl
    app_id = sc.applicationId

    for name in ("lineitem", "orders", "customer", "supplier", "nation",
                 "documents", "embeddings", "events"):
        entrymod._t(spark, args.sf_dir, name).count()

    import pandas as _pd  # noqa: F401

    def _noop(batches):
        for b in batches:
            yield b

    n_part = sc.defaultParallelism
    spark.range(0, n_part * 8, 1, n_part).mapInPandas(_noop, "id long").count()

    qs = entrymod.queries()
    for name in args.queries:
        fn = qs[name]
        for i in range(args.repeat):
            group = f"jt_{name}_{i}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            fn(spark, args.sf_dir).collect()
            wall = time.perf_counter() - t0
        sc.setJobGroup("jt_idle", "idle")
        jobs = _get(f"{ui}/api/v1/applications/{app_id}/jobs?status=succeeded")
        mine = [j for j in jobs if j.get("jobGroup") == group]
        mine.sort(key=lambda j: j["jobId"])
        print(f"== {name}: wall={wall:.3f}s, {len(mine)} jobs (run {args.repeat}/{args.repeat})")
        tot = 0.0
        for j in mine:
            st = time.strptime(j["submissionTime"][:19], "%Y-%m-%dT%H:%M:%S")
            ct = time.strptime(j["completionTime"][:19], "%Y-%m-%dT%H:%M:%S")
            # sub-second precision from the GMT stamps' .mmm field
            sms = float(j["submissionTime"][19:23].lstrip(".") or 0) / 1000
            cms = float(j["completionTime"][19:23].lstrip(".") or 0) / 1000
            dur = (time.mktime(ct) + cms) - (time.mktime(st) + sms)
            tot += dur
            desc = (j.get("description") or "")[:60]
            print(f"  job {j['jobId']:4d} {dur*1000:7.0f} ms "
                  f"stages={len(j['stageIds'])} tasks={j['numTasks']:4d}  {desc}")
        print(f"  sum(job durations)={tot:.3f}s  gap(driver)={wall - tot:.3f}s")


if __name__ == "__main__":
    main()
