"""Dump per-job callsite names for one declared query (diagnostic).

Usage: python scripts/job_names.py <query_name> [sf_dir] [reps]

Runs the query `reps` times and, for the LAST rep, prints every Spark
job launched: id, name (callsite), duration, task count.  Reads the
jobs from the Spark UI's REST API, which session.py disables unless
SPARK_GRAFT_UI=true; this script sets that variable before the session
starts.  Diagnostic only.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod
from dataintegration_ecomprovider_spark import runtime
from dataintegration_ecomprovider_spark.session import get_spark


def main() -> int:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 2

    # the REST API below needs the UI, off by default (see session.py)
    os.environ.setdefault("SPARK_GRAFT_UI", "true")
    spark = get_spark("job-names")
    from dataintegration_ecomprovider_spark.plans.registry import all_queries

    queries = {n: qd.fn for n, qd in all_queries(include_retired=True).items()}
    queries["products_export_j4_p6_a1_a8"] = entrymod._q_products_export
    tracker = spark.sparkContext.statusTracker()
    ui = spark.sparkContext.uiWebUrl

    last_new: list[int] = []
    for rep in range(reps):
        jobs0 = set(tracker.getJobIdsForGroup(None) or [])
        t0 = time.perf_counter()
        df = queries[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        runtime.release_caches(spark)
        jobs1 = set(tracker.getJobIdsForGroup(None) or [])
        last_new = sorted(jobs1 - jobs0)
        print(f"rep {rep}: wall {wall:.3f}s  jobs {len(last_new)}")

    app = json.load(
        urllib.request.urlopen(f"{ui}/api/v1/applications")
    )[0]["id"]
    jobs = json.load(
        urllib.request.urlopen(f"{ui}/api/v1/applications/{app}/jobs")
    )
    by_id = {j["jobId"]: j for j in jobs}
    tot = 0.0
    for jid in last_new:
        j = by_id.get(jid)
        if j is None:
            continue
        t = (
            _ms(j.get("completionTime")) - _ms(j.get("submissionTime"))
            if j.get("completionTime")
            else 0.0
        )
        tot += t
        print(
            f"  job {jid:4d}  {t/1000:7.3f}s  tasks {j['numTasks']:4d}  "
            f"stages {len(j['stageIds']):2d}  {j['name'][:110]}"
        )
    print(f"  sum of job walls: {tot/1000:.3f}s")
    spark.stop()
    return 0


def _ms(ts: str | None) -> float:
    if not ts:
        return 0.0
    from datetime import datetime

    return datetime.strptime(ts[:23], "%Y-%m-%dT%H:%M:%S.%f").timestamp() * 1000


if __name__ == "__main__":
    raise SystemExit(main())
