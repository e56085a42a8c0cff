"""Per-query job-level profiler (guide §1): for each named query, run
warm-up calls, then profile one call — wall time, Spark job count, and
per-job wall/description from the AppStatusStore — so driver-side gaps
(time between jobs = planning/collect/Python work) are visible next to
executor time.

Usage: python tools/profile_queries.py q1,q2,... [sf_dir] [warmups]
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("SPARK_GRAFT_CPUS", "32")

from kremis_spark.session import get_spark  # noqa: E402

names = sys.argv[1].split(",") if len(sys.argv) > 1 else []
sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
warmups = int(sys.argv[3]) if len(sys.argv) > 3 else 2

spark = get_spark("profile")
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as entry  # noqa: E402

qs = entry.queries()
if not names:
    names = list(qs)

store = spark.sparkContext._jsc.sc().statusStore()


def jobs_snapshot():
    """List of (jobId, name-ish description, duration_ms, numTasks)."""
    out = []
    it = store.jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        sub = j.submissionTime()
        comp = j.completionTime()
        t0 = sub.get().getTime() if sub.isDefined() else None
        t1 = comp.get().getTime() if comp.isDefined() else None
        desc = j.description()
        d = desc.get() if desc.isDefined() else j.name()
        out.append(
            {
                "id": j.jobId(),
                "desc": (d or "")[:110],
                "t0": t0,
                "t1": t1,
                "ms": (t1 - t0) if (t0 and t1) else None,
                "tasks": j.numTasks(),
            }
        )
    out.sort(key=lambda r: r["id"])
    return out


for name in names:
    fn = qs[name]
    for _ in range(warmups):
        fn(spark, sf_dir).collect()
    before_ids = {j["id"] for j in jobs_snapshot()}
    w0 = time.time()
    fn(spark, sf_dir).collect()
    wall = time.time() - w0
    rows = [j for j in jobs_snapshot() if j["id"] not in before_ids]
    job_ms = sum(j["ms"] or 0 for j in rows)
    print(json.dumps({"q": name, "wall_s": round(wall, 3),
                      "n_jobs": len(rows),
                      "job_ms_sum": job_ms,
                      "gap_ms": round(wall * 1000 - job_ms)}))
    # per-job lines with inter-job gaps
    prev_end = w0 * 1000
    for j in rows:
        gap = (j["t0"] - prev_end) if j["t0"] else None
        prev_end = j["t1"] or prev_end
        print(f"   job {j['id']:>5} ms={j['ms']:>6} gap_before={round(gap) if gap is not None else '?':>6} tasks={j['tasks']:>4} {j['desc'][:90]}")
