"""Per-query cost attribution for the optimization rounds.

For each registry query (or a named subset), measures in one process:
  - build_s: wall time of `fn(spark, sf_dir)` — Python driver work
    (plan construction, fixture reads/builds, any driver-side loops)
  - exec_s: wall time of the `.count()` action — JVM planning +
    execution of the returned DataFrame
  - jobs: Spark jobs launched across BOTH phases, counted under the
    query's own job group (`profile-<name>`) — the per-query
    fixed-overhead multiplier; at sf0.1 a job costs ~10-40 ms of
    scheduling alone, so a query firing 30 jobs pays ~1 s before any
    data is touched. Jobs a streaming query runs on its own thread
    carry that stream's group and are not counted.

Run AFTER the fixture cache is warm (bench or a prior profile run):
fixture builds otherwise land in build_s of whichever query builds
them first and distort the attribution.

Usage: python tools/profile_queries.py [query ...] [--top N]
Writes tools/PROFILE_LOCAL.json and prints a sorted table.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


#: the local properties `setJobGroup` sets
_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description",
               "spark.job.interruptOnCancel")


def profile_one(spark, name: str, fn, sf_dir: str) -> dict:
    """Build `fn(spark, sf_dir)`, count it, and return its timings and
    job count. The jobs are counted under a job group of the query's
    own: a delta of the whole context's job list went negative once
    `spark.ui.retainedJobs` rolled older jobs out between the two
    reads. The caller's job group is restored afterwards."""
    sc = spark.sparkContext
    group = f"profile-{name}"
    prev = {k: sc.getLocalProperty(k) for k in _GROUP_KEYS}
    sc.setJobGroup(group, name)
    try:
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        df.count()
        t2 = time.perf_counter()
    finally:
        for k, v in prev.items():
            sc.setLocalProperty(k, v)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group) or [])
    return {"build_s": round(t1 - t0, 3), "exec_s": round(t2 - t1, 3),
            "total_s": round(t2 - t0, 3), "jobs": jobs}


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    top = 0
    for a in sys.argv[1:]:
        if a.startswith("--top"):
            top = int(a.split("=", 1)[1]) if "=" in a else 0

    from tools.fixture_cache import default_fixture_env

    default_fixture_env()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))

    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .appName("profile")
             .config("spark.sql.shuffle.partitions", cpus)
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.ui.enabled", "false")
             .config("spark.driver.memory",
                     os.environ.get("SPARK_DRIVER_MEMORY", "32g"))
             .config("spark.python.sql.dataFrameDebugging.enabled",
                     "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    # same warmup as bench.py
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()

    from __spark_entry__ import queries

    rows = {}
    for name, fn in queries().items():
        if name.startswith("family_"):
            continue
        if args and name not in args:
            continue
        try:
            rows[name] = profile_one(spark, name, fn, sf_dir)
        except Exception as e:  # noqa: BLE001
            print(f"# error {name}: {type(e).__name__}: {e}",
                  file=sys.stderr)

    out = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "PROFILE_LOCAL.json")
    with open(out, "w") as f:
        json.dump({"sf_dir": sf_dir, "cpus": cpus, "rows": rows}, f,
                  indent=1)
        f.write("\n")

    order = sorted(rows.items(), key=lambda kv: -kv[1]["total_s"])
    if top:
        order = order[:top]
    tot_b = sum(r["build_s"] for r in rows.values())
    tot_e = sum(r["exec_s"] for r in rows.values())
    tot_j = sum(r["jobs"] for r in rows.values())
    print(f"{'query':40s} {'total':>7s} {'build':>7s} {'exec':>7s} {'jobs':>5s}")
    for name, r in order:
        print(f"{name:40s} {r['total_s']:7.2f} {r['build_s']:7.2f} "
              f"{r['exec_s']:7.2f} {r['jobs']:5d}")
    print(f"{'TOTAL (' + str(len(rows)) + ' queries)':40s} "
          f"{tot_b + tot_e:7.2f} {tot_b:7.2f} {tot_e:7.2f} {tot_j:5d}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
