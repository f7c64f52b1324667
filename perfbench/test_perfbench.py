"""Self-tests of the benchmark's own measuring and checking code.

    python -m pytest perfbench -q -p no:cacheprovider

They start one small local Spark session; the event-log test runs last
because it has to stop that session to read a finished log.
"""

from __future__ import annotations

import json
import os
import types

import pytest

from perfbench import checks, data, eventlog
from perfbench.trace import Tracer, covered, self_times

RETAINED_JOBS = 5


@pytest.fixture(scope="module")
def env(tmp_path_factory):
    from pyspark.sql import SparkSession

    root = tmp_path_factory.mktemp("perfbench")
    log_dir = root / "eventlog"
    log_dir.mkdir()
    sf = str(root / "sf")
    data.write_tables(sf, 0.001)
    spark = (SparkSession.builder.master("local[2]")
             .appName("perfbench-selftest")
             .config("spark.driver.memory", "1g")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.sql.shuffle.partitions", "2")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.ui.retainedJobs", str(RETAINED_JOBS))
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.rolling.enabled", "false")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.dir", "file://" + str(log_dir))
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    yield types.SimpleNamespace(spark=spark, sf=sf, log_dir=str(log_dir))
    spark.stop()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_q01_noop_plan_keeps_the_aggregate_count_plan_drops_it(env):
    from engagement_data_pipeline_spark.queries import get_queries

    df = get_queries()["q01_pricing_summary"](env.spark, env.sf)
    # a noop write executes the query's own plan; count() executes this
    assert "sum(" in _optimized(df)
    assert "sum(" not in _optimized(df.groupBy().count())


def test_frame_check_counts_a_corrupted_output_as_failed(env):
    from pyspark.sql import functions as F

    from perfbench.run import Ctx

    spark = env.spark
    good = spark.range(50).select(F.col("id"),
                                  (F.col("id") % 7).alias("code"))
    bad = good.withColumn("code", F.when(F.col("id") == 13, F.lit(99))
                          .otherwise(F.col("code")))
    assert checks.frames_equal([(good, good)])
    assert not checks.frames_equal([(good, good), (bad, good)])

    args = types.SimpleNamespace(seed=1, seconds=0.0, workload="selftest",
                                 trace=0)
    ctx = Ctx(args, str(env.sf))
    ctx.jvm = types.SimpleNamespace(pid=os.getpid())
    ctx.tracer = Tracer(spark, False)
    try:
        assert ctx.timed(lambda: None, lambda: checks.frames_equal(
            [(good, good)]))
        assert not ctx.timed(lambda: None, lambda: checks.frames_equal(
            [(bad, good)]))
    finally:
        ctx.rss.close()
    assert (ctx.attempted, ctx.failed) == (2, 1)


def test_oracle_check_counts_a_corrupted_query_result(env):
    from engagement_data_pipeline_spark.queries import (
        get_oracles, get_queries)

    name = "q01_pricing_summary"
    df = get_queries()[name](env.spark, env.sf)
    expected = checks.oracle_result(checks.duckdb_over(env.sf),
                                    get_oracles()[name])
    assert checks.matches(df, expected)
    assert not checks.matches(df.limit(df.count() - 1), expected)


def test_incremental_check_names_an_index_left_stale(env, tmp_path, capsys):
    """A day run that skips the serving-index sinks leaves every other
    artifact right; the check fails and names exactly the two indexes."""
    from pyspark.sql import functions as F

    from engagement_data_pipeline_spark.analysis.runner import (
        run_incremental_pipeline)
    from engagement_data_pipeline_spark.queries import engagement
    from engagement_data_pipeline_spark.queries.e2e_q import (
        _RAW_COLS, _pipeline_stages)
    from engagement_data_pipeline_spark.streaming.ingest import (
        foreach_batch_upsert)
    from perfbench.workloads import check_incremental

    spark, base = env.spark, str(tmp_path / "pipeline")
    res = (engagement._resolved(spark, env.sf).select(*_RAW_COLS)
           .localCheckpoint())
    late = F.col("message_id").endswith("7")
    merge = foreach_batch_upsert(f"{base}/raw", ["message_id"], n_buckets=2,
                                 bucket_cols=["participant_uuid"],
                                 txn_app_id="src", mode="latest_wins")
    merge(res.where(~late), 1)
    run_incremental_pipeline(spark, f"{base}/runs", "run1", _pipeline_stages(
        spark, base, n_buckets_data=2, n_buckets_view=2))
    assert check_incremental(spark, base)
    merge(res.where(late), 2)
    run_incremental_pipeline(spark, f"{base}/runs", "run2", _pipeline_stages(
        spark, base, n_buckets_data=2, n_buckets_view=2, with_indexes=False))
    capsys.readouterr()
    assert not check_incremental(spark, base)
    named = sorted(line.split()[1] for line in
                   capsys.readouterr().err.splitlines()
                   if line.endswith("differs from its recompute"))
    assert named == ["ann_cells", "text_index"]


def test_self_times_add_up_to_the_operation():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 1, "start": 2.0, "end": 3.0},
        {"id": 3, "parent": 0, "start": 5.0, "end": 9.5},
    ]
    st = self_times(spans)
    assert st == {0: 2.5, 1: 2.0, 2: 1.0, 3: 4.5}
    assert sum(st.values()) == 10.0
    assert covered([(0, 2), (1, 3), (5, 6)], 0.5, 5.5) == 3.0


def test_jobs_are_counted_per_group_past_the_retained_limit(env):
    """Runs more jobs than `spark.ui.retainedJobs` inside one span: the
    status tracker forgets most of them, the event log does not."""
    spark = env.spark
    tr = Tracer(spark, True)
    n_jobs = 3 * RETAINED_JOBS
    with tr.span("burst") as rec:
        for i in range(n_jobs):
            spark.range(10 + i).count()
    gid = f"pb-{rec['id']}"
    tracked = len(spark.sparkContext.statusTracker().getJobIdsForGroup(gid))
    assert tracked <= RETAINED_JOBS < n_jobs
    app_id = spark.sparkContext.applicationId
    spark.stop()

    path = eventlog.find_log(env.log_dir, app_id)
    log = eventlog.parse(path)
    starts = 0
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            if (ev["Event"] == "SparkListenerJobStart"
                    and ev["Properties"].get("spark.jobGroup.id") == gid):
                starts += 1
    g = log.groups[gid]
    assert g.jobs == starts >= n_jobs
    assert min(g.jobs, len(g.stages), g.tasks) >= 0
    assert g.tasks >= g.jobs
