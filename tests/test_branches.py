"""`session.run_branches` — the helper the day run uses to overlap
independent maintenance branches — and the once-per-session change
feed registration those concurrent branches rely on."""

from __future__ import annotations

import sys
import threading
import time

import pytest

from engagement_data_pipeline_spark.session import run_branches
from engagement_data_pipeline_spark.streaming import cdf_source

_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description",
               "spark.job.interruptOnCancel")


@pytest.fixture
def job_group(spark):
    sc = spark.sparkContext
    prev = {k: sc.getLocalProperty(k) for k in _GROUP_KEYS}
    sc.setJobGroup("branches-test", "run_branches test")
    yield "branches-test"
    for k, v in prev.items():
        sc.setLocalProperty(k, v)


def test_run_branches_results_in_order_under_inherited_group(spark,
                                                             job_group):
    sc = spark.sparkContext
    seen: list[tuple[int, str]] = []

    def branch(i):
        def run():
            seen.append((i, sc.getLocalProperty("spark.jobGroup.id")))
            if i == 0:
                # a branch re-grouping itself touches no other thread
                sc.setJobGroup("branch-own", "own group")
            spark.range(i + 2).count()
            return i * 10
        return run

    before = set(sc.statusTracker().getJobIdsForGroup(job_group))
    assert run_branches(spark, [branch(i) for i in range(3)]) == [0, 10, 20]
    assert sorted(seen) == [(i, job_group) for i in range(3)]
    # the two branches that kept the inherited group charged their
    # jobs to it; the caller's group is untouched
    after = set(sc.statusTracker().getJobIdsForGroup(job_group))
    assert len(after - before) >= 2
    assert sc.getLocalProperty("spark.jobGroup.id") == job_group


def test_run_branches_raises_first_failure_after_all_return(spark,
                                                           job_group):
    sc = spark.sparkContext

    class First(RuntimeError):
        pass

    class Second(RuntimeError):
        pass

    second_raised = threading.Event()
    done: list[str] = []

    def first():
        # fails AFTER its later sibling, but is first in submission
        # order, so it is the error the caller sees
        assert second_raised.wait(30)
        raise First()

    def second():
        second_raised.set()
        raise Second()

    def slow():
        assert second_raised.wait(30)
        time.sleep(0.3)
        done.append(sc.getLocalProperty("spark.jobGroup.id"))

    with pytest.raises(First) as info:
        run_branches(spark, [first, second, slow])
    # the slow sibling finished (under the inherited group) before the
    # error reached the caller, and the later failure is named
    assert done == [job_group]
    assert any("Second" in n for n in info.value.__notes__)
    assert sc.getLocalProperty("spark.jobGroup.id") == job_group


def test_change_feed_registers_once_under_contention(spark, monkeypatch):
    """16 threads racing `ensure_change_feed_registered` on a session
    it has not seen register the source exactly once."""
    from pyspark.sql.datasource import DataSourceRegistration

    calls: list[int] = []

    def fake_register(self, ds):
        time.sleep(0.01)  # widen the check-then-act window
        calls.append(1)

    monkeypatch.setattr(DataSourceRegistration, "register", fake_register)
    monkeypatch.setattr(cdf_source, "_REGISTERED",
                        type(cdf_source._REGISTERED)())
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(
            target=cdf_source.ensure_change_feed_registered, args=(spark,))
            for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert calls == [1]
