"""`streaming/drain.py:drain_changes_direct` — the bounded-delta
micro-batch drain that skips Structured-Streaming checkpointing: the
change feed's BATCH reader per pending commit, batch id = source
commit id, state in a tiny atomic file. Fixed cost per day-run drain
is a few manifest reads instead of a checkpointed streaming query —
the r13 verdict's "incrementality loses to batch recompute below
~x100" fix. Equivalence with the stream path is asserted directly:
same per-commit delivery, same retract shape, same final MV state."""

from __future__ import annotations

import os
import time

import pytest

from engagement_data_pipeline_spark.streaming import ingest as ing
from engagement_data_pipeline_spark.streaming import mv as MV
from engagement_data_pipeline_spark.streaming.drain import (
    drain_changes, drain_changes_direct, fan_out)


def _merge(spark, path, n_buckets=2):
    return ing.foreach_batch_upsert(path, ["origin"], n_buckets=n_buckets,
                                    txn_app_id="src", mode="latest_wins")


def _row(spark, origin, payload):
    return spark.createDataFrame([(origin, payload)],
                                 "origin string, payload string")


def _num(spark, origin, grp, x):
    return spark.createDataFrame([(origin, grp, x)],
                                 "origin string, grp string, x long")


def test_direct_drain_per_commit_delivery(spark, tmp_path):
    """5 commits -> 5 sink calls, batch id = SOURCE COMMIT id, one
    row each (per-commit retract pairs, like the stream's
    maxCommitsPerTrigger=1)."""
    path = str(tmp_path / "t")
    merge = _merge(spark, path)
    for i in range(1, 6):
        merge(_row(spark, f"o{i}", f"v{i}"), i)

    batches: list[tuple[int, int]] = []
    head = drain_changes_direct(
        spark, path, lambda df, cid: batches.append((cid, df.count())),
        state_path=str(tmp_path / "state"))
    assert head == 5
    assert batches == [(1, 1), (2, 1), (3, 1), (4, 1), (5, 1)]


def test_direct_drain_resumes_from_state(spark, tmp_path):
    """Consecutive drains are incremental through the state file; a
    caught-up drain delivers nothing and returns the head."""
    path = str(tmp_path / "t")
    state = str(tmp_path / "state")
    merge = _merge(spark, path)
    merge(_row(spark, "a", "1"), 1)
    merge(_row(spark, "b", "1"), 2)

    seen: list[list[str]] = []

    def sink(df, _cid):
        seen.append(sorted(r.origin for r in df.collect()))

    assert drain_changes_direct(spark, path, sink, state_path=state) == 2
    assert seen == [["a"], ["b"]]

    seen.clear()
    merge(_row(spark, "c", "1"), 3)
    assert drain_changes_direct(spark, path, sink, state_path=state) == 3
    assert seen == [["c"]]

    seen.clear()
    assert drain_changes_direct(spark, path, sink, state_path=state) == 3
    assert seen == []


def test_direct_drain_ships_old_preimages(spark, tmp_path):
    """An update's batch carries `<col>__old` so retract sinks can
    subtract without reading the source — same shape as the stream
    with includeOld=true."""
    path = str(tmp_path / "t")
    merge = _merge(spark, path)
    merge(_row(spark, "a", "v1"), 1)
    merge(_row(spark, "a", "v2"), 2)

    got: dict[int, list] = {}
    drain_changes_direct(spark, path,
                         lambda df, cid: got.update({cid: df.collect()}),
                         state_path=str(tmp_path / "state"))
    [r2] = got[2]
    assert r2.op == "update"
    assert r2.payload == "v2" and r2.payload__old == "v1"


def test_direct_drain_empty_table_and_empty_commits(spark, tmp_path):
    """Empty table -> 0 without touching the sink; a commit whose
    manifest diff changes no buckets is skipped driver-side but the
    state still advances past it."""
    calls = []
    assert drain_changes_direct(
        spark, str(tmp_path / "missing"),
        lambda df, cid: calls.append(cid),
        state_path=str(tmp_path / "state")) == 0
    assert calls == []


def test_direct_drain_refuses_stream_checkpoint(spark, tmp_path):
    path = str(tmp_path / "t")
    _merge(spark, path)(_row(spark, "a", "1"), 1)
    ckpt = tmp_path / "ckpt"
    (ckpt / "offsets").mkdir(parents=True)
    with pytest.raises(ValueError, match="checkpoint"):
        drain_changes_direct(spark, path, lambda df, cid: None,
                             state_path=str(ckpt))


def test_direct_drain_mv_state_equals_stream_drain_mv_state(spark,
                                                            tmp_path):
    """The SAME history (inserts, update, delete) maintained through
    the direct drain and through the checkpointed stream drain yields
    byte-equal MV states — the equivalence that lets the composed
    pipeline switch paths."""
    path = str(tmp_path / "t")
    merge = _merge(spark, path)
    merge(_num(spark, "a", "g1", 10), 1)
    merge(_num(spark, "b", "g1", 5), 2)
    merge(_num(spark, "c", "g2", 7), 3)
    merge(_num(spark, "a", "g1", 20), 4)  # update: 10 -> 20
    ing.delete_origins(spark, path,
                       spark.createDataFrame([("b",)], "origin string"))

    metrics = {"n": ("origin", "count"), "sx": ("x", "sum")}
    mv_direct = str(tmp_path / "mv_direct")
    mv_stream = str(tmp_path / "mv_stream")
    drain_changes_direct(
        spark, path, MV.mv_stream_sink(mv_direct, ["grp"], metrics),
        state_path=str(tmp_path / "state"))
    drain_changes(spark, path,
                  MV.mv_stream_sink(mv_stream, ["grp"], metrics),
                  checkpoint=str(tmp_path / "ckpt"))

    def state(p):
        return sorted((r.grp, r.n, r.sx)
                      for r in MV.read_mv(spark, p, metrics).collect())

    assert state(mv_direct) == state(mv_stream)
    assert state(mv_direct) == [("g1", 1, 20), ("g2", 1, 7)]


def test_fan_out_concurrent_sinks_equal_one_at_a_time(spark, tmp_path):
    """Four MV sinks fanned out over a 5-commit history (inserts, an
    update moving a row across groups, a delete) end in the same
    states as the same sinks each drained on its own."""
    path = str(tmp_path / "t")
    merge = _merge(spark, path)
    merge(_num(spark, "a", "g1", 1).unionByName(_num(spark, "b", "g2", 2)),
          1)
    merge(_num(spark, "c", "g1", 3), 2)
    merge(_num(spark, "a", "g2", 10), 3)
    ing.delete_origins(spark, path,
                       spark.createDataFrame([("b",)], "origin string"),
                       strategy="dv")
    merge(_num(spark, "d", "g3", 5).unionByName(_num(spark, "b", "g1", 7)),
          5)

    specs = [(["grp"], {"n": ("origin", "count"), "sx": ("x", "sum")}),
             (["grp"], {"sx": ("x", "sum")}),
             (["origin"], {"n": ("origin", "count")}),
             (["grp", "origin"], {"sx": ("x", "sum")})]

    def sinks(tag):
        return [MV.mv_stream_sink(str(tmp_path / f"{tag}{i}"), g, m)
                for i, (g, m) in enumerate(specs)]

    assert drain_changes_direct(spark, path, fan_out(*sinks("fan")),
                                state_path=str(tmp_path / "s_fan")) == 5
    for i, sink in enumerate(sinks("one")):
        drain_changes_direct(spark, path, sink,
                             state_path=str(tmp_path / f"s_one{i}"))

    def st(tag, i):
        g, m = specs[i]
        return sorted(tuple(r[c] for c in [*g, *m]) for r in MV.read_mv(
            spark, str(tmp_path / f"{tag}{i}"), m).collect())

    for i in range(len(specs)):
        assert st("fan", i) == st("one", i)
    assert st("fan", 0) == [("g1", 2, 10), ("g2", 1, 10), ("g3", 1, 5)]


def test_direct_drain_crash_between_fanout_sinks_converges(spark,
                                                           tmp_path):
    """A sink raising while its sibling is still running: fan_out
    re-raises only after the sibling has returned (and applied the
    commit), the batch stays persisted until then, and the rerun
    replays that commit — sink 1 no-ops on its txn watermark, sink 2
    applies — so both MVs equal an uninterrupted twin's."""
    import threading

    path = str(tmp_path / "t")
    merge = _merge(spark, path)
    merge(_num(spark, "a", "g1", 1), 1)
    merge(_num(spark, "b", "g2", 2), 2)
    merge(_num(spark, "c", "g1", 3), 3)

    metrics = {"n": ("origin", "count"), "sx": ("x", "sum")}
    mv1 = str(tmp_path / "mv1")
    mv2 = str(tmp_path / "mv2")
    state = str(tmp_path / "state")
    s1 = MV.mv_stream_sink(mv1, ["grp"], metrics)
    s2 = MV.mv_stream_sink(mv2, ["grp"], metrics)

    class Boom(RuntimeError):
        pass

    raised = threading.Event()
    s1_log: list[tuple[int, bool]] = []

    def s1_slow(df, cid):
        if cid == 2:
            # still running when the sibling raises (a sequential
            # fan_out would run this first and time out here)
            assert raised.wait(30), "sibling sink never ran concurrently"
            time.sleep(0.5)
        s1(df, cid)
        level = df.storageLevel
        s1_log.append((cid, level.useMemory or level.useDisk))

    def s2_flaky(df, cid):
        if cid == 2:
            raised.set()
            raise Boom()
        s2(df, cid)

    with pytest.raises(Boom):
        drain_changes_direct(spark, path, fan_out(s1_slow, s2_flaky),
                             state_path=state)
    # s1 finished commit 2 (on a still-persisted batch) before the
    # error reached the caller
    assert s1_log == [(1, True), (2, True)]
    # resume with the healthy sink composition
    assert drain_changes_direct(spark, path, fan_out(s1, s2),
                                state_path=state) == 3

    twin1 = str(tmp_path / "twin1")
    twin2 = str(tmp_path / "twin2")
    drain_changes_direct(spark, path, fan_out(
        MV.mv_stream_sink(twin1, ["grp"], metrics),
        MV.mv_stream_sink(twin2, ["grp"], metrics)),
        state_path=str(tmp_path / "state_twin"))

    def st(p):
        return sorted((r.grp, r.n, r.sx)
                      for r in MV.read_mv(spark, p, metrics).collect())

    assert st(mv1) == st(twin1)
    assert st(mv2) == st(twin2)


def test_batch_changes_reader_window(spark, tmp_path):
    """The batch reader reads an explicit (fromCommit, toCommit]
    window as a plain DataFrame — ops and keys match the history."""
    from engagement_data_pipeline_spark.streaming.cdf_source import (
        MergeTableChangesDataSource)

    path = str(tmp_path / "t")
    merge = _merge(spark, path)
    merge(_row(spark, "a", "v1"), 1)
    merge(_row(spark, "b", "v1"), 2)
    merge(_row(spark, "a", "v2"), 3)

    spark.dataSource.register(MergeTableChangesDataSource)
    win = (spark.read.format("merge_table_changes")
           .option("path", path).option("fromCommit", "1")
           .option("toCommit", "3").option("includeOld", "true")
           .load())
    rows = sorted((r.origin, r.op) for r in win.collect())
    assert rows == [("a", "update"), ("b", "insert")]
    full = (spark.read.format("merge_table_changes")
            .option("path", path).load())  # default 0 -> head
    assert sorted((r.origin, r.op) for r in full.collect()) == [
        ("a", "insert"), ("b", "insert")]
