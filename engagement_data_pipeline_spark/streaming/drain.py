"""Bounded catch-up drain of a merge table's change feed — the
engine's `Trigger.AvailableNow` equivalent.

Spark's AvailableNow trigger needs the source to implement
`SupportsTriggerAvailableNow`; `PythonMicroBatchStream` (the wrapper
around every Python `DataSourceStreamReader`, our change feed
included) does not, and Spark then *falls back to single-batch
execution* — the stream logs a warning, processes ONE micro-batch and
terminates, which both collapses the per-commit retraction sequence
(`maxCommitsPerTrigger` is ignored by the fallback's stop decision)
and can stop before the head when the source rate-limits its
`latestOffset`. Verified against Spark 4.1: a 5-commit table drained
with `trigger(availableNow=True)` processed commit 1 and stopped.

So the bounded drain is driven from the driver with the SAME contract
AvailableNow gives JVM sources: record the table's head commit before
starting, process everything up to it (one source commit per
micro-batch by default, so updates and deletes arrive as true
retract+add pairs), then stop. Commits racing in after the head are
left for the next drain — exactly AvailableNow's "data available at
query start" semantics. Termination is decided by OFFSET ARITHMETIC
(the last completed batch's endOffset vs the recorded head), not by
polling `status["isDataAvailable"]` — the status flag is a UI hint
updated asynchronously, while the committed offset is the engine's
own progress record; the flag remains only as a fast-path exit for
an already-caught-up checkpoint where no batch runs at all.

Reference analog: the reference's incremental fetch loop pulls
Firestore docs updated since the last run token and stops at "now"
(SURVEY §2.1 S2, §2.12); `drain_changes` is that run-to-now loop over
the table's own commit log.
"""

from __future__ import annotations

import ast
import functools
import tempfile
import time
from typing import Callable, Mapping

from pyspark.sql import DataFrame, SparkSession

from ..session import run_branches
from .cdf_source import _latest_commit, ensure_change_feed_registered


def _committed_commit(query) -> int | None:
    """The source commit id the last COMPLETED micro-batch ended at,
    from StreamingQueryProgress. None ONLY when there is no progress
    record at all (no batch has completed) or the record carries no
    end offset yet; a progress record whose endOffset EXISTS but does
    not parse raises — that is engine format drift (e.g. a future
    Spark changing the offset rendering), and silently returning None
    here would let the drain loop fall back to the async
    `isDataAvailable` status flag this module explicitly disavows,
    ending a drain early without a word. The endOffset is the repr of
    the offset dict the reader returned (pyspark renders
    Python-source offsets with repr, not json — single quotes), hence
    literal_eval."""
    progress = query.lastProgress
    if not progress:
        return None
    sources = progress.get("sources") or []
    off = sources[0].get("endOffset") if sources else None
    if off is None:
        return None
    try:
        if isinstance(off, str):
            off = ast.literal_eval(off)
        return int(off["commit"])
    except (KeyError, TypeError, ValueError, SyntaxError) as e:
        raise RuntimeError(
            "streaming progress carried an endOffset this drain cannot "
            f"parse ({off!r}) — offset format drift; refusing to fall "
            "back to the async status flag") from e


def fan_out(*sinks: Callable) -> Callable:
    """Compose K exactly-once foreachBatch sinks into ONE, so a
    single drain (or long-running stream) maintains K artifacts —
    MVs, secondary indexes, text/ANN indexes — from ONE scan of the
    change feed. Without this, K consumers mean K streams over the
    same table: every commit's bucket diff is recomputed K times
    (read amplification ∝ K, the dominant maintenance cost at 100 TB
    once several MVs hang off one fact table).

    The batch is persisted and materialized ONCE before the sinks
    run — inside foreachBatch each action re-executes the source
    plan, so without the persist every sink would re-run the
    Python-source scan + Arrow diff.

    Exactly-once survives a crash between sinks: each sink keeps its
    own txn watermark (MV: stream-batch id, index: batch id), so when
    the stream dies after some sinks applied batch B and the
    checkpoint has no commit for B, the replayed batch is
    byte-identical (immutable version dirs) — the sinks that applied
    it no-op on their watermark, the rest apply. Adding a sink
    mid-stream is fine (it bootstraps from its first batch only if
    its artifact is empty — point new sinks at a fresh drain from
    startingCommit=0 instead).

    Sinks apply CONCURRENTLY within a batch (`session.run_branches`,
    at most defaultParallelism at once): each writes its own artifact
    under its own watermark, so they share nothing but the persisted
    batch, and a day run's sinks overlap their job latency instead of
    queuing it. The batch is unpersisted only after EVERY sink has
    returned; a failing sink's error is re-raised after its siblings
    finish, so a crash mid-batch leaves some sinks at B and others at
    B-1 — exactly the crash-between-sinks state the watermarks
    already make safe to replay.

    Readers note: two fanned-out states answering one question can
    briefly disagree mid-fold (state A at batch B, state B at B-1) —
    the same torn window as N independent sinks on one stream. For
    paired MV states use `mv.read_mv_pair_consistent`, which returns
    only when both `__mv_stream` watermarks agree."""
    def _apply(batch: DataFrame, batch_id: int) -> None:
        batch.persist()
        try:
            batch.count()
            run_branches(batch.sparkSession,
                         [functools.partial(sink, batch, batch_id)
                          for sink in sinks])
        finally:
            batch.unpersist()
    return _apply


_DIRECT_STATE = "_DIRECT_DRAIN"


def _read_direct_state(spark: SparkSession, state_path: str) -> int:
    from . import ingest as _ing

    try:
        return int(_ing._read_text(
            spark, f"{state_path}/{_DIRECT_STATE}").strip())
    except Exception as e:
        if _ing._is_not_found(e):
            return 0
        raise


def drain_changes_direct(spark: SparkSession, table_path: str,
                         sink: Callable, *, state_path: str,
                         include_old: bool = True,
                         select: str | None = None) -> int:
    """Bounded catch-up drain WITHOUT Structured Streaming: read each
    pending source commit's retract batch via the change feed's BATCH
    reader and run it through the same foreachBatch-shaped `sink`,
    using the SOURCE COMMIT id as the batch id. For a daily composed
    pipeline whose delta is a handful of commits, this replaces a
    checkpointed streaming query's fixed cost (WAL + offset log +
    per-batch planning, ~tens of seconds per drain) with two tiny
    manifest reads per commit — the r13 verdict's "incrementality
    loses to batch recompute below ~x100 corpus" fix.

    Exactly-once, same argument as the stream path: `state_path/
    _DIRECT_DRAIN` records the last commit whose sink call RETURNED
    (atomic write-then-rename, advanced after every commit); a crash
    between the sink and the state write replays that commit, whose
    batch is byte-identical (immutable version dirs), and the sink's
    own txn watermark (batch id = commit id, monotone) no-ops the
    replay. Commits whose manifest diff shows zero changed buckets
    are skipped driver-side (state still advances past them).

    Do NOT mix with `drain_changes` on the same sink state: the
    stream path's batch ids are checkpoint-local micro-batch numbers,
    the direct path's are source commit ids — switching mid-history
    can double-apply or skip windows. `state_path` is stamped with a
    mode marker and a drain refuses a state dir carrying a Spark
    streaming checkpoint.

    Per-commit delivery only (the stream path's
    maxCommitsPerTrigger=1): updates and deletes always arrive as
    true retract+add pairs, so every sink the stream drain supports
    is supported here unchanged. Returns the head commit drained to
    (0 for an empty table)."""
    import os

    from . import ingest as _ing

    head = _latest_commit(table_path)
    if head is None:
        return 0
    if os.path.isdir(os.path.join(state_path, "offsets")):
        raise ValueError(
            f"{state_path} looks like a Structured-Streaming "
            "checkpoint — a direct drain cannot continue a stream "
            "drain's position (different batch-id spaces); use a "
            "fresh state_path")
    last = _read_direct_state(spark, state_path)
    if last >= head:
        return last
    from .cdf_source import _changed_buckets, _manifest

    ensure_change_feed_registered(spark)
    man_prev = _manifest(table_path, last) if last > 0 else None
    if last > 0 and man_prev is None:
        raise ValueError(
            f"manifest {last} of {table_path} is gone — log pruned "
            "past this drain's state; rebuild the consumer from a "
            "fresh history replay")
    for c in range(last + 1, head + 1):
        man_c = _manifest(table_path, c)
        if man_c is None:
            raise ValueError(f"manifest {c} of {table_path} is unreadable")
        if _changed_buckets(man_prev, man_c):
            reader = (spark.read.format("merge_table_changes")
                      .option("path", table_path)
                      .option("fromCommit", str(c - 1))
                      .option("toCommit", str(c))
                      .option("includeOld",
                              "true" if include_old else "false"))
            if select is not None:
                reader = reader.option("select", select)
            sink(reader.load(), c)
        _ing._write_text_atomic(spark, f"{state_path}/{_DIRECT_STATE}",
                                str(c))
        man_prev = man_c
    return head


def drain_changes(spark: SparkSession, table_path: str,
                  sink: Callable, *, include_old: bool = True,
                  max_commits_per_trigger: int | None = 1,
                  checkpoint: str | None = None,
                  options: Mapping[str, str] | None = None,
                  timeout_s: float = 300.0) -> int:
    """Run `table_path`'s change feed into a foreachBatch `sink`
    until every commit that existed WHEN THIS CALL STARTED has been
    processed, then stop the stream. Returns the head commit drained
    to (0 for an empty table).

    - `include_old=True` ships `<col>__old` pre-images so retract
      sinks (MV maintenance, index sinks) can subtract exactly.
    - `max_commits_per_trigger=1` (default) delivers one source
      commit per micro-batch — updates and deletes arrive as true
      retractions instead of being collapsed into a snapshot diff.
      Pass None to let the source batch freely (pure-insert feeds).
    - `checkpoint`: pass a stable directory for restart-safe
      incremental consumers (each drain resumes after the last one);
      default is a fresh temp dir = "from the beginning, once".
    - `options`: extra reader options (e.g. `startingCommit`,
      `retentionName`, `select`). An `endingCommit` here lowers the
      drain bound below the head (the drain stops there and returns
      it); the bound is otherwise set to the head automatically.
      With `retentionName`, the registered vacuum floor LAGS the
      drained head by one commit: the engine confirms a batch only
      when planning past it, and the checkpoint may replay the final
      batch on restart — the lagging floor is the conservative
      position that still protects that batch's window; the next
      drain advances it.

    Raises TimeoutError (after stopping the stream) if the head is
    not reached within `timeout_s` — loud, never a silent partial
    drain. The sink sees each batch exactly once per checkpoint
    (engine-checkpointed offsets; immutable version dirs make replays
    after a crash byte-identical)."""
    head = _latest_commit(table_path)
    if head is None:
        return 0
    opts = dict(options or {})
    # data-source options are case-insensitive on the reader side, so
    # honor a caller's bound under any spelling instead of silently
    # overriding it with the head
    end_key = next((k for k in opts if k.lower() == "endingcommit"),
                   None)
    if end_key is not None:
        head = min(head, int(opts[end_key]))
    else:
        opts["endingCommit"] = str(head)
    ensure_change_feed_registered(spark)
    reader = (spark.readStream.format("merge_table_changes")
              .option("path", table_path)
              .option("includeOld", "true" if include_old else "false"))
    if max_commits_per_trigger is not None:
        reader = reader.option("maxCommitsPerTrigger",
                               str(max_commits_per_trigger))
    for k, v in opts.items():
        reader = reader.option(k, str(v))
    # a caller without a stable checkpoint gets a temp one REMOVED on
    # exit — fixture-heavy paths funnel many drains through here, and
    # leaking one WAL dir per drain accumulates in /tmp
    tmp_ckpt = (tempfile.TemporaryDirectory(prefix="edp-drain-ckpt-")
                if checkpoint is None else None)
    query = (reader.load()
             .writeStream.foreachBatch(sink)
             .option("checkpointLocation",
                     checkpoint if tmp_ckpt is None else tmp_ckpt.name)
             .start())
    try:
        deadline = time.time() + timeout_s
        while True:
            query.processAllAvailable()
            if not query.isActive and query.exception() is not None:
                # a sink raise kills the stream; processAllAvailable
                # just returns — surface the real failure, not a
                # drain timeout
                raise query.exception()
            done = _committed_commit(query)
            if done is not None and done >= head:
                break
            if done is None and not query.status["isDataAvailable"]:
                # caught-up checkpoint: nothing to replay, no batch
                # ran, so there is no progress record to compare
                break
            if time.time() > deadline:
                raise TimeoutError(
                    f"drain of {table_path} reached commit {done} "
                    f"but not head {head} within {timeout_s}s")
            time.sleep(0.05)
    finally:
        query.stop()
        if tmp_ckpt is not None:
            tmp_ckpt.cleanup()
    return head
