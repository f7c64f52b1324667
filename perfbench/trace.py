"""Spans around the engine's public entry points, for the traced run.

`Tracer` patches each traced function in the namespace that calls it
(`queries.e2e_q` imports `drain_changes_direct` by name, so the patch
goes on `e2e_q`, not on `streaming.drain`) and restores every patch on
`close()`. Each span records name, start, end, parent and operation
id, and runs its Spark jobs under its own job group, so the event log
can charge jobs, stages and tasks to the span that launched them.
Spans stay in memory; `layers.per_layer` turns them into the spans
file at the end of the run.

Self time of a span is its duration minus the part of it that its
child spans cover. The spans of one operation nest strictly (one
client thread), so the self times of an operation add up to the
operation's wall time.
"""

from __future__ import annotations

import contextlib
import functools
import time
from collections import defaultdict
from typing import Callable

ROOT_GROUP = "pb-root"


class Tracer:
    """In-memory span recorder. With `enabled=False` every method is a
    cheap no-op, so the untraced runs execute the same benchmark code
    without patches, job groups or an event log."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self.op_id: int | None = None

    # -- spans -------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, "op": self.op_id,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(f"pb-{sid}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if parent is None:
                self._set_group(ROOT_GROUP, "benchmark")
            else:
                self._set_group(f"pb-{parent}", self.spans[parent]["name"])

    def _set_group(self, gid: str, desc: str) -> None:
        self.spark.sparkContext.setJobGroup(gid, desc)

    def count(self, key: str, n: float = 1) -> None:
        if self.enabled:
            self.counters[key] += n

    # -- patching ----------------------------------------------------
    def patch(self, owner, attr: str, span_name: str,
              wrap_result: Callable | None = None,
              on_result: Callable | None = None) -> None:
        """Replace `owner.attr` with a spanned wrapper. `wrap_result`
        wraps a returned callable (sink factories); `on_result(rec,
        args, kwargs, result)` records counts on the span."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(span_name) as rec:
                out = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(rec, args, kwargs, out)
            return wrap_result(out) if wrap_result is not None else out

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def spanned(self, fn: Callable, span_name: str) -> Callable:
        """`fn` wrapped in a span (for callables the benchmark holds)."""
        if not self.enabled:
            return fn

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(span_name):
                return fn(*args, **kwargs)
        return wrapper

    def close(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()


def install_engine_patches(tr: Tracer) -> None:
    """Spans on every layer boundary the per-layer table names."""
    if not tr.enabled:
        return
    from engagement_data_pipeline_spark.analysis import automated
    from engagement_data_pipeline_spark.analysis import runner as RN
    from engagement_data_pipeline_spark.labels import views as VW
    from engagement_data_pipeline_spark.queries import _helpers as QH
    from engagement_data_pipeline_spark.queries import e2e_q as E2E
    from engagement_data_pipeline_spark.queries import engagement as ENG
    from engagement_data_pipeline_spark.queries import sinks_sources as SS
    from engagement_data_pipeline_spark.sources import synthetic as SYN
    from engagement_data_pipeline_spark.streaming import cdf_source as CDF
    from engagement_data_pipeline_spark.streaming import ingest as ING
    from engagement_data_pipeline_spark.streaming import mv as MV
    from engagement_data_pipeline_spark.training import ann_index as AI
    from engagement_data_pipeline_spark.training import ranking as RK

    # analysis.runner: every manifest transition is one commit
    tr.patch(RN, "record_stage", "runner.record_stage")
    # streaming.transform, through the names e2e_q imported
    tr.patch(E2E, "refresh_transform_table", "transform.refresh")
    tr.patch(E2E, "build_transform_table", "transform.build")
    # labels.views: the incremental refresh, and the batch view builders
    # wherever they are called (the refresh re-folds touched
    # participants through them, the registry spine through its own
    # imports)
    tr.patch(E2E, "refresh_views", "views.refresh")
    for owner in (VW, ENG):
        tr.patch(owner, "messages_by_column", "views.build")
        tr.patch(owner, "participants_by_column", "views.build")

    # streaming.drain + the sinks it feeds; a sink span carries the
    # source commit it applied, so commits drained = distinct batch ids
    tr.patch(E2E, "drain_changes_direct", "drain.direct")

    def _sink(name):
        def wrap(sink):
            def call(batch, batch_id):
                with tr.span(name, batch_id=int(batch_id)):
                    return sink(batch, batch_id)
            return call
        return wrap

    tr.patch(MV, "mv_stream_sink", "mv.sink_factory", wrap_result=_sink("mv.sink"))
    tr.patch(RK, "text_index_stream_sink", "index.sink_factory",
             wrap_result=_sink("index.sink"))
    tr.patch(AI, "ann_index_stream_sink", "index.sink_factory",
             wrap_result=_sink("index.sink"))

    # streaming.cdf_source: the driver-side bounded read; transform and
    # views import it inside their function bodies, so the module
    # attribute is the name they resolve
    def _cdf(rec, args, kwargs, out):
        table, frm, to = args[0], args[1], args[2]
        man_to = CDF._manifest(table, to)
        man_from = CDF._manifest(table, frm) if frm > 0 else None
        rec["buckets"] = len(CDF._changed_buckets(man_from, man_to))
        rec["rows"] = len(out.rows) if out is not None else 0

    tr.patch(CDF, "read_changes_local", "cdf.read", on_result=_cdf)

    # streaming.ingest: optimistic-concurrency claims that lost
    def _claim(rec, args, kwargs, out):
        rec["lost"] = out is None

    tr.patch(ING, "try_claim", "ingest.claim", on_result=_claim)

    # sources, analysis.spine, labels.imputation, analysis.automated and
    # sinks.exports: lazy plan builders, in the namespaces that call them
    tr.patch(QH, "load", "sources.load")
    tr.patch(SYN, "load", "sources.load")
    for owner in (E2E, ENG):
        tr.patch(owner, "filter_messages", "spine.build")
        tr.patch(owner, "impute_message_grain", "imputation.build")
    tr.patch(ENG, "fetch_messages", "spine.build")
    for fn in ("engagement_counts", "repeat_participations",
               "theme_distributions", "demographic_distributions",
               "sample_messages", "traffic_analysis", "participation_map",
               "relevance_uuids", "cross_tabs"):
        tr.patch(automated, fn, "automated.build")
    tr.patch(E2E, "analysis_matrix", "exports.build")
    tr.patch(SS, "analysis_matrix", "exports.build")
    tr.patch(SS, "production_columns", "exports.build")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - covered(kids.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total

