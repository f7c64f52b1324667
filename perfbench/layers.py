"""Per-layer metrics of a traced run, from its spans and event log.

Every metric is per timed operation (total over the run's operations
divided by their number), except the ratios, which divide two totals,
and `query.fixture_s`, which is the fixture-build time of the run's
set-up. Layers a workload does not exercise read 0.
"""

from __future__ import annotations

from collections import defaultdict

from . import eventlog
from .trace import covered, self_times

STAGES = ("imputed", "views", "analysis", "exports")
#: span name prefix -> layer, for the self-time split
LAYERS = ("op", "ingest", "runner", "transform", "views", "drain", "mv",
          "index", "cdf", "sources", "spine", "imputation", "automated",
          "exports", "query")
SPARK = ("jobs", "stages", "tasks", "task_run_s", "task_wait_s",
         "driver_only_s", "shuffle_write_bytes", "input_bytes",
         "spill_bytes", "gc_s", "failed_tasks")


def _layer(name: str) -> str:
    return name.split(".", 1)[0]


def per_layer(ctx, log_dir: str, app_id: str):
    tr = ctx.tracer
    spans = tr.spans
    n = max(1, ctx.attempted)
    selfs = self_times(spans)
    ops = [s for s in spans if s["op"] is not None]
    roots = [s for s in ops if s["name"] == "op"]

    def dur(s):
        return s["end"] - s["start"]

    def named(name):
        return [s for s in ops if s["name"] == name]

    def tot(name):
        return sum(dur(s) for s in named(name))

    def attr(name, key):
        return sum(s.get(key, 0) for s in named(name))

    m: dict[str, dict] = {}

    def put(key, value, unit):
        m[key] = {"value": value, "unit": unit}

    # analysis.runner
    stage_tot = {st: tot(f"runner.stage.{st}") for st in STAGES}
    put("runner.run_s", tot("runner.run") / n, "s")
    put("runner.bookkeeping_s",
        (tot("runner.run") - sum(stage_tot.values())) / n, "s")
    put("runner.manifest_commits", len(named("runner.record_stage")) / n,
        "count")
    for st in STAGES:
        put(f"runner.stage_s.{st}", stage_tot[st] / n, "s")

    # streaming.ingest
    rows_in = attr("ingest.upsert", "rows")
    put("ingest.upsert_s", tot("ingest.upsert") / n, "s")
    put("ingest.rows_in", rows_in / n, "count")
    put("ingest.buckets_touched", attr("ingest.upsert", "buckets") / n,
        "count")
    put("ingest.bytes_written", attr("ingest.upsert", "bytes") / n, "bytes")
    put("ingest.rows_rewritten_per_row_changed",
        attr("ingest.upsert", "rows_rewritten") / rows_in if rows_in else 0.0,
        "ratio")
    put("ingest.occ_conflicts",
        sum(1 for s in named("ingest.claim") if s.get("lost")) / n, "count")
    put("ingest.write_amp", ctx.write_amp or 0.0, "bytes/byte")

    # streaming.transform, labels.views
    put("transform.refresh_s", tot("transform.refresh") / n, "s")
    put("transform.calls", len(named("transform.refresh")) / n, "count")
    put("views.refresh_s", tot("views.refresh") / n, "s")
    put("views.build_s", tot("views.build") / n, "s")

    # streaming.drain / mv and the index sinks
    by_id = {s["id"]: s for s in spans}

    def drain_of(s):
        p = s["parent"]
        while p is not None and by_id[p]["name"] != "drain.direct":
            p = by_id[p]["parent"]
        return p

    drained = {(drain_of(s), s["batch_id"]) for s in ops
               if s["name"] in ("mv.sink", "index.sink")}
    put("drain.direct_s", tot("drain.direct") / n, "s")
    put("drain.commits_drained", len(drained) / n, "count")
    put("mv.sink_s", tot("mv.sink") / n, "s")
    put("index.sink_s", tot("index.sink") / n, "s")

    # streaming.cdf_source
    buckets = attr("cdf.read", "buckets")
    put("cdf.read_s", tot("cdf.read") / n, "s")
    put("cdf.buckets_read", buckets / n, "count")
    put("cdf.rows_emitted_per_bucket_read",
        attr("cdf.read", "rows") / buckets if buckets else 0.0, "ratio")

    # sources, spine, imputation, automated analysis, exports: time
    # building (lazy) plans; their execution is charged to the action
    # that runs them
    for key in ("sources.load", "spine.build", "imputation.build",
                "automated.build", "exports.build"):
        put(f"{key}_s", tot(key) / n, "s")

    # queries.*
    put("query.build_s", tot("query.build") / n, "s")
    put("query.catalyst_s", attr("query.catalyst", "catalyst_s") / n, "s")
    put("query.exec_s", tot("query.exec") / n, "s")
    put("query.fixture_s", tr.counters.get("query.fixture_s", 0.0), "s")

    # Spark engine, per span through its job group
    log = eventlog.parse(eventlog.find_log(log_dir, app_id))
    span_spark = {}
    for gid, g in log.groups.items():
        if gid.startswith("pb-") and gid[3:].isdigit():
            span_spark[int(gid[3:])] = g
    totals = defaultdict(float)
    for s in ops:
        g = span_spark.get(s["id"])
        if g is None:
            continue
        totals["jobs"] += g.jobs
        totals["stages"] += len(g.stages)
        totals["tasks"] += g.tasks
        totals["failed_tasks"] += g.failed_tasks
        for k in ("task_run_s", "task_wait_s", "gc_s", "shuffle_write_bytes",
                  "input_bytes", "spill_bytes", "py_rows", "py_bytes_out",
                  "py_bytes_in"):
            totals[k] += getattr(g, k)
    totals["driver_only_s"] = sum(
        dur(r) - covered(log.job_intervals, r["start"], r["end"])
        for r in roots)
    units = {"jobs": "count", "stages": "count", "tasks": "count",
             "failed_tasks": "count", "shuffle_write_bytes": "bytes",
             "input_bytes": "bytes", "spill_bytes": "bytes"}
    for k in SPARK:
        put(f"spark.{k}", totals[k] / n, units.get(k, "s"))
    put("pyworker.rows", totals["py_rows"] / n, "count")
    put("pyworker.bytes_out", totals["py_bytes_out"] / n, "bytes")
    put("pyworker.bytes_in", totals["py_bytes_in"] / n, "bytes")

    # self time by layer; over an operation they add up to its wall time
    layer_self = defaultdict(float)
    op_self = defaultdict(float)
    for s in ops:
        layer_self[_layer(s["name"])] += selfs[s["id"]]
        op_self[s["op"]] += selfs[s["id"]]
    for layer in LAYERS:
        put(f"self.{layer}_s", layer_self[layer] / n, "s")
    gap = max((abs(dur(r) - op_self[r["op"]]) for r in roots), default=0.0)
    put("trace.self_sum_gap_s", gap, "s")
    # the traced run's op_s, defined as in the untraced run
    put("trace.op_s", ctx.op_seconds(), "s")

    doc = {
        "workload": ctx.args.workload, "seed": ctx.args.seed,
        "ops": [{"op": r["op"], "label": r.get("label"), "wall_s": dur(r),
                 "self_sum_s": op_self[r["op"]]} for r in roots],
        "spans": [dict(s, self_s=selfs[s["id"]],
                       spark=_group_dict(span_spark.get(s["id"])))
                  for s in spans],
    }
    return m, doc


def _group_dict(g) -> dict | None:
    if g is None:
        return None
    return {"jobs": g.jobs, "stages": len(g.stages), "tasks": g.tasks,
            "failed_tasks": g.failed_tasks, "task_run_s": g.task_run_s,
            "task_wait_s": g.task_wait_s, "gc_s": g.gc_s,
            "shuffle_write_bytes": g.shuffle_write_bytes,
            "input_bytes": g.input_bytes, "spill_bytes": g.spill_bytes,
            "py_rows": g.py_rows, "py_bytes_out": g.py_bytes_out,
            "py_bytes_in": g.py_bytes_in}
