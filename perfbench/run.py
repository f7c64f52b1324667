"""Engagement-pipeline benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the engine. One client in one
process drives Spark `local[4]` in a closed loop: each operation
starts when the previous one (and its output check) has finished.
The last line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics of
BENCHMARK.json; with `--trace 1` they are the per-layer metrics, the
run also writes its spans to `.perfbench/spans-<workload>-<seed>.json`
and the end-to-end numbers of that run are not used. See
perfbench/README.md for the metrics, the workloads and the spans file.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback

T_START = time.perf_counter()

ROOT = os.getcwd()
CPUS = 4
DRIVER_MEMORY = "2g"


class RssSampler:
    """Peak resident memory of the driver Python, the Spark JVM and every
    process the JVM started (the Python workers), sampled from /proc
    while `active`. The driver and the JVM count their RSS; each process
    the JVM started counts only its private resident pages. That keeps
    a child caught between fork and exec, which still maps the JVM's
    pages, from counting the JVM twice, and counts the pages the forked
    workers share with their daemon once."""

    PERIOD_S = 0.1

    def __init__(self):
        self.pids: list[int] = [os.getpid()]
        self.peak = 0
        self.active = False
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _descendants(self) -> list[int]:
        kids: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
        out, todo = [], [k for p in self.pids[1:] for k in kids.get(p, [])]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(kids.get(p, []))
        return out

    def _rss(self, pid: int) -> int:
        try:
            with open(f"/proc/{pid}/statm") as f:
                return int(f.read().split()[1]) * self._page
        except (OSError, IndexError, ValueError):
            return 0

    @staticmethod
    def _private(pid: int) -> int:
        total = 0
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith(("Private_Clean:", "Private_Dirty:")):
                        total += int(line.split()[1]) * 1024
        except (OSError, IndexError, ValueError):
            pass
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.PERIOD_S):
            if self.active:
                total = (sum(self._rss(p) for p in self.pids)
                         + sum(self._private(p) for p in self._descendants()))
                self.peak = max(self.peak, total)

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class Ctx:
    """What a workload sees: the session, tracer, seeded RNG, a scratch
    directory, and the timing and correctness accounting."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.rng = random.Random(args.seed)
        self.seconds = float(args.seconds)
        self.spark = None
        self.jvm = None
        self.tracer = None
        self.rss = RssSampler()
        self.op_times: list[float] = []
        self.op_labels: list[str | None] = []
        #: set by a workload whose per-operation figure is not the
        #: median operation time (see `op_seconds`)
        self.op_s: float | None = None
        self.attempted = 0
        self.failed = 0
        self.setup_s: float | None = None
        self.setup_extra_s = 0.0
        #: bytes/byte of the daily_delta day (see workloads.daily_delta)
        self.write_amp: float | None = None

    # -- environment -------------------------------------------------
    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def start_session(self) -> None:
        from pyspark.sql import SparkSession

        from engagement_data_pipeline_spark.session import _RUNTIME_CONF

        b = (SparkSession.builder.master(f"local[{CPUS}]")
             .appName(f"perfbench-{self.args.workload}")
             .config("spark.driver.memory", DRIVER_MEMORY)
             .config("spark.driver.extraJavaOptions",
                     f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData")
             .config("spark.local.dir", self.path("local"))
             .config("spark.sql.warehouse.dir", self.path("warehouse"))
             .config("spark.sql.shuffle.partitions", str(CPUS))
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false"))
        for k, v in _RUNTIME_CONF.items():
            b = b.config(k, v)
        if self.args.trace:
            os.makedirs(self.path("eventlog"), exist_ok=True)
            b = (b.config("spark.eventLog.enabled", "true")
                 .config("spark.eventLog.rolling.enabled", "false")
                 .config("spark.eventLog.compress", "false")
                 .config("spark.eventLog.dir",
                         "file://" + self.path("eventlog")))
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1000).selectExpr("sum(id)").collect()
        self.jvm = self.spark.sparkContext._gateway.proc

    # -- measurement -------------------------------------------------
    def _start_measuring(self) -> None:
        if self.setup_s is None:
            self.setup_s = time.perf_counter() - T_START
            self.rss.pids = [os.getpid(), self.jvm.pid]
            self.rss.active = True

    def timed(self, op, check, label: str | None = None,
              exclude=None) -> bool:
        """Run one operation, time it, then check its output (untimed).
        `exclude()` returns seconds inside the operation that belong to
        set-up (fixture builds); they move from the operation to
        setup_s. Returns whether the operation passed."""
        self._start_measuring()
        self.attempted += 1
        tr = self.tracer
        tr.op_id = self.attempted
        ok = True
        t0 = time.perf_counter()
        try:
            with tr.span("op", label=label):
                op()
        except Exception:
            traceback.print_exc()
            ok = False
        dt = time.perf_counter() - t0
        tr.op_id = None
        moved = exclude() if exclude is not None else 0.0
        self.setup_extra_s += moved
        self.op_times.append(dt - moved)
        self.op_labels.append(label)
        if ok:
            self.rss.active = False
            try:
                with tr.span("check", label=label):
                    ok = bool(check())
            except Exception:
                traceback.print_exc()
                ok = False
            self.rss.active = True
        if not ok:
            self.failed += 1
            print(f"perfbench: operation {self.attempted} ({label}) failed",
                  file=sys.stderr)
        return ok

    def op_seconds(self) -> float:
        """The run's per-operation figure: the workload's own `op_s`,
        or else the median operation time."""
        return self.op_s if self.op_s is not None else _median(self.op_times)

    def done(self) -> bool:
        """The timed operations add up to the run's measuring time."""
        return sum(self.op_times) >= self.seconds


def _stop_spark(ctx: Ctx) -> None:
    """Stop the session and the JVM the gateway launched, and wait for
    the JVM (and with it the Python workers it forked) to exit."""
    if ctx.spark is None:
        return
    from pyspark import SparkContext

    ctx.spark.stop()
    gw, proc = SparkContext._gateway, ctx.jvm
    if gw is not None:
        gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def end_to_end(ctx: Ctx) -> dict[str, dict]:
    return {
        "op_s": {"value": ctx.op_seconds(), "unit": "s"},
        "peak_rss_mb": {"value": ctx.rss.peak / 2**20, "unit": "MB"},
        "setup_s": {"value": ctx.setup_s + ctx.setup_extra_s, "unit": "s"},
    }


def summary_line(ctx: Ctx) -> str:
    """The workload's end-to-end numbers under their per-workload names."""
    name = ctx.args.workload
    if name == "daily_delta":
        parts = [f"freshness_s={_median(ctx.op_times):.4f} s "
                 f"(n={len(ctx.op_times)})"]
    else:
        q = statistics.quantiles(ctx.op_times, n=10)
        parts = [f"query_p50_s={_median(ctx.op_times):.4f} s "
                 f"(n={len(ctx.op_times)})",
                 f"query_p90_s={q[8]:.4f} s",
                 f"suite_s={ctx.op_s * len(set(ctx.op_labels)):.4f} s"]
    if ctx.write_amp is not None:
        parts.append(f"write_amp={ctx.write_amp:.2f} bytes/byte")
    parts.append(f"peak_rss_mb={ctx.rss.peak / 2**20:.1f} MB")
    parts.append(f"setup_s={ctx.setup_s + ctx.setup_extra_s:.3f} s")
    parts.append(f"error_rate={ctx.failed / max(1, ctx.attempted):.4f} ratio")
    return f"# {name} seed={ctx.args.seed}: " + "  ".join(parts)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "engagement_data_pipeline_spark")):
        print("perfbench: run from the root of a checkout that holds "
              "engagement_data_pipeline_spark/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import layers, workloads
    from perfbench.trace import Tracer, install_engine_patches

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, f"{args.workload}-{args.seed}-{os.getpid()}")
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # workers and the JVM inherit these: Python workers import the
    # engine from the checkout, and every temp file stays inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_FIXTURE_DIR"] = os.path.join(work, "fixtures")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # the JVM that spark-submit starts to build the driver command would
    # otherwise leave its perf-data file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = None  # re-read TMPDIR

    ctx = Ctx(args, work)
    ok = False
    try:
        ctx.start_session()
        ctx.tracer = Tracer(ctx.spark, bool(args.trace))
        install_engine_patches(ctx.tracer)
        workloads.WORKLOADS[args.workload](ctx)
        ok = ctx.attempted > 0
        if args.trace:
            log_dir = ctx.path("eventlog")
            app_id = ctx.spark.sparkContext.applicationId
    except Exception:
        traceback.print_exc()
    finally:
        ctx.rss.close()
        if ctx.tracer is not None:
            ctx.tracer.close()
        _stop_spark(ctx)

    try:
        if not ok:
            return 1
        if args.trace:
            metrics, spans_doc = layers.per_layer(ctx, log_dir, app_id)
            os.makedirs(state, exist_ok=True)
            out = os.path.join(state,
                               f"spans-{args.workload}-{args.seed}.json")
            with open(out, "w") as f:
                json.dump(spans_doc, f)
            print(f"# spans: {out}")
        else:
            metrics = end_to_end(ctx)
        print("# ops: " + " ".join(f"{lab or 'op'}={t:.3f}" for lab, t in
                                   zip(ctx.op_labels, ctx.op_times)),
              file=sys.stderr)
        print(summary_line(ctx))
        print(json.dumps({"correct": ctx.failed == 0,
                          "attempted": ctx.attempted,
                          "failed": ctx.failed,
                          "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
