"""Benchmark entry point: one workload per run, from the root of a
checkout of the repository.

    python3 perfbench/run.py --workload dashboard_mix --seed 1 --seconds 5 --trace 0

Prints a readable report, then as its last stdout line one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
(``--trace 0``) or the per-layer metrics (``--trace 1``) named in
BENCHMARK.json. Exits 1 when any output is wrong or any operation
failed, 2 when the checkout does not hold the program.

Everything the run writes (inputs, stores, warehouse, Spark local and
temp dirs, event logs) lives under .perfbench_work/ in the checkout and
is deleted at exit. See perfbench/README.md for the metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import procs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# The JSON end-to-end metrics (BENCHMARK.json), then the other
# workload-independent ones the report prints. Set-up is gated in CPU
# seconds: its wall time moves with the host's CPU steal far more.
E2E = ("items_per_s", "setup_s")
UNITS = {"items_per_s": "1/s", "cpu_s_per_item": "s", "setup_s": "s",
         "setup_wall_s": "s", "peak_rss_mb": "MB", "op_latency_p50_s": "s"}
LAYER_UNITS = {
    "session.start_s": "s", "catalog.load_s": "s", "setup.warmup_s": "s",
    "driver.overhead_s": "s", "spark.jobs": "1/op", "spark.tasks": "1/op",
    "spark.job_s": "s", "spark.busy_ratio": "ratio", "spark.task_cpu_s": "s",
    "spark.gc_s": "s", "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B", "spark.spill_bytes": "B",
    "spark.output_bytes": "B", "trace.overhead_ratio": "ratio",
}


def _program_present() -> bool:
    return all(os.path.isfile(os.path.join(ROOT, p)) for p in (
        "etl_project_spark/__init__.py", "etl_project_spark/registry.py",
        "tools/check_correctness.py", "__spark_entry__.py",
    ))


def _hermetic_env(work: str) -> None:
    """Point every writer at the run directory before the JVM starts.
    Python workers inherit PYTHONPATH, so mapInPandas kernels can import
    etl_project_spark from the checkout."""
    for d in ("local", "tmp", "warehouse", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join([
        os.environ.get("SPARK_SUBMIT_OPTS", ""),
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dderby.system.home={work}/tmp",
        "-XX:-UsePerfData",  # else the JVM writes /tmp/hsperfdata_<user>
    ]).strip()
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        [os.environ.get("SPARK_LAUNCHER_OPTS", ""), "-XX:-UsePerfData"]).strip()
    # a 2 GB driver heap (the engine's default is 8 GB) is plenty for these
    # inputs and keeps a machine shared with other work safe
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"


def _spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


class Session:
    """Starts, restarts and finally stops the run's one SparkSession."""

    def __init__(self, work: str, cores: int):
        self.work, self.cores, self.spark = work, cores, None

    def start(self, trace: bool):
        from etl_project_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark("perfbench", master=f"local[{self.cores}]",
                               extra_conf=_spark_conf(self.work, trace))
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session, then the JVM, and wait until the JVM and the
        Python workers it forked have exited."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        started = procs.descendants(os.getpid())
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        deadline = time.monotonic() + 30
        while any(os.path.exists(f"/proc/{p}") for p in started):
            if time.monotonic() > deadline:
                for p in started:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
                break
            time.sleep(0.1)


def measure(wl, ctx, seconds: float) -> None:
    """The closed loop: whole steps until ``seconds`` have passed and the
    workload's minimum number of steps has run."""
    deadline = time.perf_counter() + seconds
    steps = 0
    while steps < wl.min_steps or time.perf_counter() < deadline:
        wl.step(ctx)
        steps += 1


def traced_phase(wl, ctx, sess, work: str) -> dict[str, float]:
    """Per-layer figures: one more step on a fresh session with the event
    log on, every Spark job tagged with the id of the operation that
    caused it; then one on a fresh untraced session, the reference for the
    tracing overhead. Both steps start right after a session start, so
    they differ only in tracing and in one step of JIT warming, which
    biases the overhead upward by at most the step-to-step drift."""
    import tracing as tr

    def gc_seconds() -> float:
        """Collection time of every JVM garbage collector so far."""
        mf = ctx.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3

    def loop(trace: bool) -> tuple[list, float]:
        ctx.spark = sess.start(trace=trace)
        wl.load(ctx)
        ctx.tracer.set_spark_context(ctx.spark.sparkContext if trace else None)
        first, gc = len(ctx.tracer.spans), gc_seconds()
        wl.step(ctx)
        gc = gc_seconds() - gc
        ctx.tracer.set_spark_context(None)
        return [s for s in ctx.tracer.spans[first:] if s.name == wl.op], gc

    (traced, gc), (untraced, _) = loop(True), loop(False)
    with open(tr.find_event_log(os.path.join(work, "events"))) as f:
        jobs = tr.parse_event_log(f)
    layers = tr.spark_layer(jobs, traced, sess.cores)
    layers["spark.gc_s"] = gc / len(traced)
    mean = lambda spans: sum(s.seconds for s in spans) / len(spans)
    layers["trace.overhead_ratio"] = mean(traced) / mean(untraced) - 1
    return layers


def run(args, work: str) -> dict:
    import stats
    import tracing as tr

    def snap() -> tuple[float, float]:
        return time.perf_counter(), procs.cpu_seconds()

    t0 = time.perf_counter()
    phase = {}
    import workloads  # imports the engine's registry
    wl = workloads.WORKLOADS[args.workload]()
    cores = len(os.sched_getaffinity(0))
    tracer, oplog = tr.Tracer(), stats.OpLog()
    sess = Session(work, cores)
    ctx = workloads.Ctx(None, work, args.seed, tracer, oplog, snap)
    out: dict = {"cores": cores}
    try:
        t = time.perf_counter()
        ctx.spark = sess.start(trace=False)
        start_s = time.perf_counter() - t
        out["master"] = ctx.spark.sparkContext.master
        ctx.data = os.path.join(work, "input")
        wl.generate(ctx.data, args.seed)
        t = time.perf_counter()
        wl.load(ctx)
        load_s = time.perf_counter() - t
        t, excluded = time.perf_counter(), ctx.excluded[0]
        out["warm_passes"] = wl.warm(ctx)
        warm_s = time.perf_counter() - t - (ctx.excluded[0] - excluded)
        end = snap()
        # set-up from process start, less its unmetered sections
        out["setup_wall_s"] = end[0] - t0 - ctx.excluded[0]
        out["setup_s"] = end[1] - ctx.excluded[1]
        out["layers"] = {"session.start_s": start_s, "catalog.load_s": load_s,
                         "setup.warmup_s": warm_s}
        phase["setup"] = end[0] - t0

        excluded, before = list(ctx.excluded), snap()
        measure(wl, ctx, args.seconds)
        after = snap()
        phase["measure"] = after[0] - before[0]
        loop_cpu = after[1] - before[1] - (ctx.excluded[1] - excluded[1])
        out["peak_rss_mb"] = procs.peak_rss_mb()
        out["samples"] = tracer.durations(wl.op, ok_only=False)
        out["e2e_named"], common, named_layers = wl.report(ctx)
        out.update(common)
        out["cpu_s_per_item"] = loop_cpu / (
            out["items_per_s"] * sum(tracer.durations(wl.op)))
        out["layers"].update(named_layers)

        if args.trace:
            out["layers"].update(traced_phase(wl, ctx, sess, work))

        t = time.perf_counter()
        problems = wl.check(ctx)
        phase["check"] = time.perf_counter() - t
        for key, _ in problems:
            oplog.mark_wrong(key)
        out["problems"] = [f"{key}: {msg}" for key, msg in problems]
    finally:
        t = time.perf_counter()
        sess.close()
        phase["stop"] = time.perf_counter() - t
    out["phases"] = phase
    out["errors"] = ctx.errors
    out["attempted"], out["failed"] = oplog.attempted, oplog.failed
    out["failed_ratio"] = oplog.failed_ratio
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("dashboard_mix", "ohlcv_ingest", "corpus_build"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not _program_present():
        print(f"perfbench: no etl_project_spark program under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(work)
    _hermetic_env(work)
    sys.path[:0] = [HERE, ROOT]
    try:
        out = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    print_report(args, out)
    correct = not out["problems"] and not out["errors"]
    if args.trace:
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in out["layers"].items()
                   if k in LAYER_UNITS}
    else:
        metrics = {k: {"value": out[k], "unit": UNITS[k]} for k in E2E}
    sys.stdout.flush()
    print(json.dumps({"correct": correct, "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": metrics}))
    return 0 if correct else 1


def print_report(args, out: dict) -> None:
    p = print
    p(f"workload={args.workload} seed={args.seed} seconds={args.seconds} "
      f"trace={args.trace} master={out.get('master')} cores={out['cores']}")
    p("phase wall seconds: " + " ".join(f"{k}={v:.1f}" for k, v in out["phases"].items())
      + "; warm-up passes (s): " + " ".join(f"{x:.2f}" for x in out["warm_passes"]))
    p("end-to-end (name, value, unit, samples):")
    for k, unit in UNITS.items():
        p(f"  {k:34s} {out[k]:12.4f} {unit}")
    p(f"  {'ops.failed_ratio':34s} {out['failed_ratio']:12.4f} ratio  "
      f"n={out['attempted']}")
    for k, (v, unit, n) in out["e2e_named"].items():
        shown = f"{v:12.4f}" if v is not None else f"{'n/a':>12s}"
        p(f"  {k:34s} {shown} {unit:5s}  n={n}")
    p("operation latencies (s): " + " ".join(f"{x:.3f}" for x in out["samples"]))
    p("per-layer" + (" (spark.* and driver.overhead_s from the traced phase):"
                     if args.trace else ":"))
    for k, v in out["layers"].items():
        p(f"  {k:34s} {v:14.4f}")
    for line in out["problems"] + out["errors"]:
        p(f"FAILED {line}")


if __name__ == "__main__":
    sys.exit(main())
