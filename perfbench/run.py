"""Benchmark of the trends engine, end to end and by layer.

    python3 perfbench/run.py --workload trends_paced --seed 1 --seconds 8 --trace 0

Run from the repository root (any working directory works; paths resolve
from this file). Each run starts its own local Spark session, builds its
inputs from --seed, checks every output, and prints as its last stdout
line one JSON object: {"correct", "attempted", "failed", "metrics"}.
--trace 0 reports the end-to-end metrics; --trace 1 repeats the run with
per-layer telemetry on and reports the per-layer metrics, writes its spans
to .perfbench_out/, and reports the tracing overhead against the last
untraced run of the same workload. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import batch_mix
import streams
import telemetry as tm

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "realtime_twitter_trends_analytics_spark"
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
WORKLOADS = ("trends_paced", "corpus_stream", "batch_mix")
# A run that takes longer than this is stopped and fails; ending the
# Spark processes after it is bounded by STOP_GRACE_S plus a few seconds.
RUN_DEADLINE_S = 120
STOP_GRACE_S = 30

E2E = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "throughput_per_s": "1/s",
    "peak_rss_mb": "MB",
}
COMMON_LAYERS = [
    "session.start_s",
    "loaders.scan_s",
    "trace.overhead_latency_p50_s",
]


def layer_unit(name: str) -> str:
    if name.endswith("_ms_p50"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("rows_per_s"):
        return "1/s"
    if name.endswith("_recall"):
        return "frac"
    if name.endswith("_s"):
        return "s"
    return "count"


def all_layer_names() -> list[str]:
    return COMMON_LAYERS + streams.PACED_LAYERS + streams.CORPUS_LAYERS + batch_mix.layer_names()


class Context:
    """What a workload needs from the harness: its seed and budget, a
    scratch directory, the tracer, the per-layer metric table and the
    operation counters."""

    def __init__(self, args, work_dir: str, t_setup0: float):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work_dir = work_dir
        self.tracer = tm.Tracer(self.trace)
        self.layer: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.t_setup0 = t_setup0
        self.setup_s: float | None = None
        self.sc = None  # the SparkContext, once the session exists
        self.stats = None  # its JobGroupStats
        self.sampler = None  # RssSampler of the Spark process tree
        self.peak_rss_mb: float | None = None

    def attempt(self, ok: bool) -> None:
        """Count one operation: a query, a generated file, or a check."""
        self.attempted += 1
        self.failed += 0 if ok else 1

    def log(self, msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)

    def end_setup(self, at: float | None = None) -> None:
        """Mark the end of setup: now, or at an earlier time ``at``."""
        self.setup_s = (time.time() if at is None else at) - self.t_setup0
        self.tracer.add("setup", self.t_setup0, self.t_setup0 + self.setup_s)

    def end_measure(self) -> None:
        """Mark the end of the measured work; the checks that follow are
        not the workload's and do not count toward its peak RSS."""
        if self.peak_rss_mb is None:
            self.peak_rss_mb = self.sampler.stop()

    @contextlib.contextmanager
    def span(self, name: str, layer_key: str | None = None, parent: int | None = None):
        t0 = time.time()
        sid = self.tracer.add(name, t0, None, parent=parent)
        yield sid
        t1 = time.time()
        self.tracer.set_end(sid, t1)
        if layer_key:
            self.layer[layer_key] = t1 - t0

    @contextlib.contextmanager
    def job_group(self, group: str, name: str, parent: int | None = None):
        """Run the body under Spark job group ``group``; the yielded record
        gets the body's wall time and, when tracing, the group's jobs,
        tasks and shuffle volume from the status store (read after the
        timed region)."""
        self.sc.setJobGroup(group, name)
        rec: dict = {"jobs": [], "tasks": 0, "shuffle_mb": 0.0}
        t0 = time.time()
        yield rec
        t1 = time.time()
        rec["wall_s"] = t1 - t0
        if self.trace:
            rec.update(self.stats.group(group))
            sid = self.tracer.add(name, t0, t1, parent=parent, group=group, tasks=rec["tasks"],
                                  shuffle_mb=rec["shuffle_mb"], executor_run_s=rec["executor_run_s"])
            for j in rec["jobs"]:
                self.tracer.add("spark.job", j["start"], j["end"], parent=sid, job_id=j["job_id"])


def run_workload(ctx: Context) -> dict:
    gen_proc = None
    if ctx.workload == "trends_paced":
        files = streams.WARM_S * streams.FILES_PER_S + int(ctx.seconds * streams.FILES_PER_S)
        src = os.path.join(ctx.work_dir, "src")
        os.makedirs(src)
        # rendering overlaps the session start below
        gen_proc = streams.PacedGenerator(src, os.path.join(ctx.work_dir, "gen.json"), ctx.seed, files)
    spark = None
    try:
        with ctx.span("session.start", "session.start_s"):
            from realtime_twitter_trends_analytics_spark.session import get_spark

            spark = get_spark("perfbench", cpus=min(4, os.cpu_count() or 4))
            spark.sparkContext.setLogLevel("ERROR")
        ctx.sc = spark.sparkContext
        ctx.stats = tm.JobGroupStats(spark.sparkContext)
        ctx.sampler = tm.RssSampler(tm.jvm_pid(spark.sparkContext)).start()
        if ctx.workload == "trends_paced":
            out = streams.run_paced(spark, ctx, gen_proc)
        elif ctx.workload == "corpus_stream":
            out = streams.run_corpus(spark, ctx)
        else:
            out = batch_mix.run(spark, ctx)
        ctx.end_measure()
        return out
    finally:
        _exits.defer()
        if ctx.sampler is not None:
            ctx.sampler.stop()
        if gen_proc is not None:
            gen_proc.kill()
        stop_spark(spark, ctx.log)


def stop_spark(spark, log) -> None:
    """Stop the streams and the session, then end the JVM the Py4J gateway
    launched and wait until it and every process under it (its launcher
    and the Python workers) have ended. spark.stop() alone leaves the JVM
    running until it sees its stdin close, which is after this process has
    exited."""
    from pyspark import SparkContext

    tree = tm.descendants(os.getpid())
    gateway = SparkContext._gateway  # set once the JVM is up, even if the session is not
    steps = []
    if spark is not None:
        steps += [lambda: [q.stop() for q in spark.streams.active], spark.stop]
    if gateway is not None:
        steps.append(gateway.shutdown)  # closes the Py4J client and callback server
    for step in steps:
        try:
            step()
        except Exception as e:  # keep going: the processes must still end
            log(f"stopping Spark: {type(e).__name__}: {e}")
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=STOP_GRACE_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    left = tm.end_processes(tree, grace_s=5)
    if left:
        log(f"processes still running after SIGKILL: {left}")


class _ExitRequests:
    """SIGTERM and the run deadline exit through the finally blocks. Once a
    run has begun to stop its processes, they wait until it has done so."""

    def __init__(self):
        self.deferring = False
        self.pending = None

    def request(self, status) -> None:
        if self.deferring:
            self.pending = self.pending or status
        else:
            sys.exit(status)

    def defer(self) -> None:
        signal.alarm(0)
        self.deferring = True

    def release(self) -> None:
        self.deferring = False
        if self.pending is not None:
            sys.exit(self.pending)


_exits = _ExitRequests()


def e2e_metrics(ctx: Context, out: dict) -> dict[str, float]:
    lat = out["latencies"]
    return {
        "setup_s": ctx.setup_s,
        "latency_p50_s": tm.median(lat),
        "latency_tail_s": tm.tail_value(lat)[0],
        "throughput_per_s": out["units"] / out["busy_s"],
        "peak_rss_mb": ctx.peak_rss_mb,
    }


def main(argv: list[str] | None = None) -> int:
    t_setup0 = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: the engine package {PACKAGE}/ is not next to {HERE}", file=sys.stderr)
        return 2
    # Python workers import the engine too, whatever the working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [ROOT, HERE]
    work_dir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    # shuffle files, checkpoints and stream stores all live under the
    # Spark local dir, removed when the run ends
    os.environ["SPARK_LOCAL_DIRS"] = work_dir
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    shutil.rmtree(work_dir, ignore_errors=True)  # left by a killed run
    os.makedirs(work_dir)

    # on SIGTERM, or when a run overruns RUN_DEADLINE_S, unwind through the
    # finally blocks: stop streams and the session, end the generator and
    # every Spark process, remove the work directory
    signal.signal(signal.SIGTERM, lambda *_: _exits.request(143))
    signal.signal(signal.SIGALRM, lambda *_: _exits.request(f"perfbench: run overran {RUN_DEADLINE_S} s"))
    signal.alarm(RUN_DEADLINE_S)
    ctx = Context(args, work_dir, t_setup0)
    try:
        out = run_workload(ctx)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
        _exits.release()

    e2e = e2e_metrics(ctx, out)
    os.makedirs(OUT_DIR, exist_ok=True)
    last_path = os.path.join(OUT_DIR, f"e2e-{args.workload}.json")
    if args.trace:
        overhead = {}
        if os.path.exists(last_path):
            with open(last_path) as f:
                base = json.load(f)
            overhead = {k: e2e[k] - base[k] for k in e2e}
            ctx.layer["trace.overhead_latency_p50_s"] = overhead["latency_p50_s"]
        ctx.tracer.write(
            os.path.join(OUT_DIR, f"trace-{args.workload}-seed{args.seed}.json"),
            workload=args.workload, seed=args.seed, e2e_traced=e2e, overhead_vs_untraced=overhead,
        )
        metrics = {n: {"value": float(ctx.layer.get(n, 0.0)), "unit": layer_unit(n)}
                   for n in all_layer_names()}
    else:
        with open(last_path, "w") as f:
            json.dump(e2e, f)
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in E2E.items()}
    correct = ctx.failed == 0 and ctx.attempted > 0
    print(json.dumps({
        "correct": correct,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
