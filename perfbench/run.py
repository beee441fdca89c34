"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload headline_centroid --seed 1 --seconds 1 --trace 0

Run from the root of a source checkout. Everything the run writes goes
under `.perfbench/` in that checkout. One run is one driver process with
one Spark session on `local[<cores>]`, closed loop with one client: the
next program call starts only after the previous result is complete.

--trace 0 prints the end-to-end metrics, each the median over the run's
samples: setup_s, wall_s, turns_per_s, cpu_s, peak_rss_mb.
--trace 1 prints the per-layer metrics of one traced run (see README.md).
Every program call is checked against a reference computed without
Spark; a mismatch or an error counts as a failed operation. The last
line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
# The driver heap is fixed and pre-touched, so it is resident from the
# start; peak_rss_mb reports the tree's memory outside it.
HEAP_MB = 4096
DRIVER_MEMORY = f"{HEAP_MB}m"
MIN_SAMPLES = 1

LAYERS = (
    "sources",
    "operators.parse",
    "operators.windowing",
    "functions.embeddings",
    "operators.scoring",
    "operators.threshold",
    "operators.merge",
    "operators.routing",
    "sources.catalog",
)
LAYER_FAMILY = (
    ("wall_s", "s"),
    ("cpu_s", "s"),
    ("gc_s", "s"),
    ("rows_out", "count"),
    ("shuffle_mb", "MB"),
    ("spill_mb", "MB"),
    ("py_mb", "MB"),
    ("slot_util", "ratio"),
)
ENTRY_FAMILY = (
    ("wall_s", "s"),
    ("shuffle_mb", "MB"),
)
PIPELINE_COUNTERS = (
    ("jobs", "count"),
    ("py_rows_per_window", "ratio"),
    ("py_mb", "MB"),
    ("shuffle_mb", "MB"),
    ("cpu_s", "s"),
    ("gc_s", "s"),
    ("peak_heap_mb", "MB"),
)


T_START = time.perf_counter()


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - T_START:6.1f}s] {msg}", file=sys.stderr, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


# ---- session lifecycle ----------------------------------------------------
def open_session(event_log: Path | None = None):
    """`get_spark` on local[<cores>] with shuffle partitions to match, an
    explicit driver memory, and every scratch path inside the checkout."""
    from cordon_spark.session import get_spark

    n = cores()
    conf = {
        "spark.local.dir": str(WORK / "spark-local"),
        # A fixed, pre-touched heap: otherwise the heap's growth, which
        # depends on when collections happen, dominates peak_rss_mb.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={WORK / 'tmp'} -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log is not None:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(event_log),
                "spark.eventLog.compress": "false",
                # one plain file (Spark 4 rolls the log by default)
                "spark.eventLog.rolling.enabled": "false",
                # the driver's peak heap per stage, polled often enough
                # for stages that last well under a second
                "spark.eventLog.logStageExecutorMetrics": "true",
                "spark.executor.metrics.pollingInterval": "50ms",
            }
        )
    return get_spark(
        "perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        driver_memory=DRIVER_MEMORY,
        extra_conf=conf,
    )


def warm_workers(spark) -> None:
    """One full-width pass so every Python worker is started and has
    imported what the program's UDFs import."""
    n = spark.sparkContext.defaultParallelism

    def touch(batches):
        import numpy  # noqa: F401
        import pyarrow  # noqa: F401

        from cordon_spark import kernel  # noqa: F401

        yield from batches

    spark.range(0, n, numPartitions=n).mapInPandas(touch, "id long").collect()


def setup(event_log: Path | None = None):
    """(session, seconds): get_spark, including the package zip ship, plus
    one full-width pass that starts every Python worker. The session is
    then ready; what the program's first call compiles (code generation,
    JIT) is that call's own time."""
    t0 = time.perf_counter()
    spark = open_session(event_log)
    warm_workers(spark)
    return spark, time.perf_counter() - t0


def shutdown_jvm() -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def reap_children() -> None:
    """Stop anything still running under this process and wait for it."""
    from proctree import tree_pids

    me = os.getpid()
    left = [p for p in tree_pids(me) if p != me]
    for pid in left:
        try:
            os.kill(pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            time.sleep(0.1)
    for pid in [p for p in tree_pids(me) if p != me]:
        os.kill(pid, signal.SIGKILL)


# ---- measured operations ----------------------------------------------------
class Ops:
    """Runs and checks program calls, keeping the per-call samples."""

    def __init__(self, wl, inp) -> None:
        from proctree import TreeSampler

        self.wl = wl
        self.inp = inp
        self.sampler = TreeSampler(os.getpid())
        self.attempted = 0
        self.failed = 0
        self.count = 0

    def call(self, fn, label: str):
        """Run `fn(op_dir)` -> outcome and check it; returns (outcome,
        wall, cpu, rss), rss without the fixed driver heap. A call makes
        the workload's `ops_per_call` operations."""
        n_ops = self.wl.ops_per_call
        op_dir = WORK / "ops" / f"op{self.count}"
        self.count += 1
        self.attempted += n_ops
        outcome = None
        self.sampler.start()
        t0 = time.perf_counter()
        try:
            outcome = fn(op_dir)
        except Exception:
            log(f"{label}: raised\n{traceback.format_exc()}")
        wall = time.perf_counter() - t0
        cpu, rss = self.sampler.stop()
        rss -= HEAP_MB
        if outcome is None:
            self.failed += n_ops
        else:
            try:
                problems = self.wl.check(outcome, self.inp.expected)
            except Exception:
                problems = [f"check raised\n{traceback.format_exc()}"]
            if problems:
                self.failed += min(len(problems), n_ops)
                log(f"{label}: output differs from the reference: {'; '.join(problems)}")
        shutil.rmtree(op_dir, ignore_errors=True)
        log(f"{label}: wall {wall:.3f}s cpu {cpu:.2f}s peak_rss {rss:.0f}MB")
        return outcome, wall, cpu, rss

    def program(self, spark, label: str):
        return self.call(lambda d: self.wl.run(spark, [self.inp.path], d), label)


def median(values):
    return statistics.median(values) if values else float("nan")


def end_to_end(wl, inp, seconds: float):
    ops = Ops(wl, inp)
    spark, setup_s = setup()
    try:
        log(f"set up in {setup_s:.2f}s")
        samples = []
        start = time.perf_counter()
        while len(samples) < MIN_SAMPLES or time.perf_counter() - start < seconds:
            samples.append(ops.program(spark, f"op {len(samples)}")[1:])
    finally:
        spark.stop()
        shutdown_jvm()
    log("session stopped")
    walls, cpus, rsss = zip(*samples)
    wall = median(walls)
    metrics = {
        "setup_s": (setup_s, "s", 1),
        "wall_s": (wall, "s", len(walls)),
        "turns_per_s": (inp.n_turns / wall, "1/s", len(walls)),
        "cpu_s": (median(cpus), "s", len(cpus)),
        "peak_rss_mb": (median(rsss), "MB", len(rsss)),
    }
    return ops, metrics


def traced(wl, inp, seed: int):
    """One session with the event log on: untraced calls, then one fused
    traced call (the real program call, per-query spans for the driver
    mix) and, for the pipelines, one staged run with a span per layer."""
    import eventlog
    from tracing import Tracer
    from workloads import ENTRY_MIX, LayerAbsent

    ops = Ops(wl, inp)
    log_dir = WORK / "eventlog" / f"{wl.name}-s{seed}"
    shutil.rmtree(log_dir, ignore_errors=True)
    log_dir.mkdir(parents=True)
    # the event log is on for the untraced calls too, so they differ
    # from the fused traced call only by its spans and job groups
    spark, _ = setup(event_log=log_dir)
    tracer = Tracer(spark, run_id=f"{wl.name}-s{seed}")
    absent = None
    try:
        # The first call compiles what later calls reuse, and the JIT
        # keeps speeding calls up after it, so the baseline of the fused
        # traced call is the median of the untraced calls just before
        # and just after it.
        ops.program(spark, "untraced (cold)")
        untraced = [ops.program(spark, "untraced before")[1]]

        def fused(op_dir):
            with tracer.span(wl.fused_span):
                return wl.run(spark, [inp.path], op_dir, tracer)

        outcome, fused_wall, _, _ = ops.call(fused, "fused traced")
        untraced.append(ops.program(spark, "untraced after")[1])
        windows = (outcome or {}).get("windows", 0)

        def staged(op_dir):
            nonlocal absent
            try:
                with tracer.span("staged"):
                    return wl.staged(spark, inp, tracer, op_dir)
            except LayerAbsent as exc:
                absent = str(exc)
                return None
            finally:
                tracer.release()

        if wl.layers:
            ops.call(staged, "staged traced")
        if absent:
            # a missing layer is reported, not counted as a failure
            ops.failed -= 1
            log(f"staged run stopped: {absent} no longer exists")
    finally:
        spark.stop()
        shutdown_jvm()

    groups = eventlog.fold(eventlog.read_events(log_dir))
    n = cores()
    metrics = {}
    staged_sum = 0.0
    for layer in LAYERS:
        wall = tracer.wall(layer)
        g = groups.get(layer)
        present = layer in wl.layers and layer in tracer.rows
        if present:
            staged_sum += wall
        values = {
            "wall_s": wall,
            "cpu_s": g and g.cpu_s,
            "gc_s": g and g.gc_s,
            "rows_out": tracer.rows.get(layer),
            "shuffle_mb": g and g.shuffle_mb,
            "spill_mb": g and g.spill_mb,
            "py_mb": g and g.py_mb,
            "slot_util": g and wall and g.run_s / (wall * n),
        }
        for name, unit in LAYER_FAMILY:
            v = values[name] if present else None
            metrics[f"{layer}.{name}"] = (v or 0.0, unit, 1 if present else 0)
    for query in ENTRY_MIX:
        layer = f"entry_queries.{query}"
        g = groups.get(layer)
        present = layer in tracer.rows
        values = {"wall_s": tracer.wall(layer), "shuffle_mb": g and g.shuffle_mb}
        for name, unit in ENTRY_FAMILY:
            v = values[name] if present else None
            metrics[f"{layer}.{name}"] = (v or 0.0, unit, 1 if present else 0)
    p = groups.get("plans.pipeline")
    counters = {
        "jobs": p and p.jobs,
        "py_rows_per_window": p and windows and p.py_rows_in / windows,
        "py_mb": p and p.py_mb,
        "shuffle_mb": p and p.shuffle_mb,
        "cpu_s": p and p.cpu_s,
        "gc_s": p and p.gc_s,
        "peak_heap_mb": p and p.peak_heap_mb,
    }
    for name, unit in PIPELINE_COUNTERS:
        metrics[f"plans.pipeline.{name}"] = (counters[name] or 0.0, unit, 1 if p else 0)
    base = median(untraced)
    metrics["trace.overhead_frac"] = (fused_wall / base - 1.0, "ratio", 1)
    staged = bool(wl.layers)
    metrics["trace.staging_s"] = (staged_sum - fused_wall if staged else 0.0, "s", int(staged))

    out = WORK / "runs" / f"{wl.name}-s{seed}-trace.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(
        json.dumps(
            {
                "spans": tracer.spans,
                "rows": tracer.rows,
                "groups": {k: v.as_dict() for k, v in groups.items()},
                "untraced_wall_s": untraced,
                "fused_traced_wall_s": fused_wall,
            },
            indent=1,
        )
    )
    log(f"spans and folded event log written to {out}")
    return ops, metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "cordon_spark" / "plans" / "pipeline.py").is_file():
        log(f"{ROOT} holds no cordon_spark source tree; run from a source checkout")
        return 2
    sys.path.insert(0, str(ROOT))
    for sub in ("tmp", "spark-local"):
        (WORK / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    tempfile.tempdir = None

    from workloads import WORKLOADS

    wl = WORKLOADS.get(args.workload)
    if wl is None:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    wl.prepare()
    t0 = time.perf_counter()
    inp = wl.inputs(WORK, args.seed)
    log(f"{wl.name}: {inp.n_turns} turns, seed {args.seed}, inputs + reference ready in "
        f"{time.perf_counter() - t0:.1f}s (outside every timed region)")
    try:
        if args.trace:
            ops, metrics = traced(wl, inp, args.seed)
        else:
            ops, metrics = end_to_end(wl, inp, args.seconds)
    finally:
        reap_children()
        log("all child processes ended")

    print(f"workload {wl.name}  seed {args.seed}  local[{cores()}]  {inp.n_turns} turns")
    for name, (value, unit, n) in metrics.items():
        note = f"n={n}" if n else "absent"
        print(f"  {name:40s} {value:14.6g} {unit:6s} {note}")
    print(f"  {'failed_frac':40s} {ops.failed / ops.attempted:14.6g} {'ratio':6s} "
          f"{ops.failed} of {ops.attempted} operations")
    result = {
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
