"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Builds the seeded inputs of one workload,
sets the program up three times (session start, input generation, index
build and one warm-up op; ``setup_s`` is the median), then runs
closed-loop ops for ``--seconds`` seconds on ``local[<nproc>]`` from a
single driver, checking every op's output. The last line of standard
output is one JSON object:

    {"correct": bool, "attempted": int, "failed": int, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the run measures untraced ops for half the time, then
restarts the session with Spark's event log on, runs traced ops and the
per-layer probes, and reports the per-layer metrics. The line before it
is a JSON record of the host, settings, seed, set-up and op walls, the
JVM's peak RSS and the error rate. Everything the run writes stays under ``.bench_work/`` (deleted
at exit) and ``.bench_out/`` (span traces) in the repository root.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
# live heap is read after this many timed ops: the heap the program keeps
# grows with the number of queries run, so a fixed count keeps the
# figure independent of how fast the host runs the ops
HEAP_AFTER_OPS = 4


def _ram_mb() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20


def host_settings(work: str) -> dict:
    """Environment for a host-safe local session: every core, a driver
    heap well below physical RAM, scratch and temp files in ``work``."""
    cpus = len(os.sched_getaffinity(0))
    heap_mb = min(2048, _ram_mb() // 4)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '{java_opts}' "
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
            "pyspark-shell"
        ),
    }


def start_session():
    from insideout_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def enable_event_log(spark_jvm, log_dir: str) -> None:
    """Event log for the NEXT SparkContext of this JVM: SparkConf reads
    spark.* system properties when a context starts."""
    from tracing import EVENT_LOG_CONF

    os.makedirs(log_dir, exist_ok=True)
    for key, value in {**EVENT_LOG_CONF, "spark.eventLog.dir": "file:" + log_dir}.items():
        spark_jvm.java.lang.System.setProperty(key, value)


def peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def live_heap_mb(spark) -> float:
    """JVM heap still in use after a full collection: what the program
    keeps (caches, broadcasts, leaks), free of collector timing."""
    jvm = spark._jvm
    for _ in range(2):  # the second pass frees what the ContextCleaner let go
        jvm.java.lang.System.gc()
        time.sleep(0.5)
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return heap.getUsed() / 2**20


def stop_jvm() -> None:
    """Stop the gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


class Loop:
    """Closed-loop timed ops with a per-op check. After HEAP_AFTER_OPS
    ops it reads the live heap once; the deadline moves by that pause."""

    def __init__(self, wl, tr, spark):
        self.wl, self.tr, self.spark = wl, tr, spark
        self.walls: list[float] = []
        self.attempted = self.failed = 0
        self.live_heap_mb = None

    def run(self, seconds: float, op_prefix: str) -> None:
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end or not self.walls:
            self.attempted += 1
            if self.tr.enabled:
                self.tr.op_id = f"{op_prefix}{self.attempted}"
            t0 = time.perf_counter()
            try:
                out = self.wl.op(self.tr)
                self.walls.append(time.perf_counter() - t0)
                ok = self.wl.check(out)
            except Exception:  # a failed op is counted, the loop goes on
                traceback.print_exc()
                if len(self.walls) < self.attempted:
                    self.walls.append(time.perf_counter() - t0)
                ok = False
            if not ok:
                self.failed += 1
            if self.attempted == HEAP_AFTER_OPS:
                t0 = time.perf_counter()
                self.live_heap_mb = live_heap_mb(self.spark)
                t_end += time.perf_counter() - t0


def run(workload: str, seed: int, seconds: float, trace: bool, work: str, out_dir: str):
    import workloads
    from tracing import NullTracer, Tracer, fold_event_log, read_event_log

    wl = workloads.WORKLOADS[workload](seed, work)
    null = NullTracer()
    setup_walls, session_walls = [], []
    untraced = None
    expected = False
    tr = null
    log_dir = os.path.join(work, "eventlog")
    spark = None
    for rep in range(SETUP_REPS):
        last = rep == SETUP_REPS - 1
        if trace and last:
            enable_event_log(spark._jvm, log_dir)
        t0 = time.perf_counter()
        spark = start_session()
        session_walls.append(time.perf_counter() - t0)
        if trace and last:
            tr = Tracer(spark.sparkContext)
            patch_public_calls(tr)
        wl.generate()
        wl.setup(spark, tr)
        wl.warm_up()
        setup_walls.append(time.perf_counter() - t0)
        if trace and rep == SETUP_REPS - 2:
            wl.expect()
            expected = True
            untraced = Loop(wl, null, spark)
            untraced.run(seconds / 2, "untraced-")
        if not last:
            wl.release()
            spark.stop()
    if not expected:
        wl.expect()
    loop = Loop(wl, tr, spark)
    loop.run(seconds / 2 if trace else seconds, "op-")
    rss = peak_rss_mb(spark)
    live = loop.live_heap_mb if loop.live_heap_mb is not None else live_heap_mb(spark)
    info = {
        "workload": workload,
        "seed": seed,
        "trace": int(trace),
        "nproc": int(os.environ["SPARK_GRAFT_CPUS"]),
        "ram_mb": _ram_mb(),
        "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
        "spark_local_dirs": os.environ["SPARK_LOCAL_DIRS"],
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "setup_walls_s": setup_walls,
        "op_walls_s": loop.walls,
        "untraced_op_walls_s": untraced.walls if untraced else None,
        "peak_rss_mb": rss,
    }
    layer = {}
    if trace:
        tr.op_id = "probe"
        layer = {"jvm.peak_rss_mb": rss, **wl.probe(tr)}
    wl.release()
    spark.stop()

    loops = [loop] + ([untraced] if untraced else [])
    attempted = sum(x.attempted for x in loops) + len(wl.probe_checks)
    failed = sum(x.failed for x in loops) + wl.probe_checks.count(False)
    info["error_rate"] = failed / max(attempted, 1)
    op_s = statistics.median(loop.walls)
    if trace:
        os.makedirs(out_dir, exist_ok=True)
        tr.write(os.path.join(out_dir, f"spans-{workload}-{seed}-{os.getpid()}.jsonl"))
        folded = fold_event_log(read_event_log(log_dir), tr.aliases)
        metrics = layer_metrics(layer, folded, session_walls, untraced, op_s)
    else:
        metrics = {
            "setup_s": statistics.median(setup_walls),
            "op_s": op_s,
            "pages_per_s": wl.units / op_s,
            "live_heap_mb": live,
        }
    print(json.dumps(info, default=str))
    units = metric_units()
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def patch_public_calls(tr) -> None:
    """Give public functions the program calls internally their own span
    (for the rest of the process: only the traced session follows)."""
    from insideout_spark.plans import index_build

    inner = index_build.features_df

    def features_df(*args, **kwargs):
        with tr.span("plans.index_build.features_df"):
            return inner(*args, **kwargs)

    index_build.features_df = features_df


def benchmark_metrics(kind: str) -> list[dict]:
    """The ``end_to_end`` or ``per_layer`` entries of BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)[kind]


def metric_units() -> dict:
    return {m["name"]: m["unit"] for kind in ("end_to_end", "per_layer") for m in benchmark_metrics(kind)}


def layer_metrics(layer: dict, folded: dict, session_walls, untraced, op_s) -> dict:
    """Every per-layer metric named in BENCHMARK.json: measured values,
    event-log folds per span, and 0 for layers this workload never runs."""
    from tracing import FOLD_FIELDS

    values = dict(layer)
    values["session.start_s"] = statistics.median(session_walls)
    base = statistics.median(untraced.walls)
    values["trace.op_s_untraced"] = base
    values["trace.op_s_traced"] = op_s
    values["trace.overhead"] = op_s / base
    for span, acc in folded.items():
        for field in FOLD_FIELDS:
            values[f"{span}.{field}"] = acc[field]
    return {m["name"]: values.get(m["name"], 0) for m in benchmark_metrics("per_layer")}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "insideout_spark", "session.py")):
        print("perfbench: the insideout_spark sources are not in " + ROOT, file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.environ.update(host_settings(work))
    try:
        result = run(
            args.workload, args.seed, args.seconds, bool(args.trace), work,
            os.path.join(ROOT, ".bench_out"),
        )
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # only if no other run uses it
            os.rmdir(os.path.dirname(work))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
