"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload medallion_small_batch --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. ``--trace 0`` measures the end-to-end
metrics with no instrumentation; ``--trace 1`` wraps each layer's entry
points in spans and prints the per-layer metrics instead. Scratch data
lives under ``.bench_build/perfbench/`` in the checkout and is removed
at exit; a summary with the seed and every sample is kept there as
``<workload>-seed<N>-trace<T>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time

T_START = time.perf_counter()

import harness  # noqa: E402  (sibling module; the script's directory is on sys.path)

WORKLOAD_NAMES = ("medallion_small_batch", "bronze_fanout")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def driver_mem() -> str:
    """Driver heap: a quarter of physical RAM, at most 2 GiB (the
    session factory's default of 32g exceeds small hosts)."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return f"{min(2048, total_kb // 4096)}m"


def start_spark(work: str, cpus: int):
    """A local[cpus] session whose scratch space stays inside ``work``."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    mem = driver_mem()
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = mem
    # keep the session factory's own JIT flag; add the JVM temp dir, a
    # fixed heap touched in full at start (with a growing heap peak RSS
    # varied 40% between runs, and with an untouched one ~10%), and no
    # hsperfdata file under /tmp from either JVM spark-submit starts
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = (
        f"-XX:-DontCompileHugeMethods -Djava.io.tmpdir={tmp} -Xms{mem} -XX:+AlwaysPreTouch -XX:-UsePerfData"
    )
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    from digital_analytics_data_platform_spark.session import get_spark

    return get_spark(
        "perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


class SparkJobs(harness.JobCounter):
    """Counts jobs per span through job groups and ``statusTracker``."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()

    def enter(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def leave(self, group: str, restore: str | None) -> int:
        n = len(self.tracker.getJobIdsForGroup(group))
        if restore is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(restore, restore)
        return n


def jvm_process():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return gw, getattr(gw, "proc", None)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    gw, proc = jvm_process()
    try:
        spark.stop()
        gw.shutdown()
    finally:
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)


def run(args) -> tuple[str, dict]:
    import workloads as wl
    from metrics import end_to_end, per_layer, pipeline_batches

    spec = harness.load_spec()
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(harness.ROOT, ".bench_build", "perfbench", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        spark = start_spark(work, cpus)
        _, proc = jvm_process()
        tracer = harness.Tracer(SparkJobs(spark.sparkContext)) if args.trace else None
        jvm_s = time.perf_counter() - T_START
        w = wl.WORKLOADS[args.workload](spark, os.path.join(work, "data"), args.seed, tracer)
        w.setup()
        setup_s = time.perf_counter() - T_START
        w.reset_samples()
        if tracer is not None:
            tracer.reset()

        restore = None
        bindings = 0
        bytes0 = wl.dir_bytes(w.lake)
        steal0 = harness.steal_seconds()
        if tracer is not None:
            bindings, restore = harness.install(tracer, wl.trace_targets())
        t0 = time.perf_counter()
        while w.has_next() and (not w.batch_s or time.perf_counter() - t0 < args.seconds):
            w.cycle()
        timed_s = time.perf_counter() - t0
        steal_s = harness.steal_seconds() - steal0
        if restore is not None:
            restore()
        written = wl.dir_bytes(w.lake) - bytes0
        space_amp = wl.dir_bytes(w.lake) / wl.live_bytes(w.lake)
        rss_mb = harness.vm_hwm_mb(proc.pid)

        w.check_all()
        failed_checks = [c for c, ok in w.checks if not ok]
        if args.trace:
            values = per_layer(w, tracer, bindings=bindings, timed_s=timed_s, steal_s=steal_s,
                               written=written, space_amp=space_amp)
        else:
            values = end_to_end(w, setup_s=setup_s, rss_mb=rss_mb)
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "cpus": cpus,
            "setup_s": setup_s,
            "phases_s": {"jvm": jvm_s, **w.phases},
            "timed_s": timed_s,
            "steal_cpu_s": steal_s,
            "batch_s": w.batch_s,
            "lag_s": w.lag_s,
            "point_read_s": w.point_s,
            "range_read_s": w.range_s,
            "compact_s": w.compact_s,
            "failed_checks": failed_checks,
            "metrics": values,
        }
        if tracer is not None:
            detail["pipeline_batches"] = pipeline_batches(w, tracer)
        line = harness.result_line(spec, bool(args.trace), not w.failed, w.attempted, w.failed, values)
        return line, detail
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    # on SIGTERM, unwind through run()'s cleanup: stop the JVM, drop scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # naive datetimes cross the Python/JVM boundary as local time; pin it
    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path.insert(0, harness.ROOT)
    try:
        import digital_analytics_data_platform_spark as pkg
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {harness.ROOT}: {e}", file=sys.stderr)
        return 2
    if os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__))) != harness.ROOT:
        print(f"perfbench: the engine was imported from {pkg.__file__}, not {harness.ROOT}", file=sys.stderr)
        return 2
    line, detail = run(args)
    out = os.path.join(harness.ROOT, ".bench_build", "perfbench",
                       f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as f:
        json.dump(detail, f, indent=1, default=str)
    print(json.dumps({k: detail[k] for k in ("phases_s", "timed_s", "batch_s", "failed_checks")}),
          file=sys.stderr)
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
