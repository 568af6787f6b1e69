"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_fleet --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed, starts a pinned local Spark session, runs a fixed warm-up, then
closed-loop operations until their summed time reaches ``--seconds``,
checking each operation's output outside the timer. The last stdout line
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). The line before it is the host context.

Everything the run writes goes under ``.perfbench_work/`` in the
current directory and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

#: Session pinning. The program's defaults (local[32], a 24 GiB heap) do
#: not fit a 4-core, 15 GiB machine without swap.
CPUS = min(4, len(os.sched_getaffinity(0)))
DRIVER_MEM = "2g"
#: The heap is committed at its maximum and the young generation fixed, so
#: G1 makes no timing-driven sizing decisions and the JVM's peak RSS
#: follows the workload rather than the host's speed.
HEAP_OPTS = "-Xms2g -Xmn256m"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment(work: str, trace: bool) -> str:
    """Pin the session and keep every file Spark writes inside ``work``.
    Returns the event-log directory (used with tracing only)."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    events = os.path.join(work, "events")
    for d in (local, tmp, events):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    confs = [
        "spark.ui.showConsoleProgress=false",
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} {HEAP_OPTS}",
        f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
    ]
    if trace:
        # get_spark sets none of these keys, so the event log is switched
        # on from outside, with no change to the program.
        confs += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{events}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    args = " ".join(f"--conf '{c}'" for c in confs)
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"
    return events


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def main(argv=None) -> int:
    args = parse_args(argv)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; known: {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.abspath(os.path.join(".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    events = pin_environment(work, bool(args.trace))
    try:
        return run(args, work, events, workloads)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's directory is still there


def run(args, work, events, workloads) -> int:
    # The program is imported before anything is printed: without it (a
    # directory holding only the benchmark) the run fails with no result.
    from be_analytic_etl_spark import registry  # noqa: F401
    from be_analytic_etl_spark.session import get_spark

    import host
    from spans import EventLog, Tracer

    w = workloads.WORKLOADS[args.workload]()

    # -- set-up: cold session start (JVM launch) + input generation, once.
    # A second cold start would cost another JVM launch, and a restart
    # inside the running JVM skips the launch, so neither is repeated.
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    w.prepare(spark, args.seed, os.path.join(work, "inputs"))
    setup_s = time.perf_counter() - t0
    start_s = t1 - t0

    attempted = failed = 0
    errors: list[str] = []
    lock = threading.Lock()

    def attempt(fn) -> bool:
        nonlocal attempted, failed
        with lock:
            attempted += 1
        try:
            fn()
            return True
        except Exception as e:  # an operation that raises or fails its check counts as failed
            with lock:
                failed += 1
                errors.append(f"{type(e).__name__}: {str(e)[:300]}")
            traceback.print_exc(file=sys.stderr)
            return False

    # -- warm-up: a fixed set of checked operations, untimed, untraced ---
    t_warm = time.perf_counter()
    w.warmup(spark, Tracer(spark.sparkContext, enabled=False), attempt)

    # -- measured window -------------------------------------------------
    tr = Tracer(spark.sparkContext, enabled=bool(args.trace))
    t_window = time.perf_counter()
    watch = host.HostWatch()
    lat: dict[str, list[float]] = {}
    busy = 0.0
    units = 0
    op_index = 0
    # the window ends on a round boundary, so every run measures the same
    # mix of operations
    while (busy < args.seconds or op_index % w.round_ops) and failed <= 3:
        tr.op = op_index
        result = {}

        def one():
            t0 = time.perf_counter()
            with tr.span("op", "op"):
                result["key"] = w.run_op(spark, tr)
            result["dt"] = time.perf_counter() - t0
            w.check(spark)

        ok = attempt(one)
        if "dt" in result:
            busy += result["dt"]
            if ok:
                lat.setdefault(result["key"], []).append(result["dt"])
                units += w.units()
        op_index += 1
    host_ctx = watch.finish()
    n_ops = op_index
    host_ctx["phases_s"] = {"warmup": round(t_window - t_warm, 2),
                            "window": round(time.perf_counter() - t_window, 2)}

    peak_rss = jvm_peak_rss_mb(spark)
    app_id = spark.sparkContext.applicationId
    counts = w.layer_counts()
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    # the JVM exits when its stdin closes; wait for it
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)

    samples = sum(len(v) for v in lat.values())
    if args.trace:
        from layers import per_layer_metrics

        log = EventLog(events, app_id)
        metrics = per_layer_metrics(
            tr, log, n_ops, busy, CPUS, counts, lat, session_start=start_s,
        )
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            # geometric mean of per-kind medians: query_mix's members
            # differ by up to 20x, so one member cannot dominate the number
            "latency_s": (statistics.geometric_mean([statistics.median(v) for v in lat.values()])
                          if lat else 0.0, "s"),
            "throughput_per_s": (units / busy if busy else 0.0, "1/s"),
            "peak_rss_mb": (peak_rss, "MB"),
        }
    host_ctx.update(samples=samples, session_start_s=round(start_s, 4),
                    cpus_pinned=CPUS, driver_mem=DRIVER_MEM)
    if w.bypasses:
        host_ctx["bypasses"] = w.bypasses
    if errors:
        host_ctx["errors"] = errors[:5]
    print("host " + json.dumps(host_ctx, sort_keys=True))
    out = {
        "correct": failed == 0 and samples > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
