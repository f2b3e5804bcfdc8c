"""Benchmark command: run one workload for a fixed time and print its
metrics as the last line of standard output.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` prints the per-layer metrics of a traced
window (see README.md). Exits non-zero, printing no result, when the
engine package is not beside this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# set-ups per run; setup_s is their median
SETUPS = 3


def _pin_environment(work: str) -> int:
    """Pin the engine's knobs for a reproducible run: every
    ``SPARK_GRAFT_*`` override is dropped and the thread count set to
    this host's CPU count. Temporary files stay inside ``work``."""
    from perfbench import stats

    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    cpus = stats.cpu_count()
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    return cpus


def _session(work: str, event_log: str | None):
    from citybikedatawarehouse_spark.session import get_spark

    from perfbench.trace import EVENT_LOG_CONF

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(EVENT_LOG_CONF)
        conf["spark.eventLog.dir"] = "file://" + event_log
    return get_spark(app_name="perfbench", extra_conf=conf)


def _stop_jvm() -> None:
    """Shut the driver JVM down and wait until it has exited (it would
    otherwise outlive this process briefly)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _measure(wl, seconds: float) -> tuple[int, float, int]:
    """Closed loop of whole rounds of the workload: at least one, and
    as many as it takes to fill ``seconds``. Every round holds the
    same mix of operations. Returns (operations completed, elapsed
    seconds, rounds)."""
    n0 = len(wl.ops)
    rounds = 0
    t0 = time.perf_counter()
    while True:
        wl.step()
        if wl.round_done():
            rounds += 1
            elapsed = time.perf_counter() - t0
            if elapsed >= seconds:
                return len(wl.ops) - n0, elapsed, rounds


def _end_to_end(wl, setups, n_ops, elapsed, live_mb) -> dict:
    from perfbench import stats

    tail, pct, n = stats.tail(wl.ops)
    return {
        "setup_s": (stats.median(setups), "s"),
        "op_mean_s": (statistics.fmean(wl.ops), "s"),
        "ops_per_s": (n_ops / elapsed, "1/s"),
        "live_heap_mb": (live_mb, "MB"),
        "success_rate": (1.0 - wl.failed / max(1, wl.attempted), "ratio"),
    }, {"op_p50_s": stats.median(wl.ops), "op_tail_s": tail, "tail_percentile": pct, "samples": n}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "citybikedatawarehouse_spark")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import layers, stats, trace
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    base = os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cpus = _pin_environment(work)
    meta = {"workload": args.workload, "seed": args.seed, "cpus": cpus, "trace": args.trace}
    meta["calib_par_before_s"] = stats.calib_par(cpus)
    ticks0 = stats.cpu_ticks()

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    spark = None
    try:
        setups = []
        for k in range(SETUPS):
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = _session(work, None)
            wl = WORKLOADS[args.workload](args.seed, trace.Tracer(run_id, False))
            setup_dir = os.path.join(work, f"setup{k}")
            os.makedirs(setup_dir)
            wl.setup(spark, setup_dir)
            setups.append(time.perf_counter() - t0)
        meta["setups_s"] = setups
        # one untimed operation on the window's session, so the window
        # pays neither first-use compilation nor a cold session
        t0 = time.perf_counter()
        wl.warm()
        meta["warm_s"] = time.perf_counter() - t0
        t_window = time.perf_counter()

        if not args.trace:
            n_ops, elapsed, meta["rounds"] = _measure(wl, args.seconds)
            wl.finish()
        else:
            # one untimed round, so that the untraced half runs as warm
            # as the traced half after it; then an untraced half and a
            # traced half on a fresh session whose event log feeds the
            # per-layer numbers
            _measure(wl, 0.0)
            half = args.seconds / 2.0
            n_a, _, _ = _measure(wl, half)
            untraced = list(wl.ops[-n_a:])
            spark.stop()
            log_dir = os.path.join(work, "eventlog")
            spark = _session(work, log_dir)
            wl.spark = spark
            wl.tracer = trace.Tracer(run_id, True)
            wl.tracer.bind(spark)
            wl.warm()
            wl.tracer.spans.clear()
            n_b, _, _ = _measure(wl, half)
            traced = list(wl.ops[-n_b:])
            wl.finish()
            tracer = wl.tracer
            wl.tracer = trace.Tracer(run_id, False)

        # peak memory of the engine's work, before the checks add
        # their own
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        meta["peak_rss_mb"] = {"jvm": stats.vm_hwm_mb(jvm_pid), "python": stats.vm_hwm_mb()}
        meta["heap_peaks_mb"] = stats.jvm_heap_peaks_mb(spark)
        live_mb = stats.live_heap_mb(spark)
        t_check = time.perf_counter()
        meta["window_and_finish_s"] = t_check - t_window
        wl.check()
        meta["check_s"] = time.perf_counter() - t_check
        spark.stop()
        spark = None

        steal, total = (b - a for a, b in zip(ticks0, stats.cpu_ticks()))
        meta["cpu_steal_share"] = steal / max(1, total)
        meta["calib_par_after_s"] = stats.calib_par(cpus)
        meta["workload_summary"] = wl.summary()
        meta["failures"] = wl.failures[:20]
        if not args.trace:
            metrics, tail_meta = _end_to_end(wl, setups, n_ops, elapsed, live_mb)
            meta.update(tail_meta)
        else:
            metrics, trace_meta = layers.per_layer(wl, tracer, log_dir, untraced, traced)
            meta.update(trace_meta)
            trace_dir = os.path.join(base, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            dump_path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
            trace.dump(tracer.spans, dump_path)
            meta["trace_dump"] = os.path.relpath(dump_path)
    finally:
        if spark is not None:
            spark.stop()
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"meta": meta}))
    print(
        json.dumps(
            {
                "correct": wl.failed == 0,
                "attempted": wl.attempted,
                "failed": wl.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
