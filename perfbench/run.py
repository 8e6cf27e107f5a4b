"""CDC engine benchmark: one workload per invocation.

    python3 perfbench/run.py --workload catchup --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Set-up builds the inputs from
``--seed`` with the repo's generator and warms the engine; the timed
window then runs for ``--seconds``; the final lake state is checked
against the reference fold outside any timed region. The last stdout
line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones (tracing off).
With ``--trace 1`` the run measures one untraced window, then one
traced window, then one unit of work at ``local[1]``, and reports the
per-layer metrics (see perfbench/NOTES.md); its spans are written to
``.perfbench/out/``. The line before the result carries the details
(raw samples, host-window evidence, errors).
"""

from __future__ import annotations

import time

T_PROCESS = time.time()  # set-up is timed from process start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# A run that is still going this long after process start is aborted
# and reported as failed, so every run ends within 180 s.
HARD_LIMIT_S = 170.0


def _parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["catchup", "freshness"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def _spark_conf(work: str) -> dict:
    """Sized for the host from here only: a driver heap that fits the
    available memory (the session default of 48g does not), scratch and
    temp dirs inside the work directory, and a status store that
    retains every job and stage of the run for span attribution."""
    from perfbench.hostinfo import mem_available_gb

    heap_gb = max(1, min(4, int(mem_available_gb() // 4)))
    os.environ["SPARK_DRIVER_MEM"] = f"{heap_gb}g"
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    return {
        "spark.driver.memory": f"{heap_gb}g",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work}/tmp -XX:+UseParallelGC"
        ),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.retainedTasks": "1000000",
    }


def _quantile_hi(xs: list[float]) -> dict:
    """The highest percentile with at least 10 samples above it, with
    the sample count; none exists with 10 samples or fewer."""
    xs = sorted(xs)
    n = len(xs)
    if n <= 10:
        return {"value": None, "percentile": None, "n": n}
    i = n - 11
    return {"value": xs[i], "percentile": 100.0 * (i + 1) / n, "n": n}


def end_to_end(samples, setup_s: float, rss_mb: float) -> dict:
    values = {
        "setup_s": (setup_s, "s"),
        "events_per_s": (statistics.median(samples.unit_events_per_s), "1/s"),
        "lag_p50_s": (statistics.median(samples.lags_s), "s"),
        "snapshot_s": (statistics.median(samples.snapshot_s), "s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}


def _shutdown_jvm(timeout: float = 30.0) -> None:
    """Stop Spark and wait for the driver JVM process to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    if proc is None:
        return
    gw.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=timeout)
    except Exception:
        proc.kill()
        proc.wait()


def _jvm_pid():
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def main(argv=None) -> int:
    args = _parse_args(argv)
    try:
        import debezium_spark  # noqa: F401
        from debezium_spark.session import get_spark
    except ImportError as exc:
        print(f"perfbench: engine package not importable: {exc}", file=sys.stderr)
        return 2

    from perfbench import hostinfo, workloads

    out_dir = os.path.join(ROOT, ".perfbench", "out")
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(work)
    conf = _spark_conf(work)
    cores = hostinfo.usable_cores()
    host = hostinfo.HostWindow()
    state = {"rs": None}

    def abort():
        # hung past every per-call timeout: report the run as failed
        rs = state["rs"]
        attempted = max(rs.attempted if rs else 0, 1)
        print(json.dumps({"errors": ["run exceeded hard limit"]}))
        print(json.dumps({"correct": False, "attempted": attempted,
                          "failed": attempted, "metrics": {}}), flush=True)
        pid = _jvm_pid()
        if pid is not None:
            os.kill(pid, 9)
            os.waitpid(pid, 0)
        shutil.rmtree(work, ignore_errors=True)
        os._exit(0)

    watchdog = threading.Timer(HARD_LIMIT_S - (time.time() - T_PROCESS), abort)
    watchdog.daemon = True
    watchdog.start()
    try:
        spark = get_spark("perfbench", cores=cores, extra_conf=conf)
        session_s = time.time() - T_PROCESS
        jvm_pid = _jvm_pid()
        rs = workloads.RunState(spark, work, args.seed)
        state["rs"] = rs
        wl = workloads.WORKLOADS[args.workload](
            rs, args.seconds, windows=2 if args.trace else 1
        )
        wl.prepare()
        setup_wall_s = time.time() - T_PROCESS
        # session start and warm-up once, input generation's median
        setup_s = (
            session_s + statistics.median(wl.phases["gen_s"]) + wl.phases["warmup_s"]
        )
        untraced = wl.measure(args.seconds)
        detail = {"workload": args.workload, "seed": args.seed, "cores": cores,
                  "setup_s": setup_s, "setup_wall_s": setup_wall_s,
                  "session_s": session_s, "phases": wl.phases,
                  "untraced": vars(untraced)}
        if args.trace:
            metrics = traced_run(spark, wl, rs, args, cores, untraced, conf,
                                 out_dir, detail)
        rss = hostinfo.vm_hwm_mb(jvm_pid) + hostinfo.vm_hwm_mb()
        problems = wl.check()
        if not args.trace:
            metrics = end_to_end(untraced, setup_s, rss)
        detail["lag_hi_s"] = _quantile_hi(untraced.lags_s)
    finally:
        watchdog.cancel()
        _shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    if problems:
        # a wrong final state fails every batch of the run
        rs.failed = rs.attempted
    detail.update(problems=problems[:20], errors=rs.errors,
                  failed_ratio=rs.failed / max(rs.attempted, 1),
                  host_window=host.close())
    print(json.dumps(detail, default=float))
    print(json.dumps({
        "correct": not problems and rs.failed == 0,
        "attempted": max(rs.attempted, 1),
        "failed": rs.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


def traced_run(spark, wl, rs, args, cores, untraced, conf, out_dir, detail) -> dict:
    from debezium_spark.session import get_spark
    from perfbench import layers, tracing

    tracer = tracing.Tracer(spark)
    tracer.install_engine_spans()
    t0 = time.time()
    traced = wl.measure(args.seconds)
    t1 = time.time()
    n_window = len(tracer.spans)
    # the same unit of work, traced, at local[nproc] and then at local[1]
    wall_n = wl.baseline_unit()
    tracer.unwrap_all()
    window = tracer.spans[:n_window]
    store = tracing.StatusStore(spark)
    metrics = layers.per_layer(window, store, traced, cores, t1 - t0)
    # tracing overhead: traced against untraced median lag of the same run
    metrics["trace.overhead"] = {
        "value": statistics.median(traced.lags_s) / statistics.median(untraced.lags_s)
        - 1.0,
        "unit": "ratio",
    }
    tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"))
    spark.stop()
    one = get_spark("perfbench-1core", cores=1, extra_conf=conf)
    rs.spark = one
    tracer1 = tracing.Tracer(one)
    tracer1.install_engine_spans()
    wall_1 = wl.baseline_unit()
    tracer1.unwrap_all()
    metrics.update(
        layers.speedups(tracer.spans[n_window:], tracer1.spans, wall_n, wall_1)
    )
    detail["traced"] = vars(traced)
    detail["baseline_wall_s"] = {"local_n": wall_n, "local_1": wall_1}
    return metrics


if __name__ == "__main__":
    sys.exit(main())
