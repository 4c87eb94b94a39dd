"""Benchmark entry point.

    python3 perfbench/run.py --workload endpoint_calls --seed 1 --seconds 10 --trace 0

Runs one workload in one process as a closed loop with a single client
on ``local[nproc]``, checks every output, and prints one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` turns on spans and the Spark
event log and reports the per-layer metrics instead. Everything the run
writes goes to a temporary directory under ``.perfbench_runs/`` at the
checkout root, removed at exit. See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: set-up repeats per run: inputs are generated this many times and the
#: median is reported
SETUP_REPEATS = 3


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _session(run_dir: str, nproc: int, trace: bool):
    from gpi_etl_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # keep the JVM's temp files and perf data out of /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={run_dir}/tmp -Dderby.system.home={run_dir} -XX:-UsePerfData",
    }
    if trace:
        os.makedirs(os.path.join(run_dir, "events"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.logBlockUpdates.enabled": "true",
        })
    return get_spark("perfbench", master=f"local[{nproc}]",
                     shuffle_partitions=nproc, extra_conf=conf)


def _stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM to exit; the JVM
    exits when its stdin closes, and takes the Python worker daemon
    with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


class Window:
    """Samples of one measured window."""

    def __init__(self):
        self.latency: list[float] = []
        self.ops: list[str] = []
        #: ``(call, message)`` of each call that raised
        self.errors: list[tuple[int, str]] = []
        self.rows = 0
        self.wall = 0.0


def run_op(wl, call, name, build, tracer, sink: str, written: list, win: Window | None):
    """Call ``call`` of the run, op ``name``: build, (traced: plan),
    write every output."""
    from workloads import Written

    t0 = time.perf_counter()
    with tracer.span(f"op:{name}"):
        outs = build(tracer)
        if tracer.enabled:
            with tracer.span("catalyst.plan"):
                for df, _ in outs.values():
                    df._jdf.queryExecution().executedPlan()
        with tracer.span("sink.write"):
            for out, (df, expected) in outs.items():
                path = os.path.join(sink, out)
                wl.write(df, path)
                written.append(Written(call, name, path, expected))
    if win is not None:
        win.latency.append(time.perf_counter() - t0)
        win.ops.append(name)
        win.rows += wl.input_rows(name)


def measure(wl, tracer, seconds: float, sink_root: str, written: list) -> Window:
    """Whole cycles until ``seconds`` have passed (at least one)."""
    win = Window()
    t0 = time.perf_counter()
    i = 0
    while True:
        for name, build in wl.cycle():
            sink = os.path.join(sink_root, f"{i:05d}")
            try:
                run_op(wl, i, name, build, tracer, sink, written, win)
            except Exception:
                win.errors.append((i, f"{name}: {traceback.format_exc(limit=3)}"))
            i += 1
        if time.perf_counter() - t0 >= seconds:
            break
    win.wall = time.perf_counter() - t0
    return win


def end_to_end(setup_s: float, win: Window) -> dict:
    from stats import hd_median

    if not win.latency:  # every call failed: nothing to time
        return {"setup_s": (setup_s, "s")}
    return {
        "setup_s": (setup_s, "s"),
        "call_p50_s": (hd_median(win.latency), "s"),
        "calls_per_s": (len(win.latency) / win.wall, "1/s"),
        "rows_per_s": (win.rows / win.wall, "1/s"),
    }


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "gpi_etl_spark")):
        print(f"gpi_etl_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    # Python workers import the package too (pandas_udf bodies), so
    # the checkout goes on their path before the JVM starts
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(base, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    os.makedirs(os.path.join(run_dir, "tmp"))
    # Spark's local dirs and every temp file of the driver and its
    # Python workers stay inside the run directory
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    try:
        result = run(args, run_dir, WORKLOADS[args.workload])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def run(args, run_dir: str, workload_cls) -> dict:
    import layers
    from stats import steal_s, vm_hwm_mb
    from spans import Tracer

    nproc = len(os.sched_getaffinity(0))
    trace = bool(args.trace)
    t = time.perf_counter()
    spark = _session(run_dir, nproc, trace)
    session_s = time.perf_counter() - T0
    get_spark_s = time.perf_counter() - t
    try:
        wl = workload_cls(spark, run_dir, args.seed)
        inputs = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            wl.make_inputs()
            inputs.append(time.perf_counter() - t)
        t = time.perf_counter()
        for name, build in wl.warmup():
            run_op(wl, -1, name, build, Tracer(enabled=False),
                   os.path.join(run_dir, "warm", name), [], None)
        warmup_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(inputs) + warmup_s

        written: list = []
        tracer = Tracer(spark.sparkContext, enabled=trace)
        steal = steal_s()
        with tracer.span("run"):
            win = measure(wl, tracer, args.seconds, os.path.join(run_dir, "sink"), written)
        steal = steal_s() - steal
        jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        rss_mb = vm_hwm_mb(jvm_pid)
        t = time.perf_counter()
        mismatches = wl.check(written)
        check_s = time.perf_counter() - t
    finally:
        spark.stop()
        _stop_jvm()

    for _, e in win.errors + mismatches:
        print(e, file=sys.stderr)
    # a call fails once, however many of its outputs are wrong
    attempted = len(win.latency) + len(win.errors)
    failed = len({c for c, _ in win.errors + mismatches})
    if trace:
        (events,) = glob.glob(os.path.join(run_dir, "events", "*"))
        with open(events) as fh:
            metrics, accounts = layers.per_layer(
                wl, tracer, win, fh, written, get_spark_s=get_spark_s,
                warmup_s=warmup_s, failed_ratio=failed / attempted, rss_mb=rss_mb,
                nproc=nproc)
        spans_path = os.path.join(os.path.dirname(run_dir),
                                  f"spans-{args.workload}-{args.seed}.json")
        with open(spans_path, "w") as fh:
            json.dump({"spans": [vars(s) for s in tracer.spans], "ops": accounts}, fh)
    else:
        metrics = end_to_end(setup_s, win)
    for op, lat in sorted(zip(win.ops, win.latency), key=lambda x: -x[1]):
        print(f"  {lat:7.3f}s  {op}", file=sys.stderr)
    print(f"nproc={nproc} calls={len(win.latency)} window={win.wall:.2f}s "
          f"setup: session={session_s:.2f}s inputs={statistics.median(inputs):.2f}s "
          f"warmup={warmup_s:.2f}s check={check_s:.2f}s cpu_steal_in_window={steal:.1f}s",
          file=sys.stderr)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


if __name__ == "__main__":
    sys.exit(main())
