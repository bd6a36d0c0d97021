#!/usr/bin/env python3
"""Run one benchmark workload for one seed.

    python3 perfbench/run.py --workload table_serve --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The workload generates its inputs from
the seed, sets up (Spark session, pre-build, warmup), runs a closed
loop from one client thread for ``--seconds``, then checks every
result against a DuckDB reference. Lines starting with ``#`` describe
the host, the inputs and the full report; the last line is the JSON
result: the ``end_to_end`` metrics of ``BENCHMARK.json`` with
``--trace 0``, its ``per_layer`` metrics with ``--trace 1``. A traced
run also writes its spans to ``.perfbench/spans/``.

Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# driver heap pinned well below the host's memory; the engine default
# (48g) assumes a dedicated machine
DRIVER_MEM = "2g"
# the small-plan dial sits below every table store, from its ~10 MiB
# root down to each ~2.5 MiB partition, so table calls always take the
# engine's large-input plans; the index stores (<200 KiB) stay under it.
# A store that crossed the dial mid-run would change plan shape with
# the seed.
SMALL_PLAN_BYTES = 1024 * 1024
CANARY_BAND = 1.5
UNITS = {
    "setup_s": "s", "ops_per_s": "1/s", "error_rate": "ratio",
    "rows_in_per_s": "1/s", "write_amp": "ratio", "space_amp": "ratio",
    "peak_rss_mb": "MB",
}


def _unit(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    if name.endswith("_s"):
        return "s"
    if name.endswith(("bytes", "bytes_written")):
        return "bytes"
    if name.endswith("ratio"):
        return "ratio"
    if name.endswith("_pct"):
        return "%"
    return "count"


def _workload(name: str):
    if name in ("table_serve", "table_ingest"):
        from perfbench.table import TableWorkload

        return TableWorkload(name, "cow" if name == "table_serve" else "mor")
    if name == "index_maintain":
        from perfbench.index import IndexWorkload

        return IndexWorkload()
    if name == "etl_queries":
        from perfbench.etl import EtlWorkload

        return EtlWorkload()
    raise SystemExit(f"unknown workload {name!r}")


def _drives(workload, metric: str) -> bool:
    """Whether the workload makes the call a per-layer metric names, or
    calls into the layer of a ``<layer>.self_s``, or the metric is one
    every traced run has; such a metric must be in its traced run."""
    if metric.startswith(("session.", "trace.", "bench.", "store.")):
        return True
    return any(
        metric.startswith(call + ".") or metric == call.rsplit(".", 1)[0] + ".self_s"
        for call in workload.calls
    )


def select(wanted: list[dict], metrics: dict, workload, traced: bool) -> dict:
    """The result's metrics: each ``wanted`` one, by name with its unit.
    A missing metric ends the run, except a per-layer metric of a call
    the workload never makes: that one is predicted flat and reads 0."""
    out = {}
    for m in wanted:
        name = m["name"]
        if name in metrics:
            value = metrics[name]
        elif traced and not _drives(workload, name):
            value = 0.0
        else:
            raise SystemExit(f"metric {name} missing from the {workload.name} run")
        out[name] = {"value": value, "unit": m["unit"]}
    return out


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _loadavg() -> float:
    return os.getloadavg()[0]


def _canary(spark) -> float:
    """Median of three runs of a fixed CPU-bound job. It runs on a warm
    JVM just before and just after the timed window; a run whose closing
    canary is much slower than its opening one shared the host with
    other load."""
    def once() -> float:
        t = time.perf_counter()
        spark.range(0, 4_000_000, 1, 4).selectExpr("sum(id * 7 % 13)").collect()
        return time.perf_counter() - t

    return statistics.median(once() for _ in range(3))


def _adopt_orphans() -> None:
    """Make this process the parent of every orphan among its
    descendants (Linux PR_SET_CHILD_SUBREAPER). The Python workers the
    JVM starts then become its children when the JVM exits, and the run
    can wait for each of them."""
    try:
        import ctypes

        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _children() -> list[int]:
    """Pids whose parent is this process, zombies included."""
    me, out = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the fields after the ")" that closes the command name: state, ppid
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            out.append(int(d))
    return out


def _end_processes(grace_s: float = 60.0) -> None:
    """Stop the Spark JVM and wait until every process the run started
    has ended. The JVM exits when its stdin closes; the workers it
    started exit when it does. Whatever is still there after
    ``grace_s`` is sent SIGTERM, and SIGKILL 10 s later."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None and proc.stdin is not None:
        proc.stdin.close()
    start = time.monotonic()
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        left = _children()
        if not left:
            return
        waited = time.monotonic() - start
        if waited > grace_s:
            sig = signal.SIGKILL if waited > grace_s + 10 else signal.SIGTERM
            for pid in left:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def _env(work: str) -> None:
    """Point every temporary directory into the run's own directory and
    pin the engine's dials; must run before the engine is imported."""
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_SMALL_PLAN_BYTES"] = str(SMALL_PLAN_BYTES)
    os.environ.pop("SPARK_GRAFT_MASTER", None)


def _spark_conf(work: str) -> dict:
    tmp = os.path.join(work, "tmp")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    _env(work)
    # the program under test is the checkout's own copy
    import parquet_demo_spark

    if not os.path.abspath(parquet_demo_spark.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"parquet_demo_spark is not the checkout's: {parquet_demo_spark.__file__}")

    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.environ["TMPDIR"])
    workload = _workload(args.workload)
    load_start = _loadavg()
    _adopt_orphans()
    try:
        report, counts = _run(args, workload, work)
    finally:
        _end_processes()
        shutil.rmtree(work, ignore_errors=True)
    report["host"]["loadavg_start"] = load_start
    report["host"]["loadavg_end"] = _loadavg()
    print("# host: " + json.dumps(report.pop("host"), sort_keys=True))
    print("# inputs: " + json.dumps(report.pop("inputs"), sort_keys=True, default=str))
    metrics = report.pop("metrics")
    print("# report: " + json.dumps(
        {k: {"value": v, "unit": _unit(k)} for k, v in sorted(metrics.items())},
        default=str,
    ))
    for k, v in sorted(report.items()):
        print(f"# {k}: " + json.dumps(v, sort_keys=True, default=str))
    out = select(wanted, metrics, workload, bool(args.trace))
    attempted, failed, correct = counts
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": out}))
    return 0


def _run(args, workload, work: str):
    from parquet_demo_spark.session import get_spark, stop_spark

    from perfbench.counters import Recorder
    from perfbench.loop import errors

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench_{args.workload}", extra_conf=_spark_conf(work))
    session_s = time.perf_counter() - t0
    try:
        t1 = time.perf_counter()
        inputs = workload.setup(spark, args.seed, work)
        t2 = time.perf_counter()
        warm = workload.warmup()
        t3 = time.perf_counter()
        setup_s = session_s + t3 - t1
        canary_start = _canary(spark)
        t3a = time.perf_counter()

        rec = Recorder(spark, traced=bool(args.trace))
        m = workload.run(rec, args.seconds)
        window = workload.window
        t4 = time.perf_counter()
        canary_end = _canary(spark)
        t5 = time.perf_counter()
        attempted, wrong, end = workload.check()
        t6 = time.perf_counter()
        # ops that raised, in the warmup as in the timed runs
        failed = wrong + errors(workload.log)
        jvm_pid = spark._jvm.ProcessHandle.current().pid()
        rss_mb = (_vm_hwm_kb(os.getpid()) + _vm_hwm_kb(jvm_pid)) / 1024
    finally:
        stop_spark()
    # where a run's wall clock goes
    phases = {
        "session": session_s, "build": t2 - t1, "warmup": t3 - t2,
        "canary_start": t3a - t3, "timed": t4 - t3a, "canary_end": t5 - t4, "check": t6 - t5,
        "stop": time.perf_counter() - t6,
    }

    metrics = dict(m)
    metrics.update({k: v for k, v in end.items() if isinstance(v, (int, float))})
    metrics["setup_s"] = setup_s
    metrics["peak_rss_mb"] = rss_mb
    metrics["error_rate"] = failed / attempted
    metrics["session.start_s"] = session_s
    metrics["setup.build_s"] = t2 - t1  # inputs and pre-build
    metrics["setup.warmup_s"] = t3 - t2
    if args.trace:
        metrics.update(rec.call_metrics())
        for layer, s in rec.self_times().items():
            metrics[f"{layer}.self_s"] = s
        # the window's ops per second without the recorder's own time. A
        # second, untraced cycle would not compare: ops that run cold in
        # the traced cycle run warm in the next one
        untraced = m["ops"] / (m["busy_s"] - rec.overhead_s) if m["ops"] else 0.0
        metrics["trace.overhead_s"] = rec.overhead_s
        metrics["trace.untraced_ops_per_s"] = untraced
        metrics["trace.ops_per_s_delta"] = m["ops_per_s"] - untraced
        span_dir = os.path.join(ROOT, ".perfbench", "spans")
        rec.write_spans(os.path.join(span_dir, f"{args.workload}-seed{args.seed}.jsonl"))
    host = {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_heap": DRIVER_MEM,
        "small_plan_bytes": SMALL_PLAN_BYTES,
        "canary_start_s": canary_start,
        "canary_end_s": canary_end,
        "contaminated": canary_end > CANARY_BAND * canary_start,
    }
    report = {
        "host": host,
        "inputs": inputs,
        "metrics": metrics,
        "phases_s": phases,
        "warmup_op_s": warm,
        "window_op_s": window,
        "end_state": {k: v for k, v in end.items() if not isinstance(v, (int, float))},
    }
    return report, (attempted, failed, failed == 0)


if __name__ == "__main__":
    sys.exit(main())
